"""Vectorized raw-span payload decode.

The batched analog of the reference's byte-stream decode + OCR-result
parse (``/root/reference/ocr_processor.py:61-105`` pixmap decode,
``:335-398`` quad->bbox + lenient defaults): one Arrow C++ regex pass
over a *flat* frame of spans (``pc.extract_regex`` + Arrow
string->float64 casts, verified bit-identical to CPython ``float()``
on 200k random doubles).  The rare payloads the strict ASCII grammar
rejects (malformed heads; whitespace-padded, unicode-digit or
underscore numbers; ``inf``/``nan``) are parsed one row at a time by
``_parse_payload``, a transcription of ``tests/oracle.py::parse_span``,
so the kernel matches the spec on every input.  A page outside int64
switches the page column to Python ints (object dtype): sorting and
grouping by page stay exact.

Input: the flattened span struct (kind, text, media_ref, offset),
read as Arrow; only the rows the strict grammar rejects become Python
strings.
Output: full-length page:int64 (object past int64),
x0..y1/conf:float64, direction, out_kind ('text'|'media'), content,
out_media_ref and offset columns, plus the ``valid`` mask.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# strict ASCII float (no whitespace/underscores/inf/nan: those rows take
# the per-row CPython path)
_F = r"[+-]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)(?:[eE][+-]?[0-9]+)?"
# full payload grammar (FIXTURES.md §1.1):
#   <page>;<x0>,<y0>,<x1>,<y1>[;<conf>[;<direction>]]|<content>
# every group before the pipe excludes '|', so the match anchors on the
# FIRST pipe exactly like str.partition("|") in the oracle.
_PAYLOAD_RE = (
    # page: no '+' sign (Arrow's int64 cast rejects it -> per-row path)
    r"(?s)^(?P<page>-?[0-9]{1,15});"
    rf"(?P<x0>{_F}),(?P<y0>{_F}),(?P<x1>{_F}),(?P<y1>{_F})"
    # dir nests INSIDE conf: a 3rd segment is always conf, never dir
    rf"(?:;(?P<conf>{_F}|)(?:;(?P<dir>[^;|]*))?)?\|(?P<content>.*)$"
)

# the fields _parse_payload returns, in order
_PARSED = ("page", "x0", "y0", "x1", "y1", "conf", "direction", "content")
_INT64 = range(-2 ** 63, 2 ** 63)


def _parse_payload(kind: str, text: str) -> tuple | None:
    """One payload under CPython ``int()``/``float()`` semantics, as
    ``tests/oracle.py::parse_span`` reads it; None = malformed.

    Lenient defaults mirror /root/reference/ocr_processor.py:371-372
    (conf -> 1.0) and /root/reference/data_structures.py:102-103
    (direction -> 'horizontal')."""
    head, sep, content = text.partition("|")
    parts = head.split(";")
    if not sep or not 2 <= len(parts) <= 4 \
            or kind not in ("raw_text", "raw_media"):
        return None
    try:
        page = int(parts[0])
        coords = [float(c) for c in parts[1].split(",")]
        conf = float(parts[2]) if len(parts) >= 3 and parts[2] else 1.0
    except ValueError:
        return None
    if len(coords) != 4:
        return None
    direction = parts[3] if len(parts) == 4 and parts[3] else "horizontal"
    return (page, *coords, conf, direction, content)


def decode_flat(spans: pa.StructArray) -> tuple[dict, np.ndarray]:
    """Decode every span of ``spans``; returns (dict of full-length
    columns, valid_mask).  Rows where ``valid`` is False hold fill
    values.

    One RE2 ``extract_regex`` over the Arrow ``text`` column plus Arrow
    casts — no per-row Python for payloads the strict grammar accepts
    (all but ~0.7 % of the generator's spans, all of them malformed).
    Only the rows it rejects become Python strings, parsed by
    ``_parse_payload`` and spliced in place; a malformed row is marked
    invalid, never raised (the reference's per-unit error isolation
    rule, ``main.py:263-275``).  The output is a plain column
    dict (not a DataFrame): block consolidation in the DataFrame
    constructor measured ~15% of the whole kernel.
    """
    kind, text = spans.field("kind"), spans.field("text")
    ext = pc.extract_regex(text, _PAYLOAD_RE)
    fast = ext.is_valid().to_numpy(zero_copy_only=False)
    notna = text.is_valid().to_numpy(zero_copy_only=False)

    def _is(k: str) -> np.ndarray:
        return pc.equal(kind, k).fill_null(False) \
            .to_numpy(zero_copy_only=False)

    media = _is("raw_media")
    valid = fast & (_is("raw_text") | media)

    def _num(name: str, typ) -> np.ndarray:
        col = pc.struct_field(ext, name)
        if name == "conf":
            col = pc.if_else(pc.equal(col, ""), pa.scalar(None, pa.string()),
                             col)
        out = pc.cast(col, typ)
        fill = 0 if typ == pa.int64() else (1.0 if name == "conf"
                                            else float("nan"))
        return out.fill_null(fill).to_numpy(zero_copy_only=False)

    cols = {"page": _num("page", pa.int64())}
    for c in ("x0", "y0", "x1", "y1", "conf"):
        cols[c] = _num(c, pa.float64())
    dirs = pc.struct_field(ext, "dir")
    dirs = pc.if_else(pc.equal(dirs, ""), pa.scalar("horizontal"), dirs)
    cols["direction"] = dirs.fill_null("horizontal") \
        .to_numpy(zero_copy_only=False)
    cols["content"] = pc.struct_field(ext, "content").fill_null("") \
        .to_numpy(zero_copy_only=False)

    # the strict grammar's residue, one CPython parse per row
    idx = np.flatnonzero(notna & ~fast)
    fb, parsed = [], []
    for i, k, t in zip(idx.tolist(), kind.take(idx).to_pylist(),
                       text.take(idx).to_pylist()):
        row = _parse_payload(k, t)
        if row is not None:
            fb.append(i)
            parsed.append(row)
    if fb:
        wide = any(row[0] not in _INT64 for row in parsed)
        for c, vals in zip(_PARSED, zip(*parsed)):
            # astype copies: arrow's to_numpy may be a read-only view
            cols[c] = cols[c].astype(
                object if wide and c == "page" else cols[c].dtype)
            cols[c][fb] = vals
        valid[fb] = True

    cols["out_kind"] = np.where(media, "media", "text")
    # not pc.if_else: on a sliced string column (pyarrow 16.1) it
    # returns wrong bytes for some of the selected rows
    cols["out_media_ref"] = np.where(
        media, spans.field("media_ref").to_numpy(zero_copy_only=False), None)
    cols["offset"] = spans.field("offset").fill_null(-1) \
        .to_numpy(zero_copy_only=False).astype(np.int64)
    return cols, valid
