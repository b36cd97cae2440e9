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

Input columns:  kind, text, media_ref, offset
Output: the valid subset with page:int64 (object past int64),
x0..y1/conf:float64, direction, out_kind ('text'|'media'), content,
out_media_ref, offset columns.
"""

from __future__ import annotations

from collections.abc import Mapping

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


def decode_flat(flat: Mapping) -> tuple[dict[str, np.ndarray], np.ndarray]:
    """Decode payloads; returns (dict of valid-row arrays, valid_mask).

    One RE2 ``extract_regex`` over the whole batch plus Arrow casts —
    no per-row Python for payloads the strict grammar accepts (all but
    ~0.7 % of the generator's spans, all of them malformed).  The rest
    go through ``_parse_payload`` and are spliced in place; a malformed
    row is dropped, never raised (the per-unit error isolation rule,
    /root/reference/main.py:263-275).  The output is a plain column
    dict (not a DataFrame): block consolidation in the DataFrame
    constructor measured ~15% of the whole kernel.
    """
    kind_arr = np.asarray(flat["kind"], dtype=object)
    text_arr = np.asarray(flat["text"], dtype=object)
    mref_arr = np.asarray(flat["media_ref"], dtype=object)
    off_arr = np.asarray(flat["offset"])
    if len(text_arr) == 0:
        return {c: np.array([], dtype=object) for c in
                (*_PARSED, "out_kind", "out_media_ref", "offset")}, \
            np.zeros(0, bool)

    text_pa = pa.array(text_arr, type=pa.string(), from_pandas=True)
    notna = ~text_pa.is_null().to_numpy(zero_copy_only=False)
    ext = pc.extract_regex(text_pa, _PAYLOAD_RE)
    fast = ext.is_valid().to_numpy(zero_copy_only=False)

    kind_media = kind_arr == "raw_media"
    valid = fast & ((kind_arr == "raw_text") | kind_media)

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
    fb, parsed = [], []
    for i in np.nonzero(notna & ~fast)[0].tolist():
        row = _parse_payload(kind_arr[i], text_arr[i])
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

    cols["out_kind"] = np.where(kind_media, "media", "text")
    cols["out_media_ref"] = np.where(kind_media, mref_arr, None)
    cols["offset"] = off_arr
    if valid.all():
        return cols, valid
    return {c: a[valid] for c, a in cols.items()}, valid
