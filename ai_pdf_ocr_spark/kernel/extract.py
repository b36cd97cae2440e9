"""Batch extraction driver: Arrow record batches of (doc_id, spans) ->
(doc_id, spans_out, per-doc metrics).

This is the body of the engine's single fused Arrow stage (SURVEY.md
§2.9 ``decode_spans`` + ``extract_spans``): the whole batch is
flattened once, decoded vectorized, then grouped per (doc, page) for
the layout kernel.  Pages within a doc are processed in ascending page
order with arrival order = the span ``offset`` field (permutation of
the spans array does not change output).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from .decode import decode_flat
from .layout import (SMALL_PAGE, pair_predicates, process_page,
                     process_page_fast)

KERNEL_VERSION = "1.2.0"

# upper-triangle (i<j, row-major) index cache per page size: the same
# (i asc, j asc) visit order as the reference's nested loops
_TRI_CACHE: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def _tri(n: int) -> tuple[np.ndarray, np.ndarray]:
    got = _TRI_CACHE.get(n)
    if got is None:
        got = _TRI_CACHE[n] = np.triu_indices(n, k=1)
    return got

_METRIC_COLS = ("span_count_in", "span_count_out", "malformed",
                "merged_away", "dedup_removed", "filtered")


def _extract_core(n_docs: int, counts: np.ndarray, kinds, texts, mrefs,
                  offs) -> tuple:
    """Extraction over flat per-span arrays (already doc-concatenated).

    Returns (out_counts, flat out_kind/out_text/out_ref/out_order
    lists, metrics dict of int64 arrays).  Output spans are FLAT,
    concatenated in doc order (doc i's spans occupy out slots
    sum(out_counts[:i])... — the page loop visits (doc, page) groups in
    ascending sorted order, so appending to flat lists is already
    doc-major; the per-doc nested lists + final flatten of round 1 cost
    an extra pass over every output value).
    """
    total = int(counts.sum())
    doc_of = np.repeat(np.arange(n_docs), counts)

    dec, valid = decode_flat({"kind": kinds, "text": texts,
                              "media_ref": mrefs, "offset": offs})

    metrics = {c: np.zeros(n_docs, np.int64) for c in _METRIC_COLS}
    metrics["span_count_in"] = counts.astype(np.int64)
    if total:
        metrics["malformed"] = np.bincount(
            doc_of[~valid], minlength=n_docs).astype(np.int64)

    out_counts = np.zeros(n_docs, np.int64)
    out_kind: list = []
    out_text: list = []
    out_ref: list = []
    out_order: list = []

    if len(dec["page"]):
        d_doc = doc_of[valid]
        d_page = dec["page"]
        d_off = dec["offset"]
        # (doc, page) groups with within-page arrival = offset order
        order = np.lexsort((d_off, d_page, d_doc))
        d_doc = d_doc[order]
        d_page = d_page[order]
        x0 = dec["x0"][order]
        y0 = dec["y0"][order]
        x1 = dec["x1"][order]
        y1 = dec["y1"][order]
        conf = dec["conf"][order]
        direction = dec["direction"][order]
        okind = dec["out_kind"][order]
        content = dec["content"][order]
        oref = dec["out_media_ref"][order]

        # group boundaries where (doc, page) changes
        change = np.empty(len(d_doc), bool)
        change[0] = True
        change[1:] = (d_doc[1:] != d_doc[:-1]) | (d_page[1:] != d_page[:-1])
        starts = np.nonzero(change)[0]
        ends = np.append(starts[1:], len(d_doc))

        # ---- batched pairwise candidates over all small pages --------
        # The O(n^2) merge (J3) and dedupe (J2) PREDICATES are pure
        # float math -> evaluated here once (layout.pair_predicates) for
        # every (i<j) pair of every small page as flat numpy arrays.
        # Only the order-dependent greedy STATE MACHINES stay per-page
        # (process_page_fast), walking the candidate pairs; pairs whose
        # geometry the merge stage changed are recomputed there around
        # the merged blocks only.
        sizes = ends - starts
        merge_map: dict[int, list[tuple[int, int]]] = {}
        dd_map: dict[int, list[tuple[int, int]]] = {}
        pairable = np.nonzero((sizes >= 2) & (sizes <= SMALL_PAGE))[0]
        if len(pairable):
            pi_parts = []; pj_parts = []; li_parts = []; lj_parts = []
            n_pairs = np.empty(len(pairable), np.int64)
            for k, g in enumerate(pairable):
                ti, tj = _tri(int(sizes[g]))
                s = starts[g]
                pi_parts.append(ti + s); pj_parts.append(tj + s)
                li_parts.append(ti); lj_parts.append(tj)
                n_pairs[k] = len(ti)
            PI = np.concatenate(pi_parts); PJ = np.concatenate(pj_parts)
            LI = np.concatenate(li_parts); LJ = np.concatenate(lj_parts)
            pair_off = np.concatenate(([0], np.cumsum(n_pairs)))
            mg, dd, small, large = pair_predicates(
                PI, PJ, x0, y0, x1, y1, okind == "text",
                pd.factorize(direction)[0])

            # group candidate pairs per page WITHOUT a per-pair Python
            # loop: hit indices are ascending, so one searchsorted
            # yields each page's slice, and zip over list slices builds
            # the pair lists in C (the per-pair dict-append loop was
            # the top _extract_core cost once heavy 100-160-span pages
            # started routing through the batched stage)
            def _per_page(hits, firsts, seconds):
                if not len(hits):
                    return {}
                gs = np.searchsorted(pair_off, hits, side="right") - 1
                cut = np.nonzero(np.diff(gs))[0] + 1
                pages = pairable[gs[np.concatenate(([0], cut))]].tolist()
                bounds = np.concatenate(([0], cut, [len(hits)])).tolist()
                fl, sl = firsts.tolist(), seconds.tolist()
                return {g: list(zip(fl[a:b], sl[a:b]))
                        for g, a, b in zip(pages, bounds, bounds[1:])}

            merge_map = _per_page(mg, LI[mg], LJ[mg])
            # dedupe candidates for EVERY small page (merge-bearing ones
            # included: geometry-untouched pairs stay valid; pairs
            # around merged blocks are recomputed in process_page_fast).
            # Directed (small, large) BATCH-GLOBAL indices.
            dd_map = _per_page(dd, small, large)

        # one pre-zipped block-tuple list for the whole batch (tuple
        # field 9 = batch-global index, keyed by the dd candidates);
        # per page the fast path gets ONE list slice instead of nine
        all_blocks = list(zip(
            x0.tolist(), y0.tolist(), x1.tolist(), y1.tolist(),
            conf.tolist(), direction.tolist(), okind.tolist(),
            content.tolist(), oref.tolist(), range(len(x0))))

        for gi, (s, e) in enumerate(zip(starts, ends)):
            di = int(d_doc[s])
            if e - s <= SMALL_PAGE:
                ks, ts, rs, orders, st = process_page_fast(
                    all_blocks[s:e], merge_map.get(gi), dd_map.get(gi))
            else:
                ks, ts, rs, orders, st = process_page(
                    x0[s:e], y0[s:e], x1[s:e], y1[s:e], conf[s:e],
                    direction[s:e], okind[s:e], content[s:e], oref[s:e])
            out_counts[di] += len(ks)
            out_kind.extend(ks)
            out_text.extend(ts)
            out_ref.extend(rs)
            out_order.extend(orders)
            for key in ("merged_away", "dedup_removed", "filtered"):
                metrics[key][di] += st[key]

    metrics["span_count_out"] = out_counts
    return out_counts, out_kind, out_text, out_ref, out_order, metrics


_OUT_SPAN_PA = pa.struct([
    pa.field("kind", pa.string()),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("order", pa.int32()),
])


def extract_record_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    """Arrow-native batch extraction: the list<struct> spans column is
    flattened zero-copy (no per-span Python dicts in either direction —
    the pandas dict marshaling was ~5x the kernel cost)."""
    n_docs = rb.num_rows
    doc_id = rb.column("doc_id")
    spans = rb.column("spans")
    counts = spans.value_lengths().fill_null(0).to_numpy(
        zero_copy_only=False).astype(np.int64)
    values = spans.flatten()  # StructArray, slice/offset-aware
    kinds = values.field("kind").to_numpy(zero_copy_only=False)
    texts = values.field("text").to_numpy(zero_copy_only=False)
    mrefs = values.field("media_ref").to_numpy(zero_copy_only=False)
    offs_pa = values.field("offset")
    offs = offs_pa.fill_null(-1).to_numpy(zero_copy_only=False) \
        .astype(np.int64)

    out_counts, ok, ot, orf, oo, metrics = _extract_core(
        n_docs, counts, kinds, texts, mrefs, offs)

    # assemble output list<struct> directly from the flat arrays +
    # offsets (the core emits doc-major flat lists — no flatten pass)
    flat_kind = pa.array(ok, type=pa.string())
    flat_text = pa.array(ot, type=pa.string())
    flat_ref = pa.array(orf, type=pa.string())
    flat_order = pa.array(oo, type=pa.int32())
    struct = pa.StructArray.from_arrays(
        [flat_kind, flat_text, flat_ref, flat_order],
        fields=list(_OUT_SPAN_PA))
    offsets = pa.array(np.concatenate(([0], np.cumsum(out_counts))),
                       type=pa.int32())
    spans_out = pa.ListArray.from_arrays(offsets, struct)
    cols = [doc_id, spans_out] + \
        [pa.array(metrics[c], type=pa.int64()) for c in _METRIC_COLS]
    return pa.RecordBatch.from_arrays(
        cols, names=["doc_id", "spans", *_METRIC_COLS])
