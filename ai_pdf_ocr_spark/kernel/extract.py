"""Batch extraction driver: Arrow record batches of (doc_id, spans) ->
(doc_id, spans_out, per-doc metrics).

This is the body of the engine's single fused Arrow stage (SURVEY.md
§2.9 ``decode_spans`` + ``extract_spans``).  The batch's spans column
is flattened once, and ``decode_flat`` reads the flat span struct's
kind/text/media_ref/offset columns as Arrow, returning full-length
decoded columns plus a ``valid`` mask.  The valid rows are sorted once
by (doc, page, offset) and grouped per (doc, page) for the layout
kernel.  Pages within a doc are processed in ascending page
order with arrival order = the span ``offset`` field (permutation of
the spans array does not change output).
"""

from __future__ import annotations

from itertools import chain
from operator import itemgetter

import numpy as np
import pandas as pd
import pyarrow as pa

from .decode import decode_flat
from .layout import (SMALL_PAGE, dedupe_pairs, finish_page, merge_pairs,
                     page_candidates, process_page, process_page_fast)

KERNEL_VERSION = "1.2.0"

# the output batch; the engine's Spark schema is derived from it
OUTPUT_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(pa.struct([
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("order", pa.int32()),
    ]))),
    *(pa.field(c, pa.int64()) for c in (
        "span_count_in", "span_count_out", "malformed", "merged_away",
        "dedup_removed", "filtered")),
])
_METRIC_COLS = OUTPUT_SCHEMA.names[2:]


def extract_record_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    """Arrow-native batch extraction: the list<struct> spans column is
    flattened zero-copy and decoded as Arrow (no per-span Python dicts
    in either direction — the pandas dict marshaling was ~5x the kernel
    cost).  Output spans are emitted FLAT in doc order: the page loop
    visits (doc, page) groups in ascending sorted order, so appending
    to flat lists is already doc-major."""
    n_docs = rb.num_rows
    spans = rb.column("spans")
    counts = spans.value_lengths().fill_null(0).to_numpy(
        zero_copy_only=False).astype(np.int64)
    doc_of = np.repeat(np.arange(n_docs), counts)
    dec, valid = decode_flat(spans.flatten())  # slice/offset-aware

    metrics = {c: np.zeros(n_docs, np.int64) for c in _METRIC_COLS}
    metrics["span_count_in"] = counts
    metrics["malformed"] = np.bincount(doc_of[~valid], minlength=n_docs)

    out_counts = np.zeros(n_docs, np.int64)
    out_kind, out_text, out_ref, out_order = [], [], [], []

    # (doc, page) groups with within-page arrival = offset order
    keep = np.flatnonzero(valid)
    keep = keep[np.lexsort((dec["offset"][keep], dec["page"][keep],
                            doc_of[keep]))]
    if len(keep):
        d_doc = doc_of[keep]
        d_page, x0, y0, x1, y1, conf, direction, okind, content, oref = (
            dec[c][keep] for c in ("page", "x0", "y0", "x1", "y1", "conf",
                                   "direction", "out_kind", "content",
                                   "out_media_ref"))

        # group boundaries where (doc, page) changes
        change = np.empty(len(d_doc), bool)
        change[0] = True
        change[1:] = (d_doc[1:] != d_doc[:-1]) | (d_page[1:] != d_page[:-1])
        starts = np.nonzero(change)[0]
        ends = np.append(starts[1:], len(d_doc))

        # The O(n^2) merge (J3) and dedupe (J2) PREDICATES are pure
        # float math, evaluated for the whole batch over sort-sweep
        # candidates: merge over arrival geometry, dedupe over the
        # sorted post-merge blocks.  Only the order-dependent greedy
        # STATE MACHINES stay per page, walking the candidate pairs.
        merge, m_at = page_candidates(
            starts, merge_pairs, x0, y0, x1, y1, okind == "text",
            pd.factorize(direction)[0])

        # one pre-zipped block-tuple list for the whole batch; per page
        # the state machine gets ONE list slice instead of nine
        all_blocks = list(zip(
            x0.tolist(), y0.tolist(), x1.tolist(), y1.tolist(),
            conf.tolist(), direction.tolist(), okind.tolist(),
            content.tolist(), oref.tolist()))

        page_doc = d_doc[starts].tolist()
        finals = []
        for g, (s, e) in enumerate(zip(starts.tolist(), ends.tolist())):
            page = process_page_fast if e - s <= SMALL_PAGE else process_page
            final, merged_away = page(all_blocks[s:e],
                                      merge[m_at[g]:m_at[g + 1]])
            finals.append(final)
            metrics["merged_away"][page_doc[g]] += merged_away

        flat = list(chain.from_iterable(finals))
        dedupe, d_at = page_candidates(
            np.cumsum([0, *map(len, finals[:-1])]), dedupe_pairs,
            *(np.fromiter(map(itemgetter(k), flat), np.float64, len(flat))
              for k in range(4)))
        for g, final in enumerate(finals):
            di = page_doc[g]
            ks, ts, rs, orders, removed, filtered = finish_page(
                final, dedupe[d_at[g]:d_at[g + 1]])
            out_counts[di] += len(ks)
            out_kind.extend(ks)
            out_text.extend(ts)
            out_ref.extend(rs)
            out_order.extend(orders)
            metrics["dedup_removed"][di] += removed
            metrics["filtered"][di] += filtered

    metrics["span_count_out"] = out_counts

    # assemble output list<struct> directly from the flat lists +
    # offsets (no flatten pass)
    struct = pa.StructArray.from_arrays(
        [pa.array(out_kind, type=pa.string()),
         pa.array(out_text, type=pa.string()),
         pa.array(out_ref, type=pa.string()),
         pa.array(out_order, type=pa.int32())],
        fields=list(OUTPUT_SCHEMA.field("spans").type.value_type))
    offsets = pa.array(np.concatenate(([0], np.cumsum(out_counts))),
                       type=pa.int32())
    cols = [rb.column("doc_id"), pa.ListArray.from_arrays(offsets, struct)]
    return pa.RecordBatch.from_arrays(
        cols + [pa.array(metrics[c]) for c in _METRIC_COLS],
        schema=OUTPUT_SCHEMA)
