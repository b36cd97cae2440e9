"""Kernel layer profile: replay a run's input through the public kernel
functions in this process, without Spark, in Arrow batches of the size
the engine's fused stage uses, and attribute CPU time per layer.

``kernel/extract.py`` calls ``decode_flat``, ``process_page_fast`` and
``process_page`` through its module globals, so wrapping those names
there times each layer as the engine runs it.  Writes one JSON object
of per-layer metrics to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import pyarrow.dataset as ds  # noqa: E402

from ai_pdf_ocr_spark.kernel import extract  # noqa: E402

BATCH_ROWS = 4096  # spark.sql.execution.arrow.maxRecordsPerBatch


class LayerClock:
    """Wraps the kernel's layer functions with CPU-time accumulators."""

    def __init__(self):
        self.cpu = {"decode": 0.0, "fast": 0.0, "dense": 0.0, "extract": 0.0}
        self.n = {"spans": 0, "malformed": 0, "fast_pages": 0,
                  "dense_pages": 0, "dense_max_blocks": 0}

    def _timed(self, layer, fn, *a):
        t0 = time.process_time()
        out = fn(*a)
        self.cpu[layer] += time.process_time() - t0
        return out

    def install(self) -> None:
        decode, fast, dense = (extract.decode_flat, extract.process_page_fast,
                               extract.process_page)

        def decode_flat(flat):
            dec, valid = self._timed("decode", decode, flat)
            self.n["spans"] += len(valid)
            self.n["malformed"] += int(len(valid) - valid.sum())
            return dec, valid

        def process_page_fast(*a):
            self.n["fast_pages"] += 1
            return self._timed("fast", fast, *a)

        def process_page(*a):
            self.n["dense_pages"] += 1
            self.n["dense_max_blocks"] = max(self.n["dense_max_blocks"],
                                             len(a[0]))
            return self._timed("dense", dense, *a)

        extract.decode_flat = decode_flat
        extract.process_page_fast = process_page_fast
        extract.process_page = process_page


def replay(path: str) -> dict:
    clock = LayerClock()
    clock.install()
    sums = dict.fromkeys(("docs", "span_count_in", "span_count_out",
                          "merged_away", "dedup_removed", "filtered"), 0)
    for rb in ds.dataset(path, format="parquet").to_batches(
            columns=["doc_id", "spans"], batch_size=BATCH_ROWS):
        if not rb.num_rows:
            continue
        out = clock._timed("extract", extract.extract_record_batch, rb)
        sums["docs"] += out.num_rows
        for k in list(sums)[1:]:
            sums[k] += int(out.column(k).to_numpy().sum())
    cpu, n = clock.cpu, clock.n
    return {
        "kernel.decode.cpu_s": cpu["decode"],
        "kernel.decode.spans": n["spans"],
        "kernel.decode.malformed": n["malformed"],
        "kernel.layout.fast.cpu_s": cpu["fast"],
        "kernel.layout.fast.pages": n["fast_pages"],
        "kernel.layout.dense.cpu_s": cpu["dense"],
        "kernel.layout.dense.pages": n["dense_pages"],
        "kernel.layout.dense.max_blocks": n["dense_max_blocks"],
        "kernel.replay_peak_rss_mb":
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "kernel.extract.cpu_s": cpu["extract"],
        "kernel.extract.self_cpu_s":
            cpu["extract"] - cpu["decode"] - cpu["fast"] - cpu["dense"],
        "kernel.extract.docs": sums["docs"],
        "kernel.extract.spans_in": sums["span_count_in"],
        "kernel.extract.spans_out": sums["span_count_out"],
        "kernel.extract.merged_away": sums["merged_away"],
        "kernel.extract.dedup_removed": sums["dedup_removed"],
        "kernel.extract.filtered": sums["filtered"],
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    with open(args.out, "w") as f:
        json.dump(replay(args.input), f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
