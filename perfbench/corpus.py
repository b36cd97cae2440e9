"""Seeded benchmark inputs, written as parquet ``documents`` tables and
cached on disk under a key of (kind, seed, size, generator source).

- ``standard``: the repository generator's interleaved corpus
  (``fixtures/generate.py::make_documents``, 2 % heavy tail).
- ``dense``: one-page "scanned spreadsheet" documents of 300-1,600
  blocks each, built here; every page exceeds ``SMALL_PAGE`` and so
  takes the dense ``process_page`` path.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ai_pdf_ocr_spark.fixtures import generate
from ai_pdf_ocr_spark.fixtures.generate import (DUP_RATIOS, PAGE_H, PAGE_W,
                                                make_documents)

SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])
SCHEMA = pa.schema([pa.field("doc_id", pa.string(), nullable=False),
                    pa.field("spans", pa.list_(SPAN))])

HEAVY_TAIL = 0.02
DENSE_BLOCKS = (300, 1600)


def _source_digest() -> str:
    h = hashlib.sha256()
    for path in (generate.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def write_docs(docs: list[dict], path: str, files: int) -> None:
    """Write ``docs`` as ``files`` parquet files under directory
    ``path`` (round-robin, so each file holds a similar mix)."""
    os.makedirs(path, exist_ok=True)
    for k in range(files):
        part = docs[k::files]
        rows = {"doc_id": [d["doc_id"] for d in part],
                "spans": [d["spans"] for d in part]}
        pq.write_table(pa.Table.from_pydict(rows, schema=SCHEMA),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def totals(path: str) -> tuple[int, int]:
    """(documents, spans) of the table at ``path``."""
    spans = pq.read_table(path, schema=SCHEMA, columns=["spans"])["spans"]
    return len(spans), pc.sum(pc.list_value_length(spans)).as_py() or 0


def sample(path: str, k: int, seed: int) -> list[dict]:
    """``k`` documents of the table at ``path``, chosen by ``seed``."""
    table = pq.read_table(path, schema=SCHEMA)
    idx = random.Random(f"sample:{seed}").sample(range(len(table)),
                                                 min(k, len(table)))
    return table.take(idx).to_pylist()


def dense_document(doc_id: str, seed: int, n: int) -> dict:
    """One page of ``n`` cells laid out as a grid ("scanned
    spreadsheet"), plus planted near-duplicate cells at the generator's
    merge/dedupe threshold ratios, a few vertical cells inside larger
    ones and a few media boxes."""
    rng = random.Random(f"dense:{seed}:{doc_id}")
    cols = rng.randint(8, 24)
    rows = math.ceil(n / cols)
    cw = (PAGE_W - 100.0) / cols
    ch = (PAGE_H - 100.0) / rows
    spans = []

    def text(x0, y0, x1, y1, content, direction=None):
        head = f"1;{x0:.1f},{y0:.1f},{x1:.1f},{y1:.1f}"
        if direction is not None:
            head += f";{rng.uniform(0.8, 1.0):.4f};{direction}"
        elif rng.random() < 0.7:
            head += f";{rng.uniform(0.8, 1.0):.4f}"
        spans.append({"kind": "raw_text", "text": head + "|" + content,
                      "media_ref": None})

    for i in range(n):
        r, c = divmod(i, cols)
        x0 = 50.0 + c * cw + 2.0
        y0 = 50.0 + r * ch + 1.0
        x1, y1 = x0 + cw * 0.8, y0 + ch * 0.7
        cell = (str(rng.randint(0, 99999)) if rng.random() < 0.7
                else rng.choice(generate.EN_WORDS))
        text(x0, y0, x1, y1, cell)
        u = rng.random()
        if u < 0.04:
            # near-duplicate OCR re-read of the same cell
            dx = round((x1 - x0) * (1.0 - rng.choice(DUP_RATIOS)), 1)
            text(x0 + dx, y0, x1 + dx, y1, cell)
        elif u < 0.05:
            w = (x1 - x0) / 4.0
            text(x0 + w, y0, x0 + 2 * w, y1, cell, direction="vertical")
        elif u < 0.06:
            spans.append({"kind": "raw_media",
                          "text": f"1;{x0:.1f},{y0:.1f},{x1:.1f},{y1:.1f};;|",
                          "media_ref": f"asset-{rng.getrandbits(32):08x}"})
    for k, s in enumerate(spans):
        s["offset"] = k
    rng.shuffle(spans)
    return {"doc_id": doc_id, "spans": spans}


class Cache:
    """Generated inputs under ``root``, one directory per key; written
    to a temporary name and renamed, so a killed run leaves no
    half-written entry behind."""

    def __init__(self, root: str):
        self.root = root
        self.digest = _source_digest()

    def get(self, kind: str, seed: int, size: int, files: int, build) -> str:
        path = os.path.join(self.root,
                            f"{kind}-s{seed}-n{size}-f{files}-{self.digest}")
        if not os.path.isdir(path):
            tmp = f"{path}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            write_docs(build(), tmp, files)
            os.rename(tmp, path)
        return path

    def standard(self, seed: int, size: int, files: int) -> str:
        return self.get("standard", seed, size, files, lambda: make_documents(
            size, seed=seed, prefix="doc", heavy_tail_frac=HEAVY_TAIL))

    def dense(self, seed: int, size: int, files: int) -> str:
        # block counts stratified over DENSE_BLOCKS: each seed gets the
        # same size profile (so the same n^2 work), jittered per page
        lo, hi = DENSE_BLOCKS
        rng = random.Random(f"dense-sizes:{seed}")
        sizes = [lo + int((hi - lo) * (i + rng.random()) / size)
                 for i in range(size)]
        return self.get("dense", seed, size, files, lambda: [
            dense_document(f"dense-{i:06d}", seed, n)
            for i, n in enumerate(sizes)])
