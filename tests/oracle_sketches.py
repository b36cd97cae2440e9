"""Pure-Python oracle twins of the hash-sketch operators (MinHash/LSH,
SimHash, hyperplane ANN) and the extraction metric rollup.

DuckDB has no ``xxhash64``, so these operators cannot get a plain-SQL
oracle.  Instead THIS module recomputes each operator's expected output
independently (loop-based Python over the same public XXH64 spec,
``ai_pdf_ocr_spark/kernel/xxh64.py``), and ``gen_fixtures.py``
materializes the results to parquet that the driver's DuckDB gate reads
via ``read_parquet`` — turning the former rows-only checks into full
rows+schema+hash comparisons.

Spark-semantics notes (each replicated deliberately):
 - ``F.trim`` strips ASCII spaces only; Java regex ``\\s`` is
   ``[ \\t\\n\\x0b\\f\\r]``;
 - ``F.pmod(a, p)`` is non-negative like Python ``%`` for p>0;
 - ``>>`` on a Java long is arithmetic — Python ints match for bit
   extraction ``(h >> i) & 1``;
 - ``F.aggregate``/``zip_with`` folds arrays left-to-right — summation
   order (and therefore every IEEE-754 intermediate) is reproduced;
 - ``F.round(x, 4)`` rounds HALF_UP on the shortest decimal repr
   (java BigDecimal.valueOf) — ``Decimal(repr(x))`` matches.
"""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

from ai_pdf_ocr_spark.kernel.xxh64 import xxhash64_str

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_MERSENNE = (1 << 31) - 1
_U64 = (1 << 64) - 1


def spark_round(x: float, digits: int = 4) -> float:
    if x is None or math.isnan(x) or math.isinf(x):
        return x
    q = Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP)
    return float(q)


def tokens_py(text: str) -> list[str]:
    """Twin of queries/dedup.py::_tokens."""
    return [t for t in _JAVA_WS.split(text.strip(" ").lower()) if t]


# --------------------------------------------------- MinHash + LSH

def _affine_perms(n_hashes: int):
    return [(2 * i + 1, 7919 * (i + 1)) for i in range(n_hashes)]


def minhash_signature(items: list[str], n_hashes: int) -> list[int] | None:
    """min over items of (a*pmod(xxh64(item),p)+b) mod p, per perm."""
    if not items:
        return None
    hs = [xxhash64_str(it) % _MERSENNE for it in items]
    return [min((a * h + b) % _MERSENNE for h in hs)
            for a, b in _affine_perms(n_hashes)]


def shingles_py(text: str, k: int = 3) -> list[str]:
    """Twin of the word-k-gram shingle expression in dedup_minhash_lsh:
    transform(sequence(0, greatest(size-k, 0)), i -> concat_ws(' ',
    slice(toks, i+1, k))), array_distinct, drop empties."""
    toks = tokens_py(text)
    out, seen = [], set()
    for i in range(max(len(toks) - k, 0) + 1):
        s = " ".join(toks[i:i + k])
        if s and s not in seen:
            seen.add(s)
            out.append(s)
    return out


def band_keys(sig: list[int], n_bands: int) -> list[int]:
    r = len(sig) // n_bands
    return [xxhash64_str("_".join(str(v) for v in sig[b * r:(b + 1) * r]))
            for b in range(n_bands)]


def _emit_pairs(members, pairs: set) -> None:
    ms = sorted(members)
    for i, d1 in enumerate(ms):
        for d2 in ms[i + 1:]:
            pairs.add((d1, d2))


def lsh_candidate_pairs(doc_items: dict, n_hashes: int, n_bands: int,
                        band_cap: int | None,
                        sub_band_levels: int = 0) -> set[tuple]:
    """doc_items: doc_id -> list of hashed units (shingles or tokens).
    Returns the distinct (d1 < d2) candidate pairs.

    ``sub_band_levels=0``: drop-cap semantics — over-cap band buckets
    emit nothing (twin of queries/dedup.py::_minhash_banded).
    ``sub_band_levels=L>0``: recursive sub-banding — at level k an
    over-cap bucket of band b is split by appending the key of band
    (b + k) % n_bands; after L levels the residual buckets emit their
    pairs regardless (twin of _minhash_banded_split)."""
    keys_of: dict = {}
    buckets: dict[tuple, list] = {}
    for doc_id, items in doc_items.items():
        sig = minhash_signature(items, n_hashes)
        if sig is None:
            continue
        ks = band_keys(sig, n_bands)
        keys_of[doc_id] = ks
        for b, key in enumerate(ks):
            buckets.setdefault((b, (key,)), []).append(doc_id)
    pairs: set[tuple] = set()
    for lvl in range(1, sub_band_levels + 1):
        nxt: dict[tuple, list] = {}
        for (b, kt), members in buckets.items():
            if band_cap is not None and len(members) > band_cap:
                for d in members:
                    sub = keys_of[d][(b + lvl) % n_bands]
                    nxt.setdefault((b, kt + (sub,)), []).append(d)
            else:
                _emit_pairs(members, pairs)
        buckets = nxt
    for members in buckets.values():
        if (sub_band_levels == 0 and band_cap is not None
                and len(members) > band_cap):
            continue  # drop-cap semantics
        _emit_pairs(members, pairs)
    return pairs


def minhash_lsh_pairs(docs: list[tuple], n_hashes: int = 16,
                      n_bands: int = 4,
                      band_cap: int | None = 64) -> list[tuple]:
    """docs: [(doc_id, text)] -> [(d1, d2)] shingle-LSH candidates."""
    items = {d: shingles_py(t) for d, t in docs}
    return sorted(lsh_candidate_pairs(items, n_hashes, n_bands, band_cap))


def verify_jaccard_pairs(docs: list[tuple], cands: set[tuple],
                         threshold: float = 0.5) -> list[tuple]:
    """Exact set-Jaccard verify of explicit candidate (d1 < d2) pairs.
    docs: [(doc_id, lang, text)] -> [(d1, d2, jaccard)] for same-lang
    pairs at/above threshold.

    Numpy-vectorized (uint64 token bitmasks + popcount LUT), chunked
    over candidate blocks so even an all-pairs ground-truth sweep at
    sf0.1 stays in bounded memory; the per-pair float math (int
    intersection/union then one float64 division) is independent of
    chunking and bit-identical to both the loop form and Spark's
    expression (tests/test_fixtures.py asserts loop-vs-vector
    equivalence)."""
    import numpy as np

    if not cands:
        return []
    ids = [d for d, _, _ in docs]
    lang = np.array([lg for _, lg, _ in docs])
    tok_sets = [sorted(set(tokens_py(t))) for _, _, t in docs]
    pos_of = {d: i for i, d in enumerate(ids)}
    pi_all = np.array([pos_of[a] for a, _ in cands], dtype=np.int64)
    pj_all = np.array([pos_of[b] for _, b in cands], dtype=np.int64)

    vocab = {t: k for k, t in enumerate(sorted(
        {t for ts in tok_sets for t in ts}))}
    n_chunks = max(1, (len(vocab) + 63) // 64)
    masks = np.zeros((len(ids), n_chunks), dtype=np.uint64)
    sizes = np.zeros(len(ids), dtype=np.int64)
    for i, ts in enumerate(tok_sets):
        sizes[i] = len(ts)
        for t in ts:
            k = vocab[t]
            masks[i, k >> 6] |= np.uint64(1 << (k & 63))

    lut = np.array([bin(b).count("1") for b in range(256)], dtype=np.int64)
    id_arr = np.array(ids)
    out = []
    block = 500_000
    for s in range(0, len(pi_all), block):
        pi = pi_all[s:s + block]
        pj = pj_all[s:s + block]
        inter = lut[(masks[pi] & masks[pj]).view(np.uint8)].sum(axis=1)
        union = sizes[pi] + sizes[pj] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = inter / union
        keep = (lang[pi] == lang[pj]) & (union > 0) & (jac >= threshold)
        out.extend(
            (int(a), int(b), spark_round(float(j)))
            for a, b, j in zip(id_arr[pi[keep]], id_arr[pj[keep]],
                               jac[keep]))
    return sorted(out)


def jaccard_verified_pairs(docs: list[tuple], n_hashes: int = 32,
                           n_bands: int = 16, band_cap: int | None = 1024,
                           threshold: float = 0.5,
                           sub_band_levels: int = 3) -> list[tuple]:
    """LANG-BLOCKED token-set MinHash-LSH candidates (over-cap buckets
    recursively sub-banded) -> exact Jaccard verify.  Twin of
    _minhash_banded_split, which prefixes every bucket key with the
    doc's lang: that is equivalent to bucketing each lang's docs
    independently (signatures are per-doc), which is how this twin
    computes it.  docs: [(doc_id, lang, text)] -> [(d1, d2, jaccard)].
    """
    tok_of = {d: sorted(set(tokens_py(t))) for d, _, t in docs}
    by_lang: dict = {}
    for d, lg, _ in docs:
        by_lang.setdefault(lg, []).append(d)
    cands: set[tuple] = set()
    for members in by_lang.values():
        cands |= lsh_candidate_pairs(
            {d: tok_of[d] for d in members},
            n_hashes, n_bands, band_cap, sub_band_levels=sub_band_levels)
    return verify_jaccard_pairs(docs, cands, threshold)


# --------------------------------------------------------- SimHash

def cross_epoch_flags(docs: list[tuple], n_epochs: int = 4) -> list[tuple]:
    """Twin of queries/dedup.py::dedup_cross_epoch: docs [(doc_id,
    text)] -> [(doc_id, epoch, dup_exact, dup_near)] sorted by doc_id.
    epoch = doc_id % n_epochs; a doc is dup_exact when a STRICTLY
    EARLIER epoch holds the same md5(lower(trim(text))) digest,
    dup_near when it shares >= 1 MinHash band key (16 perms x 4 bands
    over its distinct tokens) with an earlier-epoch doc."""
    import hashlib
    key_min: dict = {}
    band_min: dict = {}
    infos = []
    for d, t in docs:
        e = d % n_epochs
        k = hashlib.md5((t or "").strip(" ").lower()
                        .encode("utf-8")).hexdigest()
        sig = minhash_signature(tokens_py(t or ""), 16)
        bks = band_keys(sig, 4) if sig is not None else None
        infos.append((d, e, k, bks))
        key_min[k] = min(key_min.get(k, e), e)
        if bks:
            for b, bk in enumerate(bks):
                band_min[(b, bk)] = min(band_min.get((b, bk), e), e)
    return [(d, e, key_min[k] < e,
             bool(bks) and any(band_min[(b, bk)] < e
                               for b, bk in enumerate(bks)))
            for d, e, k, bks in sorted(infos)]


def simhash_sig(text: str) -> int | None:
    """64-bit SimHash over the token MULTISET; signed-long result.
    None when the doc has no tokens (absent from the Spark groupBy).
    Bit extraction via numpy int64 — exact integer math, identical to
    the per-bit Python loop (needed to bake the sf0.1 fixture slice in
    reasonable time)."""
    import numpy as np

    toks = tokens_py(text)
    if not toks:
        return None
    hs = np.array([xxhash64_str(t) for t in toks], dtype=np.int64)
    bits = (hs[:, None] >> np.arange(64, dtype=np.int64)) & 1
    sums = (2 * bits - 1).sum(axis=0)
    sig = 0
    for i in range(64):
        if sums[i] > 0:
            sig += (1 << i) if i < 63 else -(1 << 63)
    return sig


def simhash_pairs(docs: list[tuple], max_hamming: int = 3) -> list[tuple]:
    """docs: [(doc_id, text)] -> [(d1, d2, hamming)] for pairs within
    ``max_hamming``.  Banding 4 x 16 bits is EXACT for max_hamming <= 3
    by pigeonhole (3 differing bits touch at most 3 of 4 bands)."""
    sigs = {d: s for d, t in docs if (s := simhash_sig(t)) is not None}
    buckets: dict[tuple, list] = {}
    for d, s in sigs.items():
        u = s & _U64
        for b in range(4):
            buckets.setdefault((b, (u >> (16 * b)) & 0xFFFF, ), []).append(d)
    seen: set[tuple] = set()
    out = []
    for members in buckets.values():
        ms = sorted(members)
        for i, d1 in enumerate(ms):
            for d2 in ms[i + 1:]:
                if (d1, d2) in seen:
                    continue
                seen.add((d1, d2))
                ham = bin((sigs[d1] ^ sigs[d2]) & _U64).count("1")
                if ham <= max_hamming:
                    out.append((d1, d2, ham))
    return sorted(out)


# --------------------------------------------- hyperplane LSH ANN

ANN_PLANES = 16


def _fold_dot(xs, ws) -> float:
    acc = 0.0
    for x, w in zip(xs, ws):
        acc = acc + x * w
    return acc


def plane_weights(p: int, dim: int = 64) -> list[float]:
    return [(xxhash64_str(f"{j}:{p}") % 2001 - 1000.0) / 1000.0
            for j in range(dim)]


_PLANES_CACHE: dict[int, list[list[float]]] = {}


def _planes(n: int) -> list[list[float]]:
    if n not in _PLANES_CACHE:
        _PLANES_CACHE[n] = [plane_weights(p) for p in range(n)]
    return _PLANES_CACHE[n]


def ann_bucket(emb: list[float], n_planes: int = ANN_PLANES) -> int:
    sig = 0
    for p, w in enumerate(_planes(n_planes)):
        if _fold_dot(emb, w) >= 0:
            sig += 1 << p
    return sig


def cosine_py(a: list[float], b: list[float]) -> float:
    dot = _fold_dot(a, b)
    na = math.sqrt(_fold_dot(a, a))
    nb = math.sqrt(_fold_dot(b, b))
    return dot / (na * nb)


def ann_lsh_bucketed_rows(vectors: list[tuple], k: int = 5) -> list[tuple]:
    """vectors: [(vec_id, emb_float64_list, label)]; query = vec_id 0.
    Per-bucket top-k by cosine to the query vector ->
    (bucket, rank, vec_id, label, cos_q)."""
    q = next(e for v, e, _ in vectors if v == 0)
    rows = [(ann_bucket(e), v, lab, cosine_py(e, q))
            for v, e, lab in vectors if v != 0]
    by_bucket: dict[int, list] = {}
    for b, v, lab, c in rows:
        by_bucket.setdefault(b, []).append((v, lab, c))
    out = []
    for b, members in sorted(by_bucket.items()):
        members.sort(key=lambda m: (-m[2], m[0]))
        for rank, (v, lab, c) in enumerate(members[:k], start=1):
            out.append((b, rank, v, lab, spark_round(c)))
    return out


def probe_masks(radius: int, n_planes: int = ANN_PLANES) -> list[int]:
    """XOR masks for every bucket within hamming <= radius (sorted by
    popcount then value — same enumeration as the Spark literal)."""
    from itertools import combinations

    masks = []
    for r in range(radius + 1):
        for bits in combinations(range(n_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def ann_multiprobe_rows(vectors: list[tuple], k: int = 10,
                        radius: int = 3) -> list[tuple]:
    """Multi-probe ANN: probe every bucket within hamming<=radius of the
    query vector's bucket, exact-rank the candidates ->
    (rank, vec_id, label, cosine)."""
    q = next(e for v, e, _ in vectors if v == 0)
    qb = ann_bucket(q)
    probe = {qb ^ m for m in probe_masks(radius)}
    cands = [(v, lab, cosine_py(e, q)) for v, e, lab in vectors
             if v != 0 and ann_bucket(e) in probe]
    cands.sort(key=lambda m: (-m[2], m[0]))
    return [(rank, v, lab, spark_round(c))
            for rank, (v, lab, c) in enumerate(cands[:k], start=1)]


def embedding_verified_pairs(vectors: list[tuple], thr: float = 0.3,
                             max_ham: int = 3) -> list[tuple]:
    """Twin of queries/similarity.py::dedup_embedding_verified: 16-plane
    sign signatures (same plane_weights/_fold_dot bit order as the ANN
    twins), brute-force hamming<=3 pairs, exact-cosine verify ->
    (v1, v2, hamming, round(cosine, 4)).  The banded+hot-split Spark
    candidate generation is EXACT for hamming<=3, so brute force here
    is the correct ground truth."""
    sigs = [(v, ann_bucket(e)) for v, e, _ in vectors]
    emb = {v: e for v, e, _ in vectors}
    out = []
    for i in range(len(sigs)):
        v1, s1 = sigs[i]
        for j in range(i + 1, len(sigs)):
            v2, s2 = sigs[j]
            ham = bin(s1 ^ s2).count("1")
            if ham <= max_ham:
                c = cosine_py(emb[v1], emb[v2])
                if c >= thr:
                    a, b = (v1, v2) if v1 < v2 else (v2, v1)
                    out.append((a, b, ham, spark_round(c)))
    return sorted(out)


# ------------------------------------- extraction stats (doc_stats)

def extract_doc_rows(doc: dict):
    """Twin of flagship.extract_doc_stats's per-doc row: runs the pure
    oracle pipeline page-by-page, capturing the kernel's metric
    counters (layout.py stats semantics: merged_away = blocks absorbed
    by merge, dedup_removed = duplicate-removal count, filtered =
    post-dedupe keep_block drops)."""
    from tests import oracle as O

    blocks = []
    malformed = 0
    for s in doc["spans"]:
        b = O.parse_span(s["kind"], s["text"], s.get("media_ref"),
                         s["offset"])
        if b is None:
            malformed += 1
        else:
            blocks.append(b)
    out: list[tuple] = []
    merged_away = dedup_removed = filtered = 0
    for page in sorted({b.page for b in blocks}):
        page_blocks = sorted((b for b in blocks if b.page == page),
                             key=lambda b: b.offset)
        ordered = O.sort_page(page_blocks)
        deduped, removed = O.remove_duplicates(ordered)
        dedup_removed += removed
        # kernel's merged_away counts only merge absorption, BEFORE the
        # direction split (degenerate-direction drops hit no metric)
        merged_away += len(page_blocks) - len(O.merge_overlapping(page_blocks))
        for b in deduped:
            if O.keep_block(b):
                out.append((b.kind, b.text, b.media_ref, b.block_id))
            else:
                filtered += 1
    text_parts = [t for k, t, _, _ in out if k == "text"]
    document_text = " ".join(text_parts)
    metrics = {
        "span_count_in": len(doc["spans"]),
        "malformed": malformed,
        "merged_away": merged_away,
        "dedup_removed": dedup_removed,
        "filtered": filtered,
    }
    return out, document_text, metrics


# ------------------------------------------------------------ IVF ANN

IVF_K, IVF_NPROBE, IVF_ITERS = 8, 2, 2
IVF_SAMPLE_STRIDE, IVF_SAMPLE_CAP = 8, 4096


def _l2_py(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def _ivf_assign(e, cens):
    best, bd = 0, None
    for cid, cen in enumerate(cens):
        d = _l2_py(e, cen)
        if bd is None or d < bd:       # strict < : ties keep lowest cid
            best, bd = cid, d
    return best


def ivf_topk_rows(vectors: list[tuple], k: int = 10) -> list[tuple]:
    """Twin of queries/similarity.py::ann_ivf_topk: stride-sampled
    deterministic k-means train (Lloyd, fixed passes, empty list keeps
    its centroid), per-vector argmin list assignment, nprobe-list
    exact-cosine search -> (rank, vec_id, label, list_id, cosine).
    ``vectors`` must be sorted by vec_id (the operator's sample collect
    is orderBy(vec_id)); all float ops are sequential in index/member
    order, matching the Spark-side folds bit-for-bit."""
    sample = [e for v, e, _ in vectors
              if v % IVF_SAMPLE_STRIDE == 1][:IVF_SAMPLE_CAP]
    cens = _kmeans(sample, IVF_K, IVF_ITERS)
    q = next(e for v, e, _ in vectors if v == 0)
    probed = {cid for _, cid in
              sorted((_l2_py(q, c), cid)
                     for cid, c in enumerate(cens))[:IVF_NPROBE]}
    cands = [(v, lab, cid, cosine_py(e, q))
             for v, e, lab in vectors if v != 0
             for cid in (_ivf_assign(e, cens),) if cid in probed]
    cands.sort(key=lambda m: (-m[3], m[0]))
    return [(rank, v, lab, cid, spark_round(c))
            for rank, (v, lab, cid, c) in enumerate(cands[:k], start=1)]


# ------------------------------------------------------------- PQ ANN

PQ_M, PQ_SUB, PQ_K, PQ_ITERS = 8, 8, 16, 2


def _kmeans(sample, k, iters):
    """Twin of queries/similarity.py::_kmeans_py (identical float
    sequence: init = first k, Lloyd, empty keeps centroid)."""
    cens = [list(e) for e in sample[:k]]
    for _ in range(iters):
        members = [[] for _ in cens]
        for e in sample:
            members[_ivf_assign(e, cens)].append(e)
        for cid, mem in enumerate(members):
            if mem:
                n = len(mem)
                cens[cid] = [sum(m[i] for m in mem) / n
                             for i in range(len(cens[cid]))]
    return cens


def pq_topk_rows(vectors: list[tuple], k: int = 10) -> list[tuple]:
    """Twin of queries/similarity.py::ann_pq_topk: per-subspace
    codebooks trained on the stride sample, every vector encoded to
    8 argmin codes, query ADC table lookup summed left-associatively
    (matching the Spark expression chain) -> (rank, vec_id, label,
    adc_d2).  ``vectors`` sorted by vec_id."""
    sample = [e for v, e, _ in vectors
              if v % IVF_SAMPLE_STRIDE == 1][:IVF_SAMPLE_CAP]
    cbs = [_kmeans([e[m * PQ_SUB:(m + 1) * PQ_SUB] for e in sample],
                   PQ_K, PQ_ITERS)
           for m in range(PQ_M)]
    q = next(e for v, e, _ in vectors if v == 0)
    adc = [[_l2_py(q[m * PQ_SUB:(m + 1) * PQ_SUB], cen)
            for cen in cbs[m]]
           for m in range(PQ_M)]
    cands = []
    for v, e, lab in vectors:
        if v == 0:
            continue
        dist = None
        for m in range(PQ_M):
            code = _ivf_assign(e[m * PQ_SUB:(m + 1) * PQ_SUB], cbs[m])
            t = adc[m][code]
            dist = t if dist is None else dist + t
        cands.append((v, lab, dist))
    cands.sort(key=lambda c: (c[2], c[0]))
    return [(rank, v, lab, spark_round(d))
            for rank, (v, lab, d) in enumerate(cands[:k], start=1)]


def pq_rerank_topk_rows(vectors: list[tuple], k: int = 10,
                        r: int = 50) -> list[tuple]:
    """Twin of queries/similarity.py::ann_pq_rerank_topk: flat-PQ ADC
    coarse top-``r`` candidates (ties broken by vec_id — same order as
    the Spark TakeOrderedAndProject), then EXACT squared-L2 re-rank of
    only those r rows -> (rank, vec_id, label, d2).  ``vectors``
    sorted by vec_id."""
    sample = [e for v, e, _ in vectors
              if v % IVF_SAMPLE_STRIDE == 1][:IVF_SAMPLE_CAP]
    cbs = [_kmeans([e[m * PQ_SUB:(m + 1) * PQ_SUB] for e in sample],
                   PQ_K, PQ_ITERS)
           for m in range(PQ_M)]
    q = next(e for v, e, _ in vectors if v == 0)
    adc = [[_l2_py(q[m * PQ_SUB:(m + 1) * PQ_SUB], cen)
            for cen in cbs[m]]
           for m in range(PQ_M)]
    coarse = []
    for v, e, lab in vectors:
        if v == 0:
            continue
        dist = None
        for m in range(PQ_M):
            code = _ivf_assign(e[m * PQ_SUB:(m + 1) * PQ_SUB], cbs[m])
            t = adc[m][code]
            dist = t if dist is None else dist + t
        coarse.append((dist, v, e, lab))
    coarse.sort(key=lambda c: (c[0], c[1]))
    rer = [(v, lab, _l2_py(e, q)) for _, v, e, lab in coarse[:r]]
    rer.sort(key=lambda c: (c[2], c[0]))
    return [(rank, v, lab, spark_round(d))
            for rank, (v, lab, d) in enumerate(rer[:k], start=1)]


def ivfpq_topk_rows(vectors: list[tuple], k: int = 10) -> list[tuple]:
    """Twin of queries/similarity.py::ann_ivfpq_topk (IVF coarse
    quantizer + PQ over coarse RESIDUALS, the FAISS IVFADC layout):
    train IVF centroids on the stride sample, PQ codebooks on the
    sample's residuals (e - assigned centroid), then scan only the
    IVF_NPROBE query-nearest lists, encoding each vector's residual to
    8 codes and summing the query's per-list ADC table left-
    associatively -> (rank, vec_id, label, list_id, adc_d2).
    ``vectors`` sorted by vec_id; every float op sequential in
    index/member order, matching the Spark folds bit-for-bit."""
    sample = [e for v, e, _ in vectors
              if v % IVF_SAMPLE_STRIDE == 1][:IVF_SAMPLE_CAP]
    cens = _kmeans(sample, IVF_K, IVF_ITERS)
    residuals = []
    for e in sample:
        cen = cens[_ivf_assign(e, cens)]
        residuals.append([x - y for x, y in zip(e, cen)])
    cbs = [_kmeans([r[m * PQ_SUB:(m + 1) * PQ_SUB] for r in residuals],
                   PQ_K, PQ_ITERS)
           for m in range(PQ_M)]
    q = next(e for v, e, _ in vectors if v == 0)
    probed = {cid for _, cid in
              sorted((_l2_py(q, c), cid)
                     for cid, c in enumerate(cens))[:IVF_NPROBE]}
    adc = []
    for cen in cens:
        qr = [x - y for x, y in zip(q, cen)]
        adc.append([[_l2_py(qr[m * PQ_SUB:(m + 1) * PQ_SUB], c)
                     for c in cbs[m]]
                    for m in range(PQ_M)])
    cands = []
    for v, e, lab in vectors:
        if v == 0:
            continue
        cid = _ivf_assign(e, cens)
        if cid not in probed:
            continue
        r = [x - y for x, y in zip(e, cens[cid])]
        dist = None
        for m in range(PQ_M):
            code = _ivf_assign(r[m * PQ_SUB:(m + 1) * PQ_SUB], cbs[m])
            t = adc[cid][m][code]
            dist = t if dist is None else dist + t
        cands.append((v, lab, cid, dist))
    cands.sort(key=lambda c: (c[3], c[0]))
    return [(rank, v, lab, cid, spark_round(d))
            for rank, (v, lab, cid, d) in enumerate(cands[:k], start=1)]
