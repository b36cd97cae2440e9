"""Per-page reading-order kernel: merge -> cluster-sort -> interleave ->
renumber -> dedupe -> sink filters.

Vectorized transcription of ``/root/reference/text_block_sorter.py`` +
``/root/reference/data_structures.py:136-176`` +
``pdf_processor.py:148-150,244-246`` (the reference's sink filters).
The pairwise merge/dedupe predicates are pure float math, evaluated by
``pair_predicates`` over candidate pairs only: one sort-sweep over a
whole Arrow batch (``page_candidates``) gives every page, of any size,
its pairs along the axis that yields it fewer, so no n x n array is
ever allocated.  Only the order-DEPENDENT greedy state machines
(cluster membership depends on arrival order and current seed set —
not expressible as a window function, SURVEY.md §2.5) remain as Python
loops, in ``process_page_fast``, over the candidate pairs.

Float parity notes: every arithmetic expression keeps the reference's
operand order ((right-left)*(bottom-top))/smaller etc.), all math is
IEEE float64, and group-confidence means use sequential Python
summation to match ``sum()/len()`` at
/root/reference/text_block_sorter.py:232.
"""

from __future__ import annotations

from operator import itemgetter

import numpy as np

_KEY_X0 = itemgetter(0)
_KEY_Y0 = itemgetter(1)

DPI = 200
PT_SCALE = 72.0 / DPI
MERGE_THRESHOLD = 0.5   # /root/reference/text_block_sorter.py:178
REMOVE_THRESHOLD = 0.6  # /root/reference/data_structures.py:136
SWEEP_CHUNK = 1 << 18   # candidate pairs per predicate pass
# a page of more blocks is "dense": it runs the same state machine
# under the name ``process_page``, so a layer tracer can tell the two
# apart; no algorithm depends on it
SMALL_PAGE = 160


def pair_predicates(PI, PJ, x0, y0, x1, y1, is_text, dcode):
    """Exact merge (J3) and dedupe (J2) predicates over candidate pairs
    (PI[k], PJ[k]) of indices into the coordinate arrays.

    J3: overlap >= MERGE_THRESHOLD of the SMALLER area, text-only, same
    direction code (reference text_block_sorter.py:161-175).  J2:
    overlap >= REMOVE_THRESHOLD of the block's OWN area against a
    strictly larger block (reference data_structures.py:41-61,
    136-176).  Returns (mg, small, large): the pair positions passing
    J3, and the (smaller, larger) endpoints of the pairs passing J2 in
    either direction."""
    area = (x1 - x0) * (y1 - y0)
    il = np.maximum(x0[PI], x0[PJ]); it = np.maximum(y0[PI], y0[PJ])
    ir = np.minimum(x1[PI], x1[PJ]); ib = np.minimum(y1[PI], y1[PJ])
    strict = (il < ir) & (it < ib)
    inter = (ir - il) * (ib - it)
    ai = area[PI]; aj = area[PJ]
    smaller = np.minimum(ai, aj)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio_sm = np.where(strict & (smaller > 0), inter / smaller, 0.0)
        own_i = np.where(strict & (ai != 0), inter / ai, 0.0)
        own_j = np.where(strict & (aj != 0), inter / aj, 0.0)
    merge = ((ratio_sm >= MERGE_THRESHOLD) & is_text[PI] & is_text[PJ]
             & (dcode[PI] == dcode[PJ]))
    dd_ij = (own_i >= REMOVE_THRESHOLD) & (ai < aj)
    dd_ji = (own_j >= REMOVE_THRESHOLD) & (aj < ai)
    dd = np.nonzero(dd_ij | dd_ji)[0]
    small = np.where(dd_ij[dd], PI[dd], PJ[dd])
    large = np.where(dd_ij[dd], PJ[dd], PI[dd])
    return np.nonzero(merge)[0], small, large


def _sweep_pairs(starts, x0, y0, x1, y1):
    """Candidate pairs for every page of a batch (blocks grouped by
    page, page g at [starts[g], starts[g + 1])): per axis, stable-sort
    each page's boxes by their low edge, and each box pairs with the
    later boxes of its page whose low edge lies below its high edge
    (one searchsorted for the whole batch, on an int64 key
    ``page * width + rank`` that keeps it inside the page; the low and
    high edges are ranked together, NaN last).  Every strictly
    intersecting pair has il < ir on both axes, so either sweep yields
    a superset of them; a zero-width, negative-width or NaN box can
    never satisfy il < ir.  Both axes are counted before anything is
    materialized and each page sweeps the one yielding it fewer pairs.
    Yields (PI, PJ) chunks of about SWEEP_CHUNK pairs (at least one
    chunk), grouped by page in page order: a grid's rows or columns
    still give n * min(rows, cols) / 2 pairs, so only the chunk and
    the predicate hits are ever resident."""
    n = len(x0)
    grp = np.repeat(np.arange(len(starts)),
                    np.diff(starts, append=n))
    after = np.arange(1, n + 1)
    sweeps = []
    for lo, hi in ((x0, x1), (y0, y1)):
        edges, rank = np.unique(np.concatenate((lo, hi)),
                                return_inverse=True)
        base = grp * len(edges)
        key = base + rank[:n]
        order = np.argsort(key, kind="stable")
        cnt = np.searchsorted(key[order], (base + rank[n:])[order],
                              side="left") - after
        np.maximum(cnt, 0, out=cnt)
        sweeps.append((order, cnt, np.add.reduceat(cnt, starts)))
    (ox, cx, tx), (oy, cy, ty) = sweeps
    # a page holds the same sorted positions in either order
    use_y = (ty < tx)[grp]
    order = np.where(use_y, oy, ox)
    cnt = np.where(use_y, cy, cx)
    start = np.cumsum(cnt) - cnt  # first pair of each sorted position
    bounds = [0, *(np.flatnonzero(np.diff(start // SWEEP_CHUNK)) + 1)
              .tolist(), n]
    for p0, p1 in zip(bounds, bounds[1:]):
        c = cnt[p0:p1]
        first = np.repeat(np.arange(p0, p1), c)
        # pair k of sorted position p has partner p + 1 + (k - start[p])
        second = np.arange(start[p0], start[p0] + len(first)) + np.repeat(
            np.arange(p0 + 1, p1 + 1) - start[p0:p1], c)
        yield order[first], order[second]


def page_candidates(starts, x0, y0, x1, y1, is_text, dcode):
    """Merge and dedupe candidates for every page of a batch, from one
    sort-sweep (``_sweep_pairs``) and ``pair_predicates`` per chunk.

    Returns (merge, merge_at, dedupe, dedupe_at): page g's merge pairs
    are ``merge[merge_at[g]:merge_at[g + 1]]``, page-local (i, j) with
    i < j in (i asc, j asc) order, the merge greedy's visit order; its
    dedupe pairs are ``dedupe[dedupe_at[g]:dedupe_at[g + 1]]``,
    batch-global (smaller, larger) block indices."""
    mi, mj, small, large = [], [], [], []
    for PI, PJ in _sweep_pairs(starts, x0, y0, x1, y1):
        mg, sm, lg = pair_predicates(PI, PJ, x0, y0, x1, y1, is_text,
                                     dcode)
        mi.append(np.minimum(PI[mg], PJ[mg]))
        mj.append(np.maximum(PI[mg], PJ[mg]))
        small.append(sm)
        large.append(lg)
    # a page's blocks are contiguous, so sorting batch-global pairs
    # sorts by page first; chunks already come in page order
    mi, mj = np.concatenate(mi), np.concatenate(mj)
    o = np.lexsort((mj, mi))
    mi, mj = mi[o], mj[o]
    small, large = np.concatenate(small), np.concatenate(large)
    # ``small`` is unsorted within a page but partitioned by page, which
    # is all the binary search for each page's first pair relies on
    edges = np.append(starts, len(x0))
    m_at = np.searchsorted(mi, edges)
    first = np.repeat(starts, np.diff(m_at))  # each pair's page start
    return (list(zip((mi - first).tolist(), (mj - first).tolist())),
            m_at.tolist(),
            list(zip(small.tolist(), large.tolist())),
            np.searchsorted(small, edges).tolist())


def _cluster_sort(bs, lo, hi, key, rank):
    """First-fit clustering of ``bs`` on the interval [b[lo], b[hi]]:
    a block joins the first cluster whose seed (first block) it
    overlaps by at least half of either extent, else seeds a new one.
    Each cluster is sorted by ``key``, the clusters by ``rank`` of
    their seed (the reference's text_block_sorter.py:26-87)."""
    clusters = []
    for b in bs:
        b_lo, b_hi = b[lo], b[hi]
        for c in clusters:
            s = c[0]
            o_lo = b_lo if b_lo > s[lo] else s[lo]
            o_hi = b_hi if b_hi < s[hi] else s[hi]
            ov = o_hi - o_lo
            if ov < 0:
                ov = 0
            if ov >= (b_hi - b_lo) * 0.5 or ov >= (s[hi] - s[lo]) * 0.5:
                c.append(b)
                break
        else:
            clusters.append([b])
    # itemgetter + singleton guards: same keys, same stable sort,
    # ~2x less per-call overhead than a lambda on tiny lists
    for c in clusters:
        if len(c) > 1:
            c.sort(key=key)
    if len(clusters) > 1:
        clusters.sort(key=rank)
    return [b for c in clusters for b in c]


def _col_rank(c):  # vertical columns: right to left
    return -((c[0][0] + c[0][2]) / 2)


def _row_rank(r):  # horizontal rows: top to bottom
    return (r[0][1] + r[0][3]) / 2


def process_page_fast(blocks, merge_cands, dd_cands):
    """Pure-Python page state machines, candidate-driven, for pages of
    every size (``page_candidates`` gives their pairs).

    At typical page sizes (10-40 blocks) numpy's per-call dispatch on
    tiny pairwise arrays costs more than tight Python loops over
    primitive floats (measured ~3x).  Bit-parity with the oracle:
    identical IEEE doubles, identical expression order, CPython's
    stable list.sort.

    ``blocks``: list of 10-tuples (x0, y0, x1, y1, conf, direction,
    kind, text, media_ref, gidx) in arrival order — pre-zipped ONCE per
    Arrow batch by extract.py (one list slice per page instead of nine).
    ``gidx`` is the batch-global block index, a unique non-negative id;
    merged blocks get fresh negative ids.

    ``merge_cands``: merge-candidate pairs (i<j LOCAL indices passing
    the J3 predicate, from ``pair_predicates``), empty when the page
    has none.  The greedy used-state semantics equal the reference
    nested loop because candidates arrive in the same (i asc, j asc)
    visit order.

    ``dd_cands``: duplicate-removal candidate pairs (small_gidx,
    large_gidx with own-ratio >= REMOVE_THRESHOLD and strictly smaller
    area, from ``pair_predicates``).  Valid for blocks whose geometry the merge
    stage did not touch; pairs involving post-merge geometry are
    recomputed here — O(n_merged * k) instead of O(k^2) (round-2 perf:
    the full dedupe rescan was ~30%% of the kernel on merge-bearing
    pages, which the planted dup-pair degeneracies make ~37%% of all
    pages)."""
    n = len(blocks)
    stats = {"merged_away": 0, "dedup_removed": 0, "filtered": 0}
    if n == 0:
        return [], [], [], [], stats

    # ---- merge (J3), /root/reference/text_block_sorter.py:178-240 ----
    new_blocks = None
    if n > 1 and merge_cands:
        cand_js: dict[int, list[int]] = {}
        for i, j in merge_cands:
            cand_js.setdefault(i, []).append(j)
        merged = []
        new_blocks = []
        used = [False] * n
        neg = -1
        for i in range(n):
            if used[i]:
                continue
            used[i] = True
            js = cand_js.get(i)
            cand = None
            if js is not None:
                for j in js:
                    if not used[j]:
                        if cand is None:
                            cand = [blocks[i]]
                        cand.append(blocks[j])
                        used[j] = True
            if cand is None:
                merged.append(blocks[i])
            else:
                base = max(cand, key=lambda b: b[4])
                longest = max(cand, key=lambda b: len(b[7]))[7]
                conf_m = sum(b[4] for b in cand) / len(cand)
                nb = (min(b[0] for b in cand),
                      min(b[1] for b in cand),
                      max(b[2] for b in cand),
                      max(b[3] for b in cand),
                      conf_m, base[5], "text", longest, None, neg)
                neg -= 1
                merged.append(nb)
                new_blocks.append(nb)
        stats["merged_away"] = n - len(merged)
    else:
        merged = blocks

    # ---- direction split + cluster sorts (:26-87,:113-114) ----
    vert = [b for b in merged if b[5] == "vertical"]
    horiz = [b for b in merged if b[5] == "horizontal"]

    cols = _cluster_sort(vert, 0, 2, _KEY_Y0, _col_rank)
    rows = _cluster_sort(horiz, 1, 3, _KEY_X0, _row_rank)
    # the group whose topmost block is higher reads first, vertical on
    # a tie (an unordered NaN top puts horizontal first)
    if vert and horiz and not (min(b[1] for b in vert)
                               <= min(b[1] for b in horiz)):
        final = rows + cols
    else:
        final = cols + rows

    # ---- dedupe (J2), /root/reference/data_structures.py:136-176 ----
    # candidate-driven: only the greedy state machine is order-dependent
    # (SURVEY.md §2.5); the pair predicates are batch-precomputed for
    # untouched geometry and recomputed only around merged blocks.
    k = len(final)
    removed = [False] * k
    if k > 1 and (dd_cands or new_blocks):
        pos_of = {b[9]: p for p, b in enumerate(final)}
        by_small: dict[int, list[int]] = {}
        if dd_cands:
            for sm, lg in dd_cands:
                ps = pos_of.get(sm)
                pl = pos_of.get(lg)
                if ps is not None and pl is not None:
                    by_small.setdefault(ps, []).append(pl)
        if new_blocks:
            for b in new_blocks:
                p = pos_of.get(b[9])
                if p is None:
                    continue  # direction dropped by the split
                bx0, by0, bx1, by1 = b[0], b[1], b[2], b[3]
                ab = (bx1 - bx0) * (by1 - by0)
                for q, o in enumerate(final):
                    if q == p or (o[9] < 0 and o[9] > b[9]):
                        continue  # merged-merged pair handled once
                    ol = bx0 if bx0 > o[0] else o[0]
                    ot = by0 if by0 > o[1] else o[1]
                    orr = bx1 if bx1 < o[2] else o[2]
                    ob = by1 if by1 < o[3] else o[3]
                    if ol >= orr or ot >= ob:
                        continue
                    ao = (o[2] - o[0]) * (o[3] - o[1])
                    inter = (orr - ol) * (ob - ot)
                    if ab != 0 and ab < ao \
                            and inter / ab >= REMOVE_THRESHOLD:
                        by_small.setdefault(p, []).append(q)
                    if ao != 0 and ao < ab \
                            and inter / ao >= REMOVE_THRESHOLD:
                        by_small.setdefault(q, []).append(p)
        for i in sorted(by_small):
            # the full O(k^2) scan visits j ascending; first surviving
            # j wins (removed-at-visit-time state reproduced exactly)
            for j in sorted(by_small[i]):
                if not removed[j]:
                    removed[i] = True
                    break
        stats["dedup_removed"] = sum(removed)

    # ---- sink filters: text spans only ----
    kinds, texts, refs, orders = [], [], [], []
    for a in range(k):
        if removed[a]:
            continue
        b = final[a]
        if b[6] == "text":
            t = b[7]
            if not t.strip():
                stats["filtered"] += 1
                continue
            if (b[2] - b[0]) * PT_SCALE < 1 or (b[3] - b[1]) * PT_SCALE < 1:
                stats["filtered"] += 1
                continue
        kinds.append(b[6])
        texts.append(b[7])
        refs.append(b[8])
        orders.append(a + 1)
    return kinds, texts, refs, orders, stats


# the dense-page name of the one state machine (see SMALL_PAGE)
process_page = process_page_fast
