"""Per-page reading-order kernel: merge -> cluster-sort -> interleave ->
renumber -> dedupe -> sink filters.

Vectorized transcription of ``/root/reference/text_block_sorter.py`` +
``/root/reference/data_structures.py:136-176`` +
``pdf_processor.py:148-150,244-246`` (the reference's sink filters).
The pairwise merge and dedupe predicates are pure float math
(``merge_pairs``, ``dedupe_pairs``), evaluated over candidate pairs
only: one sort-sweep over a whole Arrow batch (``page_candidates``)
gives every page, of any size, its pairs along the axis that yields it
fewer, so no n x n array is ever allocated.  It runs twice per batch:
over arrival geometry for merge, and over the sorted post-merge blocks
for dedupe.  Only the order-DEPENDENT greedy state machines (cluster
membership depends on arrival order and current seed set — not
expressible as a window function, SURVEY.md §2.5) remain as Python
loops over the candidate pairs: ``process_page_fast`` (merge, sort)
and ``finish_page`` (dedupe, sink filters).

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


def _overlap(PI, PJ, x0, y0, x1, y1):
    """Strict-intersection test, intersection area and both areas of
    candidate pairs (PI[k], PJ[k]) of indices into the coordinate
    arrays (``inter`` is only meaningful where ``strict``)."""
    il = np.maximum(x0[PI], x0[PJ]); it = np.maximum(y0[PI], y0[PJ])
    ir = np.minimum(x1[PI], x1[PJ]); ib = np.minimum(y1[PI], y1[PJ])
    area = (x1 - x0) * (y1 - y0)
    return (il < ir) & (it < ib), (ir - il) * (ib - it), area[PI], area[PJ]


def merge_pairs(PI, PJ, x0, y0, x1, y1, is_text, dcode):
    """The merge (J3) predicate: overlap >= MERGE_THRESHOLD of the
    SMALLER area, text-only, same direction code (reference
    text_block_sorter.py:161-175).  Returns the passing pairs as
    (min, max) index arrays."""
    strict, inter, ai, aj = _overlap(PI, PJ, x0, y0, x1, y1)
    smaller = np.minimum(ai, aj)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = np.where(strict & (smaller > 0), inter / smaller, 0.0)
    ok = ((ratio >= MERGE_THRESHOLD) & is_text[PI] & is_text[PJ]
          & (dcode[PI] == dcode[PJ]))
    return np.minimum(PI[ok], PJ[ok]), np.maximum(PI[ok], PJ[ok])


def dedupe_pairs(PI, PJ, x0, y0, x1, y1):
    """The duplicate-removal (J2) predicate: overlap >= REMOVE_THRESHOLD
    of the block's OWN area against a strictly larger block (reference
    data_structures.py:41-61, 136-176), in either direction.  Returns
    the passing pairs as (smaller, larger) index arrays."""
    strict, inter, ai, aj = _overlap(PI, PJ, x0, y0, x1, y1)
    with np.errstate(divide="ignore", invalid="ignore"):
        own_i = np.where(strict & (ai != 0), inter / ai, 0.0)
        own_j = np.where(strict & (aj != 0), inter / aj, 0.0)
    ij = (own_i >= REMOVE_THRESHOLD) & (ai < aj)
    ji = (own_j >= REMOVE_THRESHOLD) & (aj < ai)
    return (np.concatenate((PI[ij], PJ[ji])),
            np.concatenate((PJ[ij], PI[ji])))


def _sweep_pairs(starts, x0, y0, x1, y1):
    """Candidate pairs for every page of a batch (blocks grouped by
    page, page g at [starts[g], starts[g + 1]), which may be empty):
    per axis, stable-sort each page's boxes by their low edge, and each
    box pairs with the later boxes of its page whose low edge lies
    below its high edge (one searchsorted for the whole batch, on an
    int64 key ``page * width + rank`` that keeps it inside the page;
    the low and high edges are ranked together, NaN last).  Every strictly
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
        sweeps.append((order, cnt, np.bincount(grp, cnt, len(starts))))
    (ox, cx, tx), (oy, cy, ty) = sweeps
    # a page holds the same sorted positions in either order
    use_y = (ty < tx)[grp]
    order = np.where(use_y, oy, ox)
    cnt = np.where(use_y, cy, cx)
    # first pair of each sorted position, and the pair count at [n]
    start = np.concatenate(([0], np.cumsum(cnt)))
    bounds = [0, *(np.flatnonzero(np.diff(start[:n] // SWEEP_CHUNK)) + 1)
              .tolist(), n]
    for p0, p1 in zip(bounds, bounds[1:]):
        c = cnt[p0:p1]
        first = np.repeat(np.arange(p0, p1), c)
        # pair k of sorted position p has partner p + 1 + (k - start[p])
        second = np.arange(start[p0], start[p0] + len(first)) + np.repeat(
            np.arange(p0 + 1, p1 + 1) - start[p0:p1], c)
        yield order[first], order[second]


def page_candidates(starts, pred, x0, y0, x1, y1, *attrs):
    """The pairs passing ``pred`` (``merge_pairs`` or ``dedupe_pairs``,
    called as ``pred(PI, PJ, x0, y0, x1, y1, *attrs)`` per chunk) for
    every page of a batch, from one sort-sweep (``_sweep_pairs``).

    Returns (pairs, at): page g's pairs are ``pairs[at[g]:at[g + 1]]``,
    page-local (a, b) positions in (a asc, b asc) order, the visit
    order of both greedy state machines."""
    a, b = [], []
    for PI, PJ in _sweep_pairs(starts, x0, y0, x1, y1):
        p, q = pred(PI, PJ, x0, y0, x1, y1, *attrs)
        a.append(p)
        b.append(q)
    # a page's blocks are contiguous, so sorting batch-global pairs
    # sorts by page first
    a, b = np.concatenate(a), np.concatenate(b)
    o = np.lexsort((b, a))
    a, b = a[o], b[o]
    at = np.searchsorted(a, np.append(starts, len(x0)))
    first = np.repeat(starts, np.diff(at))  # each pair's page start
    return list(zip((a - first).tolist(), (b - first).tolist())), at.tolist()


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


def process_page_fast(blocks, merge_cands):
    """Merge (J3) and reading-order sort of one page, in pure Python.

    ``blocks``: list of 9-tuples (x0, y0, x1, y1, conf, direction,
    kind, text, media_ref) in arrival order, pre-zipped ONCE per Arrow
    batch by extract.py (one list slice per page instead of nine).
    ``merge_cands``: the page's ``merge_pairs`` candidates, local
    (i, j) with i < j in (i asc, j asc) order, the visit order of the
    reference's nested loop, so the greedy used-state matches it.

    Returns (final, merged_away): the page's blocks in reading order,
    ``final[p]`` numbered p + 1.  At typical page sizes (10-40 blocks)
    tight loops over primitive floats beat numpy's per-call dispatch
    (measured ~3x); identical IEEE doubles, identical expression order
    and CPython's stable list.sort keep bit-parity with the oracle."""
    n = len(blocks)
    # ---- merge (J3), /root/reference/text_block_sorter.py:178-240 ----
    if merge_cands:
        cand_js: dict[int, list[int]] = {}
        for i, j in merge_cands:
            cand_js.setdefault(i, []).append(j)
        merged = []
        used = [False] * n
        for i in range(n):
            if used[i]:
                continue
            used[i] = True
            cand = [blocks[i]]
            for j in cand_js.get(i, ()):
                if not used[j]:
                    cand.append(blocks[j])
                    used[j] = True
            if len(cand) == 1:
                merged.append(blocks[i])
                continue
            base = max(cand, key=lambda b: b[4])
            merged.append((min(b[0] for b in cand), min(b[1] for b in cand),
                           max(b[2] for b in cand), max(b[3] for b in cand),
                           sum(b[4] for b in cand) / len(cand), base[5],
                           "text", max(cand, key=lambda b: len(b[7]))[7],
                           None))
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
        return rows + cols, n - len(merged)
    return cols + rows, n - len(merged)


def finish_page(final, dd_cands):
    """Duplicate removal (J2) and the sink filters of one sorted page.

    ``dd_cands``: the page's ``dedupe_pairs`` candidates over ``final``,
    (small, large) positions in (small asc, large asc) order.  The
    reference's greedy (/root/reference/data_structures.py:136-176)
    removes block i at i's turn if some block j it duplicates is not
    removed; a j > i is never removed before i's turn, so walking the
    pairs in this order reproduces it.  The sink filters
    (pdf_processor.py:148-150,244-246) apply to text spans only.

    Returns (kinds, texts, refs, orders, dedup_removed, filtered)."""
    removed = [False] * len(final)
    for i, j in dd_cands:
        if not removed[i] and not removed[j]:
            removed[i] = True
    kinds, texts, refs, orders = [], [], [], []
    filtered = 0
    for a, b in enumerate(final):
        if removed[a]:
            continue
        if b[6] == "text" and (
                not b[7].strip() or (b[2] - b[0]) * PT_SCALE < 1
                or (b[3] - b[1]) * PT_SCALE < 1):
            filtered += 1
            continue
        kinds.append(b[6])
        texts.append(b[7])
        refs.append(b[8])
        orders.append(a + 1)
    return kinds, texts, refs, orders, sum(removed), filtered


# the dense-page name of the one state machine (see SMALL_PAGE)
process_page = process_page_fast
