"""Deterministic synthetic ``documents`` generator.

Plays the role of the reference's golden-input generator
(``/root/reference/create_test_pdf.py:12-75``): seeded, mixed JA/EN
content, layout variety (single/two-column horizontal, right-to-left
vertical columns, mixed pages), plus planted degeneracies that straddle
the merge (0.5, ``/root/reference/text_block_sorter.py:178``) and
duplicate-removal (0.6, ``/root/reference/data_structures.py:136``)
thresholds.

Everything is a pure function of ``(seed, doc_id)`` — no wall clock, no
global RNG — so any subset of documents can be regenerated identically
on any executor (this is what makes bin-level resume exact).

Payload encoding (FIXTURES.md §1.1)::

    text = "<page>;<x0>,<y0>,<x1>,<y1>[;<conf>[;<direction>]]|<content>"

Missing conf/direction segments are legal (decode applies the
reference's defaults 1.0 / "horizontal",
``/root/reference/ocr_processor.py:371-372``).  ``raw_media`` spans
carry only the geometry header (``"<page>;<bbox>;;|"``) plus a
``media_ref``.
"""

from __future__ import annotations

import hashlib
import random

PAGE_W = 1654.0
PAGE_H = 2339.0
DPI = 200  # page raster analog: A4 @ 200dpi -> 1654x2339 px

EN_WORDS = (
    "the quick brown fox jumps over lazy dog data spark engine layout "
    "reading order column row block text page document extract merge "
    "filter sort partition shuffle batch arrow vector kernel stream "
    "table scan join group window hash salt skew resume checkpoint"
).split()

JA_WORDS = (
    "日本語 テスト 文書 処理 抽出 結合 並列 分散 高速 検証 "
    "縦書き 横書き 段落 画像 表 図 頁 行 列 順序 "
    "これはテストです 読み順 重複 削除 統合 変換"
).split()

DIRECTIONS_DEGENERATE = ("diagonal", "unknown")


def _rng_for(doc_id: str, seed: int) -> random.Random:
    h = hashlib.md5(f"{seed}:{doc_id}".encode("utf-8")).hexdigest()
    return random.Random(int(h[:16], 16))


def _content(rng: random.Random) -> str:
    words = JA_WORDS if rng.random() < 0.3 else EN_WORDS
    n = rng.randint(2, 8)
    sep = "" if words is JA_WORDS else " "
    return sep.join(rng.choice(words) for _ in range(n))


def _fmt(page: int, x0: float, y0: float, x1: float, y1: float,
         conf: float | None, direction: str | None, content: str,
         rng: random.Random) -> str:
    head = f"{page};{x0:.1f},{y0:.1f},{x1:.1f},{y1:.1f}"
    if direction is not None:
        c = "" if conf is None else f"{conf:.4f}"
        head += f";{c};{direction}"
    elif conf is not None:
        head += f";{conf:.4f}"
    elif rng.random() < 0.2:
        # exercise the explicit-empty-segments form used by media spans
        head += ";;"
    return head + "|" + content


class _PageBuilder:
    """Accumulates (kind, payload_text, media_ref) tuples for one page."""

    def __init__(self, page: int, rng: random.Random):
        self.page = page
        self.rng = rng
        self.spans: list[tuple[str, str, str | None]] = []
        # remember last text geometry so degeneracies can overlap it
        self.boxes: list[tuple[float, float, float, float]] = []

    def text(self, x0, y0, x1, y1, conf=None, direction=None, content=None):
        rng = self.rng
        if content is None:
            content = _content(rng)
        if conf is None and rng.random() < 0.7:
            conf = round(rng.uniform(0.80, 1.0), 4)
        payload = _fmt(self.page, x0, y0, x1, y1, conf, direction, content, rng)
        self.spans.append(("raw_text", payload, None))
        self.boxes.append((x0, y0, x1, y1))

    def media(self, x0, y0, x1, y1):
        rng = self.rng
        payload = f"{self.page};{x0:.1f},{y0:.1f},{x1:.1f},{y1:.1f};;|"
        ref = f"asset-{rng.getrandbits(32):08x}"
        self.spans.append(("raw_media", payload, ref))
        self.boxes.append((x0, y0, x1, y1))

    def malformed(self):
        bad = self.rng.choice([
            "no pipe separator at all",
            "x;1,2,3,4|bad page",
            "1;1,2,3|too few coords",
            "1;a,b,c,d|bad floats",
            ";|",
            "9;1,2,3,4;notafloat;horizontal|bad conf",
            "badkind",
        ])
        self.spans.append(("raw_text", bad, None))


def _layout_single_h(pb: _PageBuilder):
    rng = pb.rng
    y = float(rng.randint(80, 160))
    for _ in range(rng.randint(4, 10)):
        h = float(rng.randint(40, 70))
        x = 100.0
        for _ in range(rng.randint(1, 2)):
            w = float(rng.randint(300, 600))
            if x + w > PAGE_W - 60:
                break
            pb.text(x, y, x + w, y + h)
            x += w + 40.0
        y += h + float(rng.randint(20, 60))
        if y > PAGE_H - 120:
            break


def _layout_two_col_h(pb: _PageBuilder):
    rng = pb.rng
    for cx0, cx1 in ((100.0, 760.0), (880.0, 1550.0)):
        y = float(rng.randint(80, 200))
        for _ in range(rng.randint(3, 7)):
            h = float(rng.randint(40, 60))
            w = float(rng.randint(250, int(cx1 - cx0)))
            pb.text(cx0, y, cx0 + w, y + h)
            y += h + float(rng.randint(25, 70))
            if y > PAGE_H - 120:
                break


def _layout_vertical(pb: _PageBuilder):
    rng = pb.rng
    x = PAGE_W - 120.0
    for _ in range(rng.randint(2, 5)):
        w = float(rng.randint(50, 70))
        y = float(rng.randint(80, 200))
        for _ in range(rng.randint(2, 5)):
            h = float(rng.randint(200, 420))
            if y + h > PAGE_H - 80:
                break
            pb.text(x - w, y, x, y + h, direction="vertical")
            y += h + float(rng.randint(20, 50))
        x -= w + float(rng.randint(30, 80))
        if x < 200:
            break


def _layout_mixed(pb: _PageBuilder, tie_tops: bool = False):
    rng = pb.rng
    v_top = 100.0
    h_top = 100.0 if tie_tops else float(rng.choice([60, 900, 1300]))
    # vertical group (upper right half)
    x = PAGE_W - 120.0
    for _ in range(rng.randint(1, 3)):
        w = float(rng.randint(50, 70))
        pb.text(x - w, v_top, x, v_top + float(rng.randint(200, 400)),
                direction="vertical")
        x -= w + 40.0
    # horizontal group
    y = h_top
    for _ in range(rng.randint(2, 5)):
        h = float(rng.randint(40, 60))
        pb.text(100.0, y, 100.0 + float(rng.randint(300, 600)), y + h)
        y += h + float(rng.randint(25, 60))


_LAYOUTS = {
    "single_h": _layout_single_h,
    "two_col_h": _layout_two_col_h,
    "vertical": _layout_vertical,
    "mixed": _layout_mixed,
}
ARCHETYPES = tuple(_LAYOUTS)

# planted overlap ratios straddling both thresholds, incl. exact hits
DUP_RATIOS = (0.45, 0.5, 0.55, 0.6, 0.65)


def _plant_dup_pair(pb: _PageBuilder, ratio: float):
    """Two same-size same-direction text boxes with exact overlap ratio
    ``ratio`` (both min-area and own-area denominators coincide for
    equal areas)."""
    rng = pb.rng
    w, h = 100.0, 50.0
    xa = float(rng.randint(100, 1300))
    ya = float(rng.randint(100, 2100))
    dx = round(w * (1.0 - ratio), 1)
    pb.text(xa, ya, xa + w, ya + h)
    pb.text(xa + dx, ya, xa + dx + w, ya + h)


def _plant_contained_cross_direction(pb: _PageBuilder):
    """Small vertical block fully inside a big horizontal block: the
    direction guard blocks merging (/root/reference/text_block_sorter.py:195)
    but duplicate removal has no such guard
    (/root/reference/data_structures.py:159-169) -> smaller is removed."""
    rng = pb.rng
    x = float(rng.randint(100, 1200))
    y = float(rng.randint(100, 2000))
    pb.text(x, y, x + 400.0, y + 200.0, direction="horizontal")
    pb.text(x + 50.0, y + 40.0, x + 130.0, y + 120.0, direction="vertical")


def _plant_media_inside_text(pb: _PageBuilder):
    """Media box inside a larger text box: media never merges, so the
    dedupe stage decides (smaller media removed)."""
    rng = pb.rng
    x = float(rng.randint(100, 1100))
    y = float(rng.randint(100, 1900))
    pb.text(x, y, x + 500.0, y + 300.0)
    pb.media(x + 100.0, y + 50.0, x + 200.0, y + 150.0)


def _plant_junk(pb: _PageBuilder):
    rng = pb.rng
    x = float(rng.randint(100, 1400))
    y = float(rng.randint(100, 2200))
    pb.text(x, y, x + 300.0, y + 40.0, content=rng.choice(["", "   ", "\t "]))
    pb.text(x, y + 60.0, x + 2.0, y + 62.0)  # sub-point tiny box
    pb.text(x, y + 80.0, x + 200.0, y + 120.0,
            direction=rng.choice(DIRECTIONS_DEGENERATE))


def build_document(doc_id: str, seed: int = 42, *,
                   archetype: str | None = None,
                   force_degeneracies: frozenset[str] | None = None,
                   heavy_tail: bool = False) -> dict:
    """Return ``{"doc_id": ..., "spans": [span-dict, ...]}``.

    Pure function of (seed, doc_id) plus the explicit overrides used by
    the golden set.
    """
    rng = _rng_for(doc_id, seed)
    n_pages = rng.randint(1, 4)
    repeat = 10 if heavy_tail else 1
    spans: list[dict] = []
    for page in range(1, n_pages + 1):
        pb = _PageBuilder(page, rng)
        arch = archetype or rng.choice(ARCHETYPES)
        tie = force_degeneracies is not None and "tie_tops" in force_degeneracies
        for _ in range(repeat):
            if arch == "mixed":
                _layout_mixed(pb, tie_tops=tie)
            else:
                _LAYOUTS[arch](pb)
        deg = force_degeneracies
        if deg is None:
            if rng.random() < 0.4:
                _plant_dup_pair(pb, rng.choice(DUP_RATIOS))
            if rng.random() < 0.25:
                _plant_contained_cross_direction(pb)
            if rng.random() < 0.25:
                _plant_media_inside_text(pb)
            if rng.random() < 0.25:
                _plant_junk(pb)
            if rng.random() < 0.1:
                pb.malformed()
            for _ in range(rng.randint(0, 3)):
                x = float(rng.randint(100, 1200))
                y = float(rng.randint(100, 1900))
                pb.media(x, y, x + float(rng.randint(100, 400)),
                         y + float(rng.randint(100, 400)))
        else:
            if "dup_pairs" in deg:
                for r in DUP_RATIOS:
                    _plant_dup_pair(pb, r)
            if "contained" in deg:
                _plant_contained_cross_direction(pb)
                _plant_media_inside_text(pb)
            if "junk" in deg:
                _plant_junk(pb)
            if "malformed" in deg:
                pb.malformed()
                pb.malformed()
            if "media" in deg:
                pb.media(200.0, 200.0, 500.0, 500.0)
        spans.extend(
            {"kind": k, "text": t, "media_ref": m}
            for (k, t, m) in pb.spans
        )
    # offset = arrival position, assigned BEFORE any array shuffle so a
    # shuffled spans array still reconstructs the same reading input
    for i, s in enumerate(spans):
        s["offset"] = i
    shuffled = (force_degeneracies is not None and "shuffle" in force_degeneracies) \
        or (force_degeneracies is None and rng.random() < 0.25)
    if shuffled:
        rng.shuffle(spans)
    return {"doc_id": doc_id, "spans": spans}


def nth_document(i: int, seed: int = 42, prefix: str = "doc",
                 heavy_tail_frac: float = 0.0) -> dict:
    """Document ``i`` of the corpus: id ``{prefix}-{i:08d}``, and every
    ``int(1 / heavy_tail_frac)``-th document (from 0) is heavy-tailed.
    The one source of every synthetic corpus, driver- or executor-side."""
    heavy = heavy_tail_frac > 0 and i % max(1, int(1 / heavy_tail_frac)) == 0
    return build_document(f"{prefix}-{i:08d}", seed, heavy_tail=heavy)


def make_documents(n_docs: int, seed: int = 42, prefix: str = "doc",
                   heavy_tail_frac: float = 0.0) -> list[dict]:
    return [nth_document(i, seed, prefix, heavy_tail_frac)
            for i in range(n_docs)]


_GOLDEN_DEGS = (
    frozenset(),
    frozenset({"dup_pairs"}),
    frozenset({"contained", "media"}),
    frozenset({"junk"}),
    frozenset({"malformed", "shuffle"}),
    frozenset({"tie_tops", "dup_pairs", "media"}),
)


def golden_documents(seed: int = 42) -> list[dict]:
    """24 docs: every archetype x degeneracy-set combination."""
    docs = []
    k = 0
    for deg in _GOLDEN_DEGS:
        for arch in ARCHETYPES:
            docs.append(build_document(
                f"golden-{k:04d}", seed, archetype=arch,
                force_degeneracies=deg))
            k += 1
    return docs
