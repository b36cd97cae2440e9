"""Composite probe suites: the single-expression relational micro
operators (SURVEY.md §2 P4-P11, A1/A3/A7, W7/W9, J4, SO1/SO2, F2/F5/
F10, lag-gap sessionization) folded into THREE registry rows so every
implemented operator fits inside the driver's 50-row CORRECTNESS gate
window (VERDICT r3 ask #1 — registration order previously pushed 13
operators past the window and they got no driver evidence).

Packaging, not weakening: each probe keeps its own Spark
implementation and DuckDB oracle (queries/relational.py, ``micro``
registry).  A suite reshapes every probe's result to one shared
schema —

    (probe STRING, key STRING, n BIGINT, m BIGINT,
     r1 DOUBLE, r2 DOUBLE, r3 DOUBLE, s STRING)

— using the SAME reshape expression string on both engines (Spark
``selectExpr`` and DuckDB share the dialect subset used: CAST, ``||``,
STRING/BIGINT/DOUBLE type names), then UNION ALLs the probes.  The
driver's value-hash compare therefore still checks every probe's
values row-for-row; only integers, pre-rounded doubles, and strings
cross the reshape (never a float-to-string cast, whose formatting the
two engines do NOT share).

Scale shape: a suite is a UNION ALL of independently-planned probes —
each keeps its own pushed filters / broadcast joins / partial aggs
(pinned for the members in tests/test_plans.py), and Spark runs the
union's branches as independent stages.
"""

from __future__ import annotations

from functools import reduce

from . import FIXTURE_DIR, MICRO, register

_SUITE_SCHEMA = (("key", "STRING"), ("n", "BIGINT"), ("m", "BIGINT"),
                 ("r1", "DOUBLE"), ("r2", "DOUBLE"), ("r3", "DOUBLE"),
                 ("s", "STRING"))


def _reshape_exprs(mapping: dict[str, str]) -> list[str]:
    """Shared Spark-selectExpr/DuckDB reshape expressions: every suite
    column present (NULL-typed when the probe has no value for it)."""
    unknown = set(mapping) - {c for c, _ in _SUITE_SCHEMA}
    if unknown:
        raise ValueError(f"unknown suite columns: {unknown}")
    return [
        f"CAST({mapping.get(col, 'NULL')} AS {typ}) AS {col}"
        for col, typ in _SUITE_SCHEMA
    ]


def _suite(name: str, doc: str, probes: list[tuple[str, dict[str, str]]]):
    for p, _ in probes:
        if p not in MICRO:
            raise RuntimeError(f"suite {name}: unknown probe {p}")
        # suite members must be PLAIN-SQL-oracled: the composite's SQL
        # wraps each member's oracle verbatim, and a fixture-backed
        # probe (read_parquet over fixtures/expected) would silently
        # couple the suite's correctness row to fixture freshness
        # instead of an independent DuckDB computation (VERDICT r4 ask
        # #8) — register those as their own fixture_sql rows instead
        if FIXTURE_DIR in (MICRO[p].sql or ""):
            raise RuntimeError(
                f"suite {name}: probe {p} is fixture-backed — suites "
                "accept only plain-SQL-oracled probes")
    sql = "\nUNION ALL\n".join(
        f"SELECT '{p}' AS probe, " + ", ".join(_reshape_exprs(m))
        + f" FROM (\n{MICRO[p].sql}\n)"
        for p, m in probes)

    def fn(spark, sf_dir):
        dfs = [MICRO[p].fn(spark, sf_dir)
               .selectExpr(f"'{p}' AS probe", *_reshape_exprs(m))
               for p, m in probes]
        return reduce(lambda a, b: a.unionByName(b), dfs)

    fn.__name__ = name
    fn.__doc__ = doc + "\n\n    Probes: " + ", ".join(p for p, _ in probes)
    return register(name, sql=sql)(fn)


# Import for the @micro side effects (populates MICRO).
from . import relational  # noqa: E402,F401  isort:skip
from . import similarity  # noqa: E402,F401  isort:skip
from . import text_analysis  # noqa: E402,F401  isort:skip


suite_doc_probes = _suite(
    "suite_doc_probes",
    """Documents-table probe suite (P4 empty-text filter, P6 CJK
    predicate, P7 font select, A1 ordered concat, A7 argmax, F2
    substring preview, F10 checkpoint-name format, corpus-LM
    pseudo-perplexity quality score, token Shannon entropy).""",
    [
        ("p4_nonempty_filter",
         {"key": "lang", "n": "n_docs", "m": "total_chars"}),
        ("p6_cjk_predicate",
         {"key": "lang", "n": "n_cjk", "m": "n_docs"}),
        ("p7_font_select",
         {"key": "fontname", "n": "n_docs"}),
        ("a1_ordered_text_concat",
         {"key": "lang", "n": "n_docs", "s": "concat_md5"}),
        ("a7_argmax_doc",
         {"key": "lang", "n": "max_doc_id", "m": "max_n_chars"}),
        ("f2_substring_preview",
         {"key": "CAST(doc_id AS STRING) || '|' || lang", "s": "preview"}),
        ("f10_name_format",
         {"key": "CAST(doc_id AS STRING)", "s": "ckpt_name"}),
        ("text_lm_perplexity",
         {"key": "CAST(doc_id AS STRING) || '|' || lang",
          "n": "n_bigrams", "r1": "ppl"}),
        ("text_token_entropy",
         {"key": "CAST(doc_id AS STRING) || '|' || lang",
          "n": "n_tokens", "r1": "entropy"}),
    ])


suite_event_probes = _suite(
    "suite_event_probes",
    """Events-table probe suite (W7 renumber, W9 top-k preview, SO1
    union-all, SO2 except, P8 direction scale, P11 baseline offset, A3
    empty-guarded mean, lag-gap sessionization).""",
    [
        ("w7_row_number",
         {"key": "CAST(user_id AS STRING) || '|' || "
                 "CAST(event_id AS STRING)", "n": "rn"}),
        ("w9_topk_preview",
         {"key": "CAST(event_id AS STRING)", "n": "user_id",
          "r1": "value_r", "s": "event_type"}),
        ("so1_union_all_counts", {"key": "src", "n": "n"}),
        ("so2_except_types", {"key": "event_type"}),
        ("p8_direction_scale", {"key": "event_type", "r1": "adj_total"}),
        ("w_lag_gap_sessions",
         {"key": "CAST(user_id AS STRING)", "n": "n_sessions",
          "m": "n_events"}),
        ("p11_baseline_offset", {"key": "event_type",
                                 "r1": "avg_baseline"}),
        ("a3_avg_empty_guard",
         {"key": "CAST(user_id AS STRING)", "n": "n_errors",
          "r1": "avg_error_value"}),
    ])


suite_exactness_twins = _suite(
    "suite_exactness_twins",
    """Exactness-twin + relational-headliner suite (round-5
    consolidation, VERDICT r4 ask #3: frees gate-window headroom for
    new operators without losing any probe's driver evidence).
    Members: the two Ω(n)/Ω(n²) ground-truth baselines whose SCALE
    paths are separately gated (``ann_bruteforce_topk`` — exact cosine
    top-k, vs the LSH/IVF/PQ ANN rows; ``dedup_embedding_cosine`` —
    exact all-pairs embedding dedup, vs ``dedup_embedding_verified``),
    plus the q3/q5 TPC-H-shaped join headliners (q1 keeps its own row:
    its 7 numeric aggregates exceed the suite reshape) and the
    unbucketed as-of join ``j_events_asof``, the exact baseline of
    ``j_events_asof_bucketed``.  Each keeps its
    own plan (broadcast dims, TakeOrderedAndProject top-k — pinned in
    tests/test_plans.py) and its own DuckDB oracle; bench.py still
    times ann_bruteforce_topk individually via the MICRO registry.""",
    [
        ("ann_bruteforce_topk",
         {"key": "CAST(vec_id AS STRING)", "n": "vec_id", "m": "label",
          "r1": "cosine"}),
        ("dedup_embedding_cosine",
         {"key": "CAST(v1 AS STRING) || '|' || CAST(v2 AS STRING)",
          "n": "v1", "m": "v2", "r1": "cosine"}),
        ("q3_top_revenue_orders",
         {"key": "CAST(o_orderkey AS STRING)", "n": "o_orderkey",
          "r1": "revenue", "s": "orderdate"}),
        ("q5_nation_revenue",
         {"key": "n_name", "n": "n_items", "r1": "revenue"}),
        ("j_events_asof",
         {"key": "CAST(event_id AS STRING)", "n": "matched_click_id",
          "m": "gap_us",
          "s": "CAST(user_id AS STRING) || '|' || CAST(ts_us AS STRING)"}),
    ])


suite_scalar_probes = _suite(
    "suite_scalar_probes",
    """Scalar/projection probe suite over lineitem/part/customer/
    embeddings (P5 tiny-box filter, P9 rescale, P10 font-size clamp,
    J4 resume anti-join, F5 array min/max).""",
    [
        ("p10_fontsize_clamp",
         {"key": "l_returnflag", "r1": "avg_fs", "r2": "min_fs",
          "r3": "max_fs"}),
        ("p9_rescale_projection",
         {"key": "l_linestatus", "r1": "total_pt"}),
        ("p5_tiny_box_filter",
         {"key": "p_brand", "n": "n_kept", "m": "total_size"}),
        ("j4_resume_anti_join",
         {"key": "'all'", "n": "n_customers_without_orders"}),
        ("f5_array_minmax",
         {"key": "CAST(vec_id AS STRING)", "n": "dim", "r1": "emb_min",
          "r2": "emb_max"}),
    ])
