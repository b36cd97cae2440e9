"""Corpus-level training-data pipeline operators: deterministic split
assignment and eval-set decontamination.

Both are plain-SQL-expressible (full DuckDB oracle twins).  The split
hash is arithmetic (Knuth multiplicative), not a Spark builtin, so the
SAME expression runs in both engines at every scale — the standard way
production pipelines pin train/val/test membership to content identity
rather than to file layout or sampling RNG state.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import FIXTURE_DIR, load, register
from .dedup import _spread, _tokens, shingles

# Lehmer/MINSTD multiplicative hash over the Mersenne prime 2^31-1:
# identical BIGINT arithmetic in Spark and DuckDB AND overflow-safe at
# any doc_id — (id % p) * 48271 < 2^47, far inside int64, so ANSI-mode
# Spark never throws at 10^12-scale ids (a plain id*K mod 2^32 would
# overflow long multiplication there).
_A = 48271
_P = 2147483647


def _id_bucket(m: int):
    """A doc's hash bucket in [0, m): pmod(pmod(pmod(doc_id, P) * A, P), m)."""
    return F.pmod(F.pmod(F.pmod("doc_id", F.lit(_P)) * F.lit(_A),
                         F.lit(_P)), F.lit(m))


def _split():
    """A doc's 80/10/10 train/val/test split from its 100-way id
    bucket."""
    bucket = _id_bucket(100)
    return (F.when(bucket < 80, "train")
            .when(bucket < 90, "val").otherwise("test"))


@register("sample_hash_split", sql=f"""
SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT lang, n_chars,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT lang, n_chars,
               ((doc_id % {_P}) * {_A}) % {_P} % 100 AS bucket
        FROM documents))
GROUP BY lang, split
""")
def sample_hash_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split by content-id hash
    (reservoir/sampleBy alternatives are RNG- and partitioning-
    dependent; a multiplicative id hash gives every engine and every
    rerun the same membership).  Output: per (lang, split) doc counts
    — the assignment itself is the per-row ``split`` column."""
    d = load(spark, sf_dir, "documents")
    return (d.select("lang", "n_chars", _split().alias("split"))
            .groupBy("lang", "split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


@register("rollup_corpus_stats", sql="""
SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(AVG(n_chars), 4) AS avg_chars
FROM documents GROUP BY ROLLUP (source, lang)
""")
def rollup_corpus_stats(spark, sf_dir):
    """Hierarchical corpus dashboard: per-(source, lang), per-source,
    and grand-total stats in ONE pass via ROLLUP grouping sets — the
    release-report aggregation every corpus pipeline maintains, without
    3 separate scans.  Integer sums keep the avg deterministic across
    partitionings (exact long sum / count)."""
    d = load(spark, sf_dir, "documents")
    return (d.rollup("source", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars")))


_EVAL_MAX_ID = 10  # doc_id < 10 plays the held-out benchmark set


@register("decontaminate_ngram_overlap", sql=f"""
WITH toks AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+'),
                     t -> LENGTH(t) > 0) AS ts
  FROM documents
), sh AS (
  SELECT doc_id, UNNEST(LIST_DISTINCT(
           [ARRAY_TO_STRING(ts[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')
            FOR i IN GENERATE_SERIES(1, GREATEST(LENGTH(ts) - 2, 1))]))
         AS shingle
  FROM toks
)
SELECT tr.doc_id,
       CAST(COUNT(DISTINCT tr.shingle) AS BIGINT) AS n_shared_shingles,
       CAST(COUNT(DISTINCT ev.doc_id) AS BIGINT) AS n_eval_docs
FROM sh tr JOIN sh ev ON tr.shingle = ev.shingle
WHERE tr.doc_id >= {_EVAL_MAX_ID} AND ev.doc_id < {_EVAL_MAX_ID}
  AND LENGTH(tr.shingle) > 0 AND LENGTH(ev.shingle) > 0
GROUP BY tr.doc_id
""")
def decontaminate_ngram_overlap(spark, sf_dir):
    """Test-set decontamination screen: training docs sharing >=1
    word-3-gram shingle with ANY held-out eval doc (here: doc_id <
    10), with overlap counts — the operator every training pipeline
    runs before a data release (n-gram overlap decontamination as in
    published LM training reports).

    Scale shape: the eval side is small by definition -> its shingle
    set BROADCASTS; the training side streams through the join without
    shuffling, and only (doc_id, counts) rows aggregate."""
    sh = shingles(_spread(load(spark, sf_dir, "documents")))
    ev = (sh.where(F.col("doc_id") < _EVAL_MAX_ID)
          .select(F.col("doc_id").alias("eval_doc"),
                  F.col("shingle").alias("ev_shingle")))
    tr = sh.where(F.col("doc_id") >= _EVAL_MAX_ID)
    return (tr.join(F.broadcast(ev),
                    tr.shingle == F.col("ev_shingle"))
            .groupBy("doc_id")
            .agg(F.countDistinct("shingle").alias("n_shared_shingles"),
                 F.countDistinct("eval_doc").alias("n_eval_docs")))

# ------------------------------------------------ release pipeline
_RELEASE_SQL = f"""
WITH pairs AS (
  SELECT d1, d2
  FROM read_parquet('{FIXTURE_DIR}/dedup_jaccard_verified.parquet')
  WHERE _corpus = (SELECT SUM(n_chars) FROM documents)
),
e AS (SELECT d1 AS s, d2 AS t FROM pairs
      UNION SELECT d2, d1 FROM pairs),
r AS (
  WITH RECURSIVE reach(s, t) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT reach.s, e.t FROM reach JOIN e ON reach.t = e.s
  ) SELECT * FROM reach
),
clusters AS (SELECT s AS doc_id, MIN(t) AS cluster_id FROM r GROUP BY s),
toks AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)),
                 '[ \\t\\n\\x0B\\f\\r]+'), t -> LENGTH(t) > 0) AS ts
  FROM documents
),
quality AS (
  SELECT d.doc_id FROM documents d JOIN toks USING (doc_id)
  WHERE d.n_chars >= 100
    AND LENGTH(LIST_FILTER(ts,
          t -> t IN ('the', 'a', 'an', 'of', 'and', 'or', 'to',
                     'in', 'is')))
        / CAST(GREATEST(LENGTH(ts), 1) AS DOUBLE) >= 0.05
),
splits AS (
  SELECT doc_id,
         CASE WHEN ((doc_id % {{P}}) * {{A}}) % {{P}} % 100 < 80
                THEN 'train'
              WHEN ((doc_id % {{P}}) * {{A}}) % {{P}} % 100 < 90
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
sh AS (
  SELECT doc_id, UNNEST(LIST_DISTINCT(
           [ARRAY_TO_STRING(ts[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')
            FOR i IN GENERATE_SERIES(1, GREATEST(LENGTH(ts) - 2, 1))]))
         AS shingle
  FROM toks
),
contaminated AS (
  SELECT DISTINCT tr.doc_id
  FROM sh tr JOIN sh ev ON tr.shingle = ev.shingle
  WHERE tr.doc_id >= {{E}} AND ev.doc_id < {{E}}
    AND LENGTH(tr.shingle) > 0
),
reps AS (
  SELECT cl.cluster_id, MIN(d.doc_id) AS rep_doc
  FROM documents d
  JOIN clusters cl USING (doc_id)
  JOIN quality q USING (doc_id)
  WHERE d.doc_id >= {{E}}
  GROUP BY cl.cluster_id
)
SELECT d.doc_id, d.lang, s.split,
       CASE WHEN q.doc_id IS NULL THEN 'quality'
            WHEN d.doc_id <> rp.rep_doc THEN 'duplicate'
            WHEN s.split = 'train' AND c.doc_id IS NOT NULL
              THEN 'contaminated'
       END AS drop_reason,
       (q.doc_id IS NOT NULL AND d.doc_id = rp.rep_doc
        AND NOT (s.split = 'train' AND c.doc_id IS NOT NULL))
         AS released
FROM documents d
JOIN splits s USING (doc_id)
JOIN clusters cl USING (doc_id)
LEFT JOIN quality q USING (doc_id)
LEFT JOIN reps rp ON rp.cluster_id = cl.cluster_id
LEFT JOIN contaminated c USING (doc_id)
WHERE d.doc_id >= {{E}}
""".replace("{P}", str(_P)).replace("{A}", str(_A)) \
   .replace("{E}", str(_EVAL_MAX_ID))


@register("release_pipeline", sql=_RELEASE_SQL)
def release_pipeline(spark, sf_dir):
    """The end-to-end release artifact a training-data run ships
    (VERDICT r2 ask #6), composed from the already-verified operators:

      quality gate (text_quality_score's keep predicate: n_chars >=
      100 AND stopword ratio >= 0.05)
      -> near-dup clusters (dedup_cluster_resolve_scaled: the
         corpus-scale LSH -> verify -> connected-components pipeline),
         keeping ONE representative per cluster among the gated
         survivors (min surviving doc_id — gates run first so a
         cluster whose global keeper was itself rejected still
         releases a member)
      -> deterministic 80/10/10 split (sample_hash_split's Lehmer
         id hash)
      -> decontamination (train-split docs sharing any word-3-gram
         shingle with the held-out eval set, doc_id < 10, are dropped;
         val/test overlap is reported by the standalone operator, not
         a removal criterion)

    Output: the RELEASE REPORT — one row per candidate doc:
    (doc_id, lang, split, drop_reason, released).  ``released = true``
    rows are the final per-split doc sets; dropped rows carry the
    first gate that rejected them (quality -> duplicate ->
    contaminated), which is the lineage a data release ships alongside
    the sets.  The held-out eval docs themselves are excluded.  (On
    the deliberately near-dup-dense synthetic corpus most drops are
    'duplicate' — ~23 clusters cover 500 docs at sf0.01 — which is
    the pipeline working as designed, not a gate bug.)

    Scale shape: inherits each stage's bounds — no new shuffle beyond
    the keeper join on doc_id (uniform key), the split is a per-row
    expression, and the decontamination anti-join broadcasts only the
    contaminated-id list (bounded by the training docs that overlap
    the eval set)."""
    from .dedup import dedup_cluster_resolve_scaled
    from .text_analysis import _quality_keep, _stop_ratio

    d = load(spark, sf_dir, "documents")
    clusters = (dedup_cluster_resolve_scaled(spark, sf_dir)
                .select("doc_id", "cluster_id"))
    contaminated = (decontaminate_ngram_overlap(spark, sf_dir)
                    .select("doc_id").withColumn("_c", F.lit(True)))
    base = (d.where(F.col("doc_id") >= _EVAL_MAX_ID)
            .select("doc_id", "lang", _split().alias("split"),
                    _quality_keep(_stop_ratio()).alias("_q"))
            .join(clusters, "doc_id")
            # reps below derives from base and joins back: materialize
            # once (lazy) or the stop-ratio tokenize + cluster join run
            # on BOTH sides (the CLAUDE.md self-join recompute trap)
            .localCheckpoint(eager=False))
    # one representative per near-dup cluster AMONG the gated
    # survivors (gates run first: a cluster whose min-id keeper fell
    # to the quality gate or the eval-id exclusion must still release
    # its smallest surviving member)
    reps = (base.where("_q").groupBy("cluster_id")
            .agg(F.min("doc_id").alias("_rep")))
    joined = (base.join(reps, "cluster_id", "left")
              .join(contaminated, "doc_id", "left"))
    reason = (F.when(~F.col("_q"), "quality")
              .when(F.col("doc_id") != F.col("_rep"), "duplicate")
              .when((F.col("split") == "train") & F.col("_c").isNotNull(),
                    "contaminated"))
    return joined.select("doc_id", "lang", "split",
                         reason.alias("drop_reason"),
                         reason.isNull().alias("released"))


# ------------------------------------------------- sequence packing

_CTX = 2048     # tokens per training context window
_NSHARDS = 8    # independent packing streams (scale dial, see below)

_PACK_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CAST(((doc_id % {P}) * {A}) % {P} % {S} AS INT) AS shard,
         CAST(LENGTH(LIST_FILTER(
             STRING_SPLIT_REGEX(LOWER(TRIM(text)), '[ \t\n\x0B\f\r]+'),
             t -> LENGTH(t) > 0)) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS BIGINT) AS cum
  FROM t)
SELECT doc_id, shard, n_tokens,
       cum // {C} AS seq_id,
       cum % {C} AS tok_offset,
       CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
            ELSE (cum + n_tokens - 1) // {C} - cum // {C} + 1
       END AS n_windows
FROM c
""".replace("{P}", str(_P)).replace("{A}", str(_A)) \
   .replace("{S}", str(_NSHARDS)).replace("{C}", str(_CTX))


@register("pack_sequences", sql=_PACK_SQL)
def pack_sequences(spark, sf_dir):
    """Sequence packing for training batches: documents are
    concatenated in deterministic order and chopped into fixed
    _CTX-token context windows (the standard LLM pretraining layout —
    no padding waste), emitted as per-doc placement metadata
    (doc_id, shard, n_tokens, seq_id, tok_offset, n_windows) that a
    writer turns into token streams.

    Scale shape: packing is embarrassingly parallel ACROSS shards and
    inherently sequential WITHIN one (each doc's offset depends on
    every prior doc in its stream) — so the corpus is split into
    _NSHARDS independent streams by the same Lehmer id-hash as
    sample_hash_split, and the only shuffle is the window's
    partitionBy(shard).  _NSHARDS is the scale dial: production sets
    it ~ the writer count so each shard's ORDER BY doc_id sort fits an
    executor (10^12 docs / 10^5 shards = 10^7-doc sorts); global
    contiguity across shards is not a training requirement.  All
    arithmetic is integer (window SUM, DIV, MOD) — no float drift.

    A doc may straddle windows (n_windows > 1): concatenate-and-chop
    semantics, exactly GPT-style packing.  Empty docs (0 tokens)
    occupy no window."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    shard = _id_bucket(_NSHARDS).cast("int")
    t = d.select("doc_id", shard.alias("shard"),
                 F.size(toks).cast("long").alias("n_tokens"))
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    c = t.withColumn("cum", F.coalesce(F.sum("n_tokens").over(w),
                                       F.lit(0)).cast("long"))
    return c.select(
        "doc_id", "shard", "n_tokens",
        F.expr(f"cum DIV {_CTX}").alias("seq_id"),
        F.pmod("cum", F.lit(_CTX)).cast("long").alias("tok_offset"),
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("long"))
         .otherwise(F.expr(f"(cum + n_tokens - 1) DIV {_CTX} - "
                           f"cum DIV {_CTX} + 1")).alias("n_windows"))
