"""Corpus-curation operators (training-data pipeline layer, round 3):
repetition-quality signals, domain-mixture sampling, deterministic
training-shard shuffle, and PII scrubbing.  All four are plain-SQL
expressible — full DuckDB oracle twins, no fixtures.

Scale stances (per operator, see docstrings):
 - repetition stats: one explode keyed by (doc_id, bigram) — uniform
   per-doc keys, map-side combinable counts; everything else is
   per-row array HOFs.
 - mixture sampling: the per-domain totals are a tiny aggregate that
   BROADCASTS back; the corpus side never shuffles.
 - shard shuffle: exactly one Exchange on the shard key — the
   operator's contract (a training data loader consumes whole shards).
 - PII scrub: pure per-row projection, zero shuffle, zero UDF.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..engine import schemas
from . import load, register
from .corpus_ops import _A, _P, _id_bucket
from .dedup import _ngrams, _spread, _tokens

_WS = r"[ \t\n\x0B\f\r]+"  # Java \s == this class; RE2 \s lacks \x0B

# ------------------------------------------------ repetition quality

_REP_SQL = r"""
WITH base AS (
  SELECT doc_id, lang,
         LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)),
                                        '[ \t\n\x0B\f\r]+'),
                     t -> LENGTH(t) > 0) AS ts,
         LIST_FILTER(STRING_SPLIT(text, CHR(10)),
                     l -> LENGTH(l) > 0) AS ls
  FROM documents),
per AS (
  SELECT doc_id, lang, ts,
         LENGTH(ts) AS n_tok,
         LENGTH(LIST_DISTINCT(ts)) AS n_dist,
         LENGTH(ls) AS n_lines,
         LENGTH(LIST_DISTINCT(ls)) AS n_dist_lines
  FROM base),
bg AS (
  SELECT doc_id,
         UNNEST([ARRAY_TO_STRING(ts[CAST(i AS INT):CAST(i + 1 AS INT)],
                                 ' ')
                 FOR i IN GENERATE_SERIES(1, LENGTH(ts) - 1)]) AS bigram
  FROM per WHERE LENGTH(ts) >= 2),
bgc AS (
  SELECT doc_id, bigram, COUNT(*) AS cnt
  FROM bg GROUP BY doc_id, bigram),
top AS (
  SELECT doc_id, cnt AS top_cnt FROM (
    SELECT doc_id, cnt,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, bigram DESC) AS rn
    FROM bgc) WHERE rn = 1)
SELECT lang,
       ROUND(AVG((n_tok - n_dist)
                 / CAST(GREATEST(n_tok, 1) AS DOUBLE)), 4)
         AS avg_dup_token_frac,
       ROUND(AVG(COALESCE(top_cnt, 0)
                 / CAST(GREATEST(n_tok - 1, 1) AS DOUBLE)), 4)
         AS avg_top_bigram_frac,
       ROUND(AVG((n_lines - n_dist_lines)
                 / CAST(GREATEST(n_lines, 1) AS DOUBLE)), 4)
         AS avg_dup_line_frac,
       CAST(SUM(CASE WHEN (n_tok - n_dist)
                            / CAST(GREATEST(n_tok, 1) AS DOUBLE) > 0.3
                       OR COALESCE(top_cnt, 0)
                            / CAST(GREATEST(n_tok - 1, 1) AS DOUBLE) > 0.2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM per LEFT JOIN top USING (doc_id)
GROUP BY lang
"""


@register("text_repetition_stats", sql=_REP_SQL)
def text_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals, aggregated per lang:

      - duplicate-token fraction  (n_tok - n_distinct) / n_tok
      - top-bigram fraction       occurrences of the most frequent
                                  word 2-gram / (n_tok - 1)
      - duplicate-line fraction   (n_lines - n_distinct_lines) /
                                  n_lines  (0 on single-line docs; the
                                  unit test exercises multi-line text)
      - n_flagged: docs tripping the repetition gate
        (dup_token_frac > 0.3 OR top_bigram_frac > 0.2) — the
        boilerplate/spam removal filter every web-scale pipeline runs
        (c.f. the repetition filters in published LM data reports).

    Scale shape: token/line stats are per-row array HOFs (no shuffle).
    The top-bigram mode needs a count per (doc_id, bigram) — ONE
    explode + map-side-combinable groupBy on uniform per-doc keys, then
    a per-doc window (keys are doc_id: no skew, no global window).
    Ties broken (cnt DESC, bigram DESC) identically in both engines."""
    d = _spread(load(spark, sf_dir, "documents"))
    lines = F.filter(F.split("text", "\n"), lambda x: F.length(x) > 0)
    base = d.select("doc_id", "lang",
                    _tokens(F.col("text")).alias("ts"),
                    lines.alias("ls"))
    per = base.select(
        "doc_id", "lang", "ts",
        F.size("ts").alias("n_tok"),
        F.size(F.array_distinct("ts")).alias("n_dist"),
        F.size("ls").alias("n_lines"),
        F.size(F.array_distinct("ls")).alias("n_dist_lines"))
    # single-compute: `top` below is DERIVED from per (bigram explode)
    # and joined back onto per — materialize once or the tokenize/HOF
    # projection runs on both join sides (self-join recompute trap,
    # CLAUDE.md; ADVICE r3)
    per = per.localCheckpoint(eager=False)
    # ts is a materialized column, so the HOF lambda references a leaf
    # — no per-element re-evaluation (CLAUDE.md HOF trap)
    bg = (per.where(F.col("n_tok") >= 2)
          .select("doc_id", F.explode(_ngrams(F.col("ts"), 2))
                  .alias("bigram")))
    bgc = bg.groupBy("doc_id", "bigram").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"),
                                             F.desc("bigram"))
    top = (bgc.withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") == 1)
           .select("doc_id", F.col("cnt").alias("top_cnt")))
    j = per.drop("ts").join(top, "doc_id", "left")
    dup_tok = ((F.col("n_tok") - F.col("n_dist"))
               / F.greatest("n_tok", F.lit(1)).cast("double"))
    top_frac = (F.coalesce("top_cnt", F.lit(0))
                / F.greatest(F.col("n_tok") - 1, F.lit(1)).cast("double"))
    dup_line = ((F.col("n_lines") - F.col("n_dist_lines"))
                / F.greatest("n_lines", F.lit(1)).cast("double"))
    return (j.groupBy("lang")
            .agg(F.round(F.avg(dup_tok), 4).alias("avg_dup_token_frac"),
                 F.round(F.avg(top_frac), 4).alias("avg_top_bigram_frac"),
                 F.round(F.avg(dup_line), 4).alias("avg_dup_line_frac"),
                 F.sum(F.when((dup_tok > 0.3) | (top_frac > 0.2), 1)
                       .otherwise(0)).cast("long").alias("n_flagged"),
                 F.count("*").alias("n_docs")))


# ------------------------------------------------- domain mixture

# target mixture in milli-units (sums to 1000); langs absent from the
# map are excluded from the sample
_MIX_MILLI = {"en": 350, "fr": 200, "es": 175, "de": 150, "zh": 125}

_MIX_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(LENGTH(LIST_FILTER(
             STRING_SPLIT_REGEX(LOWER(TRIM(text)), '{_WS}'),
             t -> LENGTH(t) > 0)) AS BIGINT) AS n_tok
  FROM documents),
tot AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS tot_tokens
        FROM t GROUP BY lang),
grand AS (SELECT CAST(SUM(tot_tokens) AS BIGINT) // 2 AS tgt FROM tot),
w(lang, w_milli) AS (VALUES {", ".join(
    f"('{k}', {v})" for k, v in sorted(_MIX_MILLI.items()))}),
thr AS (
  SELECT tot.lang, tot.tokens_l AS tot_tokens, w.w_milli,
         LEAST(1000000, CAST(FLOOR(
             1000000.0 * w.w_milli * grand.tgt
             / (1000.0 * tot.tokens_l)) AS BIGINT)) AS threshold
  FROM (SELECT lang, tot_tokens AS tokens_l FROM tot) tot
  JOIN w USING (lang) CROSS JOIN grand)
SELECT t.lang,
       CAST(COUNT(*) AS BIGINT) AS n_selected,
       CAST(SUM(t.n_tok) AS BIGINT) AS sel_tokens,
       thr.threshold, thr.tot_tokens
FROM t JOIN thr ON t.lang = thr.lang
WHERE ((t.doc_id % {_P}) * {_A}) % {_P} % 1000000 < thr.threshold
GROUP BY t.lang, thr.threshold, thr.tot_tokens
"""


@register("sample_domain_mixture", sql=_MIX_SQL)
def sample_domain_mixture(spark, sf_dir):
    """Domain-mixture sampling: hit a target token budget (half the
    corpus) at fixed per-language mixture weights — the data-mixing
    stage of LM pretraining (per-domain sampling rates as in published
    training-mixture recipes), with membership pinned to content
    identity (Lehmer id-hash threshold), not RNG state.

    rate_l = min(1, w_l * budget / tokens_l); doc selected iff
    hash(doc_id) % 1e6 < floor(1e6 * rate_l).  The float expression
    tree is spelled identically in both engines (IEEE doubles give the
    same threshold), and the selection itself is pure BIGINT.

    Scale shape: per-lang totals are a tiny map-side-combinable
    aggregate (|langs| rows) joined back via BROADCAST; the corpus
    side is scanned twice (totals pass + filter pass) but never
    shuffles — at 100 TB the totals pass is the cheap one (2 longs per
    doc cross the wire) and a production run would cache it with the
    corpus stats rollup."""
    d = _spread(load(spark, sf_dir, "documents"))
    t = d.select(
        "doc_id", "lang",
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tok"))
    tot = t.groupBy("lang").agg(
        F.sum("n_tok").cast("long").alias("tot_tokens"))
    grand = tot.agg(F.expr("CAST(SUM(tot_tokens) AS BIGINT) DIV 2")
                    .alias("tgt"))
    w = schemas.local_frame(
        spark, [{"lang": k, "w_milli": v}
                for k, v in sorted(_MIX_MILLI.items())],
        T.StructType.fromDDL("lang string, w_milli int"))
    thr = (tot.join(F.broadcast(w), "lang").crossJoin(F.broadcast(grand))
           .select("lang", "tot_tokens",
                   F.least(
                       F.lit(1000000),
                       F.floor(F.lit(1000000.0) * F.col("w_milli")
                               * F.col("tgt")
                               / (F.lit(1000.0) * F.col("tot_tokens")))
                       .cast("long")).alias("threshold")))
    bucket = _id_bucket(1000000)
    return (t.join(F.broadcast(thr), "lang")
            .where(bucket < F.col("threshold"))
            .groupBy("lang", "threshold", "tot_tokens")
            .agg(F.count("*").alias("n_selected"),
                 F.sum("n_tok").cast("long").alias("sel_tokens"))
            .select("lang", "n_selected", "sel_tokens",
                    "threshold", "tot_tokens"))


# ------------------------------------------- training-shard shuffle

_SEED = 20260817
_SHUF_SHARDS = 16

_SHUF_SQL = f"""
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard
                               ORDER BY h, doc_id) AS BIGINT) AS pos
FROM (SELECT doc_id,
             ((doc_id + {_SEED}) % {_P} * {_A}) % {_P} AS h,
             CAST(((doc_id + {_SEED}) % {_P} * {_A}) % {_P}
                  % {_SHUF_SHARDS} AS INT) AS shard
      FROM documents)
"""


@register("shard_global_shuffle", sql=_SHUF_SQL)
def shard_global_shuffle(spark, sf_dir):
    """Deterministic global training shuffle: every doc gets a
    pseudo-random yet rerun-stable position (shard, pos) — the final
    reorder before a training run consumes the corpus, decoupled from
    input file layout and reproducible across engines (seeded Lehmer
    hash, not RNG).

    Scale shape: ONE Exchange on the shard key (the operator's
    contract — a data loader consumes whole shards), then a per-shard
    sort for ROW_NUMBER.  _SHUF_SHARDS is the scale dial exactly as in
    pack_sequences: production sets it ~ the writer count so each
    shard's sort fits an executor; hash collisions are broken by
    doc_id so the order is total and engine-independent."""
    d = load(spark, sf_dir, "documents")
    h = F.pmod(F.pmod(F.col("doc_id") + _SEED, F.lit(_P)) * _A,
               F.lit(_P))
    t = d.select("doc_id", h.alias("h"),
                 F.pmod(h, F.lit(_SHUF_SHARDS)).cast("int")
                 .alias("shard"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return t.select("doc_id", "shard",
                    F.row_number().over(w).cast("long").alias("pos"))


# --------------------------------------------- corpus distributions

_QUANTS = (0.5, 0.9, 0.99)


@register("corpus_length_quantiles", sql=f"""
SELECT lang,
       ROUND(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
       ROUND(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
       ROUND(quantile_cont(n_chars, 0.99), 4) AS p99_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY lang
""")
def corpus_length_quantiles(spark, sf_dir):
    """Per-language document-length quantiles (p50/p90/p99) — the
    distribution report that sizes context windows, truncation policy,
    and skew handling for a corpus release.  Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` both linearly interpolate, so the twins
    agree exactly (rounded).

    Scale note: exact percentile holds per-group sorted state — fine
    for per-lang groups (|langs| groups, n_chars is one long per doc),
    but at 100 TB a group's value list is O(docs in the lang)."""
    d = load(spark, sf_dir, "documents")
    qs = [F.round(F.expr(f"percentile(n_chars, {q})"), 4)
          .alias(f"p{int(q * 100)}_chars") for q in _QUANTS]
    return (d.groupBy("lang")
            .agg(*qs, F.max("n_chars").cast("long").alias("max_chars"),
                 F.count("*").alias("n_docs")))


_TOPN = 20


@register("corpus_top_ngrams", sql=f"""
WITH toks AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)),
                 '{_WS}'), t -> LENGTH(t) > 0) AS ts
  FROM documents),
bg AS (
  SELECT UNNEST([ARRAY_TO_STRING(ts[CAST(i AS INT):CAST(i + 1 AS INT)],
                                 ' ')
                 FOR i IN GENERATE_SERIES(1, LENGTH(ts) - 1)]) AS bigram
  FROM toks WHERE LENGTH(ts) >= 2)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM bg GROUP BY bigram
ORDER BY n_occurrences DESC, bigram LIMIT {_TOPN}
""")
def corpus_top_ngrams(spark, sf_dir):
    """Corpus-wide top-{_TOPN} word bigrams — the n-gram frequency
    table used for boilerplate discovery and contamination screens.

    Scale shape: explode -> map-side-combinable groupBy on the bigram
    key -> ``orderBy().limit()`` = TakeOrderedAndProject (per-partition
    top-N, merged on the driver) — NEVER a global sort or a
    single-partition window.  Ties broken by bigram text in both
    engines so the cut at N is deterministic."""
    d = _spread(load(spark, sf_dir, "documents"))
    base = d.select(_tokens(F.col("text")).alias("ts"))
    return (base.where(F.size("ts") >= 2)
            .select(F.explode(_ngrams(F.col("ts"), 2)).alias("bigram"))
            .groupBy("bigram")
            .agg(F.count("*").alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), "bigram")
            .limit(_TOPN))


# ------------------------------------------------------ PII scrub

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
_PHONE_RE = r"\+?[0-9][0-9 ()-]{6,}[0-9]"

_PII_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' Contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 555-'
              || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.7 now' AS t
  FROM documents WHERE doc_id < 50)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(t,
           '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_IP_RE}', '<IP>', 'g'),
           '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
       CAST(LENGTH(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT)
         AS n_email,
       CAST(LENGTH(regexp_extract_all(t, '{_IP_RE}')) AS BIGINT)
         AS n_ip,
       CAST(LENGTH(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT)
         AS n_phone
FROM aug ORDER BY doc_id
"""


@register("text_pii_scrub", sql=_PII_SQL)
def text_pii_scrub(spark, sf_dir):
    """PII redaction: emails, IPv4 addresses, phone numbers replaced
    with typed placeholders, with per-doc redaction counts — the
    compliance scrub a public data release runs after extraction.

    The synthetic corpus carries no PII, so the query first APPENDS a
    deterministic doc_id-derived PII suffix on BOTH engines — the gate
    then actually exercises every regex (replacement + count) instead
    of hashing an identity transform.  Patterns are RE2-compatible and
    ASCII-anchored so Java regex and RE2 agree; replacement order
    (email -> IP -> phone) is pinned: the phone class excludes '.' and
    '@' so earlier replacements can't create or destroy later matches.

    Scale shape: pure per-row projection in whole-stage codegen — no
    shuffle, no UDF (regexp_replace/regexp_count are JVM built-ins)."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    aug = F.concat(
        F.col("text"), F.lit(" Contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.com or +1 555-"),
        F.lpad(F.pmod("doc_id", F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" at 10.0."), F.pmod("doc_id", F.lit(256)).cast("string"),
        F.lit(".7 now"))
    t = d.select("doc_id", aug.alias("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("t", _EMAIL_RE, "<EMAIL>"),
            _IP_RE, "<IP>"),
        _PHONE_RE, "<PHONE>")
    return (t.select(
        "doc_id", scrubbed.alias("scrubbed"),
        F.regexp_count("t", F.lit(_EMAIL_RE)).cast("long")
        .alias("n_email"),
        F.regexp_count("t", F.lit(_IP_RE)).cast("long").alias("n_ip"),
        F.regexp_count("t", F.lit(_PHONE_RE)).cast("long")
        .alias("n_phone"))
        .orderBy("doc_id"))
