"""Text-analysis operators over ``documents`` (training-data pipeline
layer): token counting, quality scoring, language-ID heuristic,
document fingerprinting.  All pure built-in expressions (JVM-side,
whole-stage codegen) with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import load, micro, register
from .dedup import _spread, _tokens
from .relational import CJK_RE_DUCK, CJK_RE_SPARK

_PUNCT_SPARK = "[.,;:!?]"
_PUNCT_DUCK = "[.,;:!?]"
_STOPWORDS = ("the", "a", "an", "of", "and", "or", "to", "in", "is")


@register("text_token_count", sql=r"""
SELECT lang,
       CAST(SUM(LENGTH(LIST_FILTER(
           STRING_SPLIT_REGEX(LOWER(TRIM(text)), '[ \t\n\x0B\f\r]+'),
           t -> LENGTH(t) > 0))) AS BIGINT) AS total_tokens,
       ROUND(AVG(LENGTH(LIST_FILTER(
           STRING_SPLIT_REGEX(LOWER(TRIM(text)), '[ \t\n\x0B\f\r]+'),
           t -> LENGTH(t) > 0))), 4) AS avg_tokens,
       COUNT(*) AS n_docs
FROM documents GROUP BY lang
""")
def text_token_count(spark, sf_dir):
    """Whitespace token counting (per-doc token stats by language)."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    return (
        d.select("lang", F.size(toks).alias("n_tok"))
        .groupBy("lang")
        .agg(F.sum("n_tok").cast("long").alias("total_tokens"),
             F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
             F.count("*").alias("n_docs"))
    )


def _stop_ratio():
    """Share of the ``text`` column's tokens that are stopwords (0 for
    no tokens)."""
    toks = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    return (F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
            / F.greatest(F.size(toks), F.lit(1)).cast("double"))


def _quality_keep(stop_ratio):
    """The quality gate's keep predicate: n_chars >= 100 and a
    stopword ratio of at least 0.05."""
    return (F.col("n_chars") >= 100) & (stop_ratio >= 0.05)


@register("text_quality_score", sql=rf"""
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         LENGTH(regexp_extract_all(text, '{_PUNCT_DUCK}'))
           / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE) AS punct_ratio,
         LENGTH(LIST_FILTER(
             STRING_SPLIT_REGEX(LOWER(TRIM(text)), '[ \t\n\x0B\f\r]+'),
             t -> t IN {_STOPWORDS}))
           / CAST(GREATEST(LENGTH(LIST_FILTER(
             STRING_SPLIT_REGEX(LOWER(TRIM(text)), '[ \t\n\x0B\f\r]+'),
             t -> LENGTH(t) > 0)), 1) AS DOUBLE) AS stop_ratio
  FROM documents)
SELECT lang,
       ROUND(AVG(punct_ratio), 4) AS avg_punct_ratio,
       ROUND(AVG(stop_ratio), 4) AS avg_stop_ratio,
       CAST(SUM(CASE WHEN n_chars >= 100 AND stop_ratio >= 0.05
                THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
FROM scored GROUP BY lang
""")
def text_quality_score(spark, sf_dir):
    """Quality heuristics: punctuation ratio, stopword ratio, and a
    simple keep/drop gate (length + stopword floor)."""
    d = load(spark, sf_dir, "documents")
    punct_ratio = (F.regexp_count("text", F.lit(_PUNCT_SPARK))
                   / F.greatest(F.length("text"), F.lit(1))
                   .cast("double"))
    return (
        d.select("lang", "n_chars",
                 punct_ratio.alias("punct_ratio"),
                 _stop_ratio().alias("stop_ratio"))
        .groupBy("lang")
        .agg(F.round(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
             F.round(F.avg("stop_ratio"), 4).alias("avg_stop_ratio"),
             F.sum(F.when(_quality_keep(F.col("stop_ratio")), 1)
                   .otherwise(0)).cast("long").alias("n_quality"))
    )


@register("text_langid_heuristic", sql=f"""
SELECT lang,
       CASE WHEN regexp_matches(text, '{CJK_RE_DUCK}') THEN 'cjk'
            WHEN LENGTH(regexp_extract_all(text, '[A-Za-z]'))
                 >= 0.5 * GREATEST(LENGTH(text), 1) THEN 'latin'
            ELSE 'other' END AS predicted,
       COUNT(*) AS n_docs
FROM documents GROUP BY lang, predicted ORDER BY lang, predicted
""")
def text_langid_heuristic(spark, sf_dir):
    """Character-class language-ID heuristic -> confusion counts vs the
    labeled lang column."""
    d = load(spark, sf_dir, "documents")
    latin_cnt = F.regexp_count("text", F.lit("[A-Za-z]"))
    predicted = (
        F.when(F.col("text").rlike(CJK_RE_SPARK), "cjk")
        .when(latin_cnt >= 0.5 * F.greatest(F.length("text"), F.lit(1)),
              "latin")
        .otherwise("other")
    )
    return (
        d.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted").agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "predicted")
    )


@register("text_fingerprint", sql=r"""
SELECT doc_id,
       MD5(regexp_replace(LOWER(TRIM(text)), '[ \t\n\x0B\f\r]+', ' ', 'g'))
         AS fingerprint
FROM documents WHERE doc_id < 50 ORDER BY doc_id
""")
def text_fingerprint(spark, sf_dir):
    """Normalized content fingerprint (whitespace-collapsed md5) — the
    cheap exact-dup key for corpus-level dedupe."""
    d = load(spark, sf_dir, "documents")
    return (
        d.where(F.col("doc_id") < 50)
        .select("doc_id",
                F.md5(F.regexp_replace(F.lower(F.trim("text")),
                                       r"\s+", " ")).alias("fingerprint"))
        .orderBy("doc_id")
    )


# explicit whitespace class: Java regex \s includes \x0B, RE2's does
# not — spelling it out keeps the two engines' token counts identical
# on edge whitespace (ADVICE r1)
_BPE_RE_SPARK = r" ?\p{L}+| ?\p{N}+| ?[^\p{L}\p{N} \t\n\f\r]+"
_BPE_RE_DUCK = r" ?\p{L}+| ?\p{N}+| ?[^\p{L}\p{N} \t\n\f\r]+"


@register("text_token_count_bpe", sql=f"""
SELECT lang,
       CAST(SUM(LENGTH(regexp_extract_all(text, '{_BPE_RE_DUCK}')))
            AS BIGINT) AS total_bpe_tokens,
       ROUND(AVG(LENGTH(regexp_extract_all(text, '{_BPE_RE_DUCK}'))), 4)
         AS avg_bpe_tokens,
       COUNT(*) AS n_docs
FROM documents GROUP BY lang
""")
def text_token_count_bpe(spark, sf_dir):
    """BPE-ish pre-tokenizer counting (GPT-2-style split: letter runs,
    digit runs, punctuation runs, each with optional leading space) —
    the second tokenizer the training-data layer needs besides
    whitespace; both engines run the same RE2-compatible pattern."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all("text", F.lit(_BPE_RE_SPARK), 0))
    return (
        d.select("lang", n_tok.alias("n_tok"))
        .groupBy("lang")
        .agg(F.sum("n_tok").cast("long").alias("total_bpe_tokens"),
             F.round(F.avg("n_tok"), 4).alias("avg_bpe_tokens"),
             F.count("*").alias("n_docs"))
    )


_SHINGLE_K = 8


@register("text_fingerprint_winnow", sql=f"""
SELECT doc_id,
       LIST_MIN([MD5(SUBSTR(text, CAST(i AS INT), {_SHINGLE_K}))
                 FOR i IN GENERATE_SERIES(1,
                     GREATEST(LENGTH(text) - {_SHINGLE_K - 1}, 1))])
         AS winnow_min,
       CAST(GREATEST(LENGTH(text) - {_SHINGLE_K - 1}, 1) AS BIGINT)
         AS n_windows
FROM documents WHERE doc_id < 50 ORDER BY doc_id
""")
def text_fingerprint_winnow(spark, sf_dir):
    """Rolling-hash document fingerprint (winnowing-style): hash every
    k-char window, keep the minimum — robust to small edits, unlike the
    whole-document md5 in ``text_fingerprint``.  Pure array HOFs: the
    window hashes never leave the JVM and nothing is exploded."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    idx = F.sequence(F.lit(1),
                     F.greatest(F.length("text") - (_SHINGLE_K - 1),
                                F.lit(1)))
    hashes = F.transform(
        idx, lambda i: F.md5(F.encode(F.col("text").substr(
            i, F.lit(_SHINGLE_K)), "utf-8")))
    return (
        d.select("doc_id",
                 F.array_min(hashes).alias("winnow_min"),
                 F.greatest(F.length("text") - (_SHINGLE_K - 1), F.lit(1))
                 .cast("long").alias("n_windows"))
        .orderBy("doc_id")
    )


# ------------------------------------------------------ TF-IDF terms

_TFIDF_K = 3


@register("text_tfidf_top_terms", sql=rf"""
WITH toks AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)),
                     '[ \t\n\x0B\f\r]+'), t -> LENGTH(t) > 0) AS ts
  FROM documents),
tf AS (
  SELECT doc_id, UNNEST(ts) AS term FROM toks),
tfc AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tf GROUP BY 1, 2),
dfc AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM toks
      WHERE LENGTH(ts) > 0),
scored AS (
  SELECT tfc.doc_id, tfc.term, tfc.tf, dfc.df,
         tfc.tf * (LN((n.n_docs + 1.0) / (dfc.df + 1.0)) + 1.0)
             AS score
  FROM tfc JOIN dfc USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, df,
       CAST(rank AS INT) AS rank, ROUND(score, 4) AS score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank
      FROM scored)
WHERE rank <= {_TFIDF_K}
""")
def text_tfidf_top_terms(spark, sf_dir):
    """Per-document top-{K} TF-IDF terms (smooth idf:
    ``ln((N+1)/(df+1)) + 1``, sklearn's formulation) — the keyword /
    topic-signal extraction every corpus explorer runs.

    Determinism: the score's float expression tree is spelled
    identically in both engines (same operand order -> same IEEE
    doubles -> same ordering); ties broken by term text; ROUND applied
    only to the OUTPUT, never the sort key.

    Scale shape: explode -> map-side-combinable (doc_id, term) counts
    -> per-term doc-frequency agg (uniform term keys) -> join back.
    The df table is |vocab| rows — broadcast here; at web scale it
    exceeds broadcast and degrades gracefully to an SMJ on the uniform
    term key (never a driver collect — the N scalar is a 1-row cross
    join, not a collected literal).  Top-k is a per-doc window over
    ~|doc vocab| rows — keys are doc_id: no skew, no global window."""
    from pyspark.sql import Window
    d = _spread(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", _tokens(F.col("text")).alias("ts"))
    tfc = (toks.select("doc_id", F.explode("ts").alias("term"))
           .groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
           # single-compute: dfc below is DERIVED from tfc and joined
           # back onto it — without materializing, the scan+tokenize+
           # explode+groupBy subtree executes on BOTH join sides (the
           # repo's documented self-join recompute trap, CLAUDE.md;
           # plan-pinned in tests/test_plans.py)
           .localCheckpoint(eager=False))
    dfc = tfc.groupBy("term").agg(F.count("*").alias("df"))
    n = (toks.where(F.size("ts") > 0)
         .agg(F.count("*").alias("n_docs")))
    score = (F.col("tf")
             * (F.log((F.col("n_docs") + F.lit(1.0))
                      / (F.col("df") + F.lit(1.0))) + F.lit(1.0)))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (tfc.join(dfc, "term").crossJoin(F.broadcast(n))
            .select("doc_id", "term", "tf", "df", score.alias("score"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= _TFIDF_K)
            .select("doc_id", "term", "tf", "df", "rank",
                    F.round("score", 4).alias("score")))


# ------------------------------------------- corpus-LM perplexity

_LM_PPL_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang,
         LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)),
                                        '[ \t\n\x0B\f\r]+'),
                     t -> LENGTH(t) > 0) AS ts
  FROM documents),
bg AS (
  SELECT doc_id, lang,
         UNNEST(ts[1:LENGTH(ts) - 1]) AS w1,
         UNNEST(ts[2:LENGTH(ts)]) AS w2
  FROM toks WHERE LENGTH(ts) >= 2),
c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY w1)
SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(EXP(-AVG(LN(CAST(n2 AS DOUBLE) / n1))), 4) AS ppl
FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
GROUP BY doc_id, lang
"""


@micro("text_lm_perplexity", sql=_LM_PPL_SQL)
def text_lm_perplexity(spark, sf_dir):
    """Corpus-LM pseudo-perplexity per document — the CCNet-style
    quality signal (Wenzek et al., LREC 2020): score each doc under a
    bigram LM trained on the corpus itself; outlier-high perplexity
    flags boilerplate/garbled text, outlier-low flags templated
    repetition.  p(w2|w1) = c(w1,w2)/c(w1) needs no smoothing because
    every scored bigram is in the training counts (the corpus includes
    the doc); ppl = exp(-avg ln p) over the doc's bigram instances.

    Scale shape: one bigram explode (map-side combinable counts on
    uniform token keys), count tables joined back on (w1, w2)/(w1)
    (broadcast at this SF, SMJ on uniform keys at scale — the c1/c2
    sides are unique per key so hot stopword histories do not fan
    out), then a per-doc agg.  The exploded pair table is checkpointed
    lazily: both count tables derive from it AND join back to it (the
    self-join recompute trap, CLAUDE.md).  At 100 TB the count tables
    are exactly the corpus bigram/unigram tables a KenLM-style filter
    ships — here they stay inside one query.

    Gated through suite_doc_probes (key = doc_id|lang, n = n_bigrams,
    r1 = ppl)."""
    d = _spread(load(spark, sf_dir, "documents"))
    base = (d.select("doc_id", "lang", _tokens(F.col("text")).alias("ts"))
            .withColumn("n_tok", F.size("ts")))
    # ts is a materialized column -> the HOF lambda references a leaf
    # (no per-element re-evaluation, CLAUDE.md HOF trap)
    bigrams = F.transform(
        F.sequence(F.lit(0), F.col("n_tok") - 2),
        lambda i: F.struct(F.element_at("ts", i + 1).alias("w1"),
                           F.element_at("ts", i + 2).alias("w2")))
    pairs = (base.where(F.col("n_tok") >= 2)
             .select("doc_id", "lang", F.explode(bigrams).alias("b"))
             .select("doc_id", "lang", "b.w1", "b.w2")
             .localCheckpoint(eager=False))  # counts derive + join back
    c2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = pairs.groupBy("w1").agg(F.count("*").alias("n1"))
    lp = F.log(F.col("n2").cast("double") / F.col("n1"))
    return (pairs.join(c2, ["w1", "w2"]).join(c1, ["w1"])
            .groupBy("doc_id", "lang")
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(F.exp(-F.avg(lp)), 4).alias("ppl")))


@micro("text_token_entropy", sql=r"""
WITH toks AS (
  SELECT doc_id, lang,
         UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)),
                                               '[ \t\n\x0B\f\r]+'),
                            t -> LENGTH(t) > 0)) AS tok
  FROM documents),
cnts AS (
  SELECT doc_id, lang, tok, COUNT(*) AS c
  FROM toks GROUP BY doc_id, lang, tok),
tot AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n
  FROM cnts GROUP BY doc_id)
SELECT c.doc_id, c.lang, t.n AS n_tokens,
       -- + 0.0 normalizes IEEE -0.0 (an all-identical-token doc makes
       -- -SUM(0.0) = -0.0 here, while Spark's round() emits +0.0 via
       -- BigDecimal — the driver's value-hash compare is EXACT)
       ROUND(-SUM((CAST(c.c AS DOUBLE) / t.n)
                  * LN(CAST(c.c AS DOUBLE) / t.n)), 4) + 0.0 AS entropy
FROM cnts c JOIN tot t ON t.doc_id = c.doc_id
GROUP BY c.doc_id, c.lang, t.n
""")
def text_token_entropy(spark, sf_dir):
    """Per-document token Shannon entropy (nats) — the vocabulary-
    diversity curation signal: templated/repetitive docs concentrate
    probability mass on few tokens (low entropy), organic prose
    spreads it (entropy ~ ln of effective vocabulary).  Complements
    the repetition stats (duplicate fractions catch exact repeats;
    entropy catches skewed-but-not-duplicated distributions).

    Scale shape: explode -> map-side-combinable (doc_id, tok) counts
    -> two per-doc aggs, all uniform per-doc keys, no joins against
    the corpus.  Gated through suite_doc_probes (key = doc_id|lang,
    n = n_tokens, r1 = entropy)."""
    d = _spread(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", "lang",
                    F.explode(_tokens(F.col("text"))).alias("tok"))
    cnts = toks.groupBy("doc_id", "lang", "tok").agg(
        F.count("*").alias("c"))
    # n per doc reuses the (doc_id, ...) hash partitioning; window over
    # doc_id instead of a second agg+join keeps it one Exchange
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id")
    p = F.col("c").cast("double") / F.col("n")
    return (cnts.withColumn("n", F.sum("c").over(w))
            .groupBy("doc_id", "lang", F.col("n").alias("n_tokens"))
            # + 0.0 mirrors the oracle's -0.0 normalization (exact
            # no-op for every other value)
            .agg((F.round(-F.sum(p * F.log(p)), 4) + F.lit(0.0))
                 .alias("entropy"))
            .select("doc_id", "lang", "n_tokens", "entropy"))
