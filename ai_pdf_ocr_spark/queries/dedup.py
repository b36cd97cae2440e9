"""Deduplication operators over the ``documents`` table — the
training-data-pipeline layer (exact, n-gram Jaccard, MinHash+LSH,
SimHash).  Exact and Jaccard have DuckDB oracles; the hash-sketch
variants use Spark's xxhash64 (no DuckDB twin) and are checked
rows-only by the driver plus structural tests in tests/test_queries.py.

Scale stance: every variant is shuffle-bounded —
 - exact dedupe groups on a 128-bit digest (uniform keys, no skew);
 - Jaccard candidate generation is blocked by (lang) and joined on
   shared tokens, never an unblocked O(n^2) cross join;
 - MinHash/LSH shuffles only (band_key -> doc list) pairs;
 - SimHash is a single groupBy over exploded tokens with 64 algebraic
   bit-count aggregates (map-side combinable).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import FIXTURE_DIR, fixture_sql, load, register

_NORM = r"\s+"


def _tokens(col):
    """lowercased whitespace tokens, empties dropped."""
    return F.filter(F.split(F.lower(F.trim(col)), _NORM),
                    lambda t: F.length(t) > 0)


def _ngrams(toks, n):
    """Word n-grams of the token-array column ``toks`` (a materialized
    column, never an expression — CLAUDE.md HOF trap), space-joined in
    order.  An array shorter than ``n`` gives one shorter n-gram (empty
    for no tokens); callers that want full n-grams only filter
    ``size >= n`` first."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))


def _spread(d, col="doc_id"):
    """Hash-repartition to defaultParallelism before expression-heavy
    per-row work.  The testdata corpus is ONE small parquet file -> the
    scan is a single task and every downstream narrow stage runs on one
    core (measured: the sf0.1 shingle stage ran 1/32 cores, 3.6s).  At
    real scale multi-file inputs split naturally and Catalyst elides
    the exchange when partitioning already matches."""
    sc = d.sparkSession.sparkContext
    return d.repartition(sc.defaultParallelism, col)


# ------------------------------------------------------------- exact
@register("dedup_exact", sql="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS n_redundant
FROM (
  SELECT MD5(LOWER(TRIM(text))) AS h, COUNT(*) AS n,
         MIN(doc_id) AS keeper
  FROM documents GROUP BY h HAVING COUNT(*) > 1)
""")
def dedup_exact(spark, sf_dir):
    """Exact near-normalized dedupe: hash-groupBy on md5(lower(trim))."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.lower(F.trim("text"))).alias("h"))
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keeper"))
        .where(F.col("n") > 1)
        .agg(F.count("*").alias("n_groups"),
             F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("long")
             .alias("n_redundant"))
    )


# -------------------------------------------------- n-gram Jaccard
_JACCARD_SQL = """
WITH tok AS (
  -- explicit class = Java \\s (includes \\x0B; RE2's \\s does not)
  SELECT doc_id, lang, UNNEST(LIST_DISTINCT(
           LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)),
                                          '[ \\t\\n\\x0B\\f\\r]+'),
                       t -> LENGTH(t) > 0))) AS tok
  FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.lang = b.lang
                        AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2, ROUND(CAST(c AS DOUBLE) / (s1.sz + s2.sz - c), 4) AS jaccard
FROM common JOIN sizes s1 ON s1.doc_id = d1
            JOIN sizes s2 ON s2.doc_id = d2
WHERE CAST(c AS DOUBLE) / (s1.sz + s2.sz - c) >= 0.5
"""


def token_sets(d):
    """(doc_id, lang, sz, toks): each doc's distinct-token set as an
    array of 64-bit token hashes — per-row state O(doc tokens),
    INDEPENDENT of corpus vocabulary size.

    Replaces the r2 bitmask scheme whose width was ceil(|vocab|/64)
    BIGINT columns built under a single-partition vocabulary window
    (VERDICT r2 "What's wrong" #1: a 10^7-10^8-token real vocabulary
    means ~10^5-10^6 mask columns — the plan itself cannot be built,
    and the vocab pass is one task).  Here there is no vocabulary pass
    at all: each row carries only its own tokens, hashed to fixed-width
    longs so the pair-verify probe is a primitive-typed set intersect.
    Collision bound: P(any two of V distinct tokens collide) ~ V^2/2^65
    — ~3e-4 corpus-wide at V=1e8, the same exactness class MinHash
    already assumes."""
    toks = F.array_distinct(F.transform(_tokens(F.col("text")),
                                        lambda t: F.xxhash64(t)))
    return (d.select("doc_id", "lang", toks.alias("toks"))
            .withColumn("sz", F.size("toks"))
            # empty-token docs (null/blank text) have no Jaccard pairs
            # by definition — and pairing two of them would divide by
            # zero (union = 0).  The SQL oracle drops them implicitly
            # (its tok CTE emits no rows for them).
            .where(F.col("sz") > 0))


def _set_jaccard():
    """Jaccard expression over an l/r-aliased token-set self-join:
    size(intersect)/(|l| + |r| - intersect), O(|l|+|r|) per pair."""
    inter = F.size(F.array_intersect(F.col("l.toks"), F.col("r.toks")))
    union = F.col("l.sz") + F.col("r.sz") - inter
    return inter.cast("double") / union


_JACCARD_SALT = 8  # triangle-join fan: S*(S+1)/2 keys per lang block


def triangle_self_join(df, block_cols, id_col, n_salt):
    """All-pairs self-join within ``block_cols`` blocks, spread over
    S(S+1)/2 sub-keys instead of one hash-join task per block key.

    Each row gets p = hash(id) % S; the left side replicates to keys
    (p, q >= p), the right to (q <= p, p), so every unordered pair of a
    block lands on exactly one (kp, kq) key — a skewed block (one lang,
    one hot label) becomes S(S+1)/2-way parallel.  Returns the joined
    DataFrame with sides aliased ``l``/``r``; each unordered pair
    appears exactly once (use least/greatest on ``id_col`` for a
    canonical pair order)."""
    part = F.pmod(F.xxhash64(id_col), F.lit(n_salt)).cast("int")
    # materialize once: a self-join recomputes the (possibly expensive)
    # upstream of BOTH sides otherwise — broadcast sides can't reuse
    # the probe side's exchange
    base = df.withColumn("_p", part).localCheckpoint(eager=False)
    left = base.withColumn("_kp", F.col("_p")).withColumn(
        "_kq", F.explode(F.sequence(F.col("_p"), F.lit(n_salt - 1)))) \
        .alias("l")
    right = base.withColumn("_kq", F.col("_p")).withColumn(
        "_kp", F.explode(F.sequence(F.lit(0), F.col("_p")))).alias("r")
    cond = (F.col("l._kp") == F.col("r._kp")) \
        & (F.col("l._kq") == F.col("r._kq"))
    for c in block_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    pair_once = (F.col("l._kp") < F.col("r._kq")) | \
        (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    return left.join(right, cond & pair_once)


@register("dedup_ngram_jaccard", sql=_JACCARD_SQL)
def dedup_ngram_jaccard(spark, sf_dir):
    """Token-set Jaccard near-dup pairs (blocked by lang, threshold 0.5).

    Exact all-pairs within a lang block, with two scale defenses:

    1. **Per-row token-hash sets.** Each doc carries its own distinct
       tokens as an array of xxhash64 longs (``token_sets``); the
       per-pair cost is one primitive-typed set intersect, O(|l|+|r|),
       inside whole-stage codegen.  No corpus-wide vocabulary state of
       any kind (r2's bitmask scheme was vocab-width — VERDICT r2 #1);
       replaces the r1 token inverted-index join whose shuffle was
       Σ df² over tokens (115M rows, 23.6s = 68% of the bench at sf0.1).
    2. **Triangle salting.** A lang-only equi-join hash-partitions on
       5 lang keys, so one task computes a whole block's n²/2 pairs.
       Each doc gets p = hash(doc_id) % S; the left side replicates to
       keys (p, q>=p), the right to (q<=p, p), so every unordered pair
       lands on exactly one of the S(S+1)/2 sub-keys per lang — skew
       becomes 36-way parallel instead of 1 task per lang.

    Exact all-pairs is still Ω(n²/S) per block by definition — at 10^12
    docs use ``dedup_jaccard_verified`` (MinHash-LSH candidates ->
    exact set-intersect verify on candidates only, same predicate)."""
    d = _spread(load(spark, sf_dir, "documents"))
    sets = token_sets(d)
    joined = triangle_self_join(sets, ["lang"], "doc_id", _JACCARD_SALT)
    jac = _set_jaccard()
    return (
        joined.where(jac >= 0.5)
        .select(F.least("l.doc_id", "r.doc_id").alias("d1"),
                F.greatest("l.doc_id", "r.doc_id").alias("d2"),
                F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------- MinHash + LSH
N_HASHES = 16
N_BANDS = 4  # 4 rows per band
BAND_CAP = 64  # degenerate band-bucket guard: > CAP members -> dropped
SPLIT_LEVELS = 3  # sub-banding rounds before the residual is emitted
# 31-bit Mersenne prime keeps a*h+b well inside int64 under ANSI mode
_MERSENNE = (1 << 31) - 1


def _minhash_sig(items_df, item_col, n_hashes, group_cols=("doc_id",)):
    """Per-group MinHash signature columns mh0..mh{n-1}: item ->
    xxhash64 -> affine permutations mod a Mersenne prime -> algebraic
    per-group min (map-side combinable).  The ONE implementation both
    banding variants key from — the permutation constants and fold
    must stay bit-identical to tests/oracle_sketches.py::
    minhash_signature (code-review r4: two hand-maintained copies of
    this block were a silent-divergence hazard for the fixtures)."""
    h = F.pmod(F.xxhash64(item_col), F.lit(_MERSENNE))
    perms = [(2 * i + 1, 7919 * (i + 1)) for i in range(n_hashes)]
    aggs = [
        F.min(F.pmod(F.lit(a) * h + F.lit(b), F.lit(_MERSENNE)))
        .alias(f"mh{i}")
        for i, (a, b) in enumerate(perms)
    ]
    return items_df.groupBy(*group_cols).agg(*aggs)


def _band_key_exprs(n_hashes, n_bands):
    """One xxhash64 key expression per band over the mh* signature
    columns (twin: tests/oracle_sketches.py::band_keys)."""
    rows_per_band = n_hashes // n_bands
    return [
        F.xxhash64(F.concat_ws("_", *[
            f"mh{bi * rows_per_band + r}" for r in range(rows_per_band)
        ]))
        for bi in range(n_bands)
    ]


def _band_rows(sig, n_hashes, n_bands, cols=("doc_id",)):
    """Signature rows (``cols`` + mh*) -> (cols..., band, band_key)
    rows, uncapped: the one place band membership is built.  ONE
    explode over the signature row (a union of per-band selects
    re-executed the item aggregation once per band: 10 exchanges vs 5
    measured in round 1)."""
    band_structs = F.array(*[
        F.struct(F.lit(bi).alias("band"), k.alias("band_key"))
        for bi, k in enumerate(_band_key_exprs(n_hashes, n_bands))
    ])
    return (sig.select(*cols, F.explode(band_structs).alias("bk"))
            .select(*cols, F.col("bk.band").alias("band"),
                    F.col("bk.band_key").alias("band_key")))


def token_bands(df, text, cols=("doc_id",)):
    """(cols..., band, band_key) rows of the cross-epoch signature
    family: distinct ``_tokens(text)`` -> N_HASHES-perm MinHash ->
    N_BANDS uncapped band keys (a history band is a signature, not a
    pair generator).  The one definition the streaming history
    (engine/streaming.py::_doc_keys) and its batch twin
    ``dedup_cross_epoch`` both write."""
    tok = df.select(*cols, F.explode(F.array_distinct(_tokens(text)))
                    .alias("tok"))
    return _band_rows(_minhash_sig(tok, "tok", N_HASHES, group_cols=cols),
                      N_HASHES, N_BANDS, cols=cols)


def _minhash_banded(items_df, item_col, n_hashes, n_bands):
    """(doc_id, item) rows -> (doc_id, band, band_key) membership with
    band buckets of more than BAND_CAP members dropped.

    The band-size cap bounds the downstream pair join: a degenerate
    key (e.g. an all-identical corpus) would otherwise go quadratic —
    capped buckets are dropped, mirrored bit-for-bit by the pure-Python
    oracle (tests/oracle_sketches.py)."""
    from pyspark.sql import Window

    banded = _band_rows(_minhash_sig(items_df, item_col, n_hashes),
                        n_hashes, n_bands)
    w = Window.partitionBy("band", "band_key")
    return (banded.withColumn("bsz", F.count("*").over(w))
            .where(F.col("bsz") <= BAND_CAP).drop("bsz"))


def _minhash_banded_split(items_df, item_col, n_hashes, n_bands,
                          band_cap):
    """(doc_id, lang, item) rows -> (doc_id, band, band_key) membership
    with over-cap band buckets RECURSIVELY SUB-BANDED instead of dropped
    (VERDICT r3 ask #6 — remediation (a) of the verified-Jaccard
    docstring, now implemented).

    Level 0 keys a doc into band b by that band's signature key K_b.
    A bucket with more than ``band_cap`` members is split by appending
    the key of band (b + level) % n_bands — members must now ALSO agree
    on a second (third, ...) band to stay co-bucketed.  Still-over-cap
    buckets keep descending for SPLIT_LEVELS rounds; the residual is
    emitted regardless: after 3 splits its members agree on 4 of the
    bands (8 of 32 signature rows) — near-identical docs whose pairs
    are overwhelmingly true output, so the quadratic there is
    output-bound, not wasted work.

    Recall: strictly >= the drop-cap scheme (dropped buckets emitted
    nothing; sub-banded buckets emit every pair that agrees on the
    extra bands).  A qualifying pair lost by a split missed only
    because its sole agreeing band was hot AND it disagreed on the
    probe bands — the docs-are-near-identical case that the exact-dup
    pass catches anyway.

    Lang blocking: each doc's ``lang`` is prefixed into every bucket
    key, so cross-lang docs NEVER co-bucket.  Measured at sf0.1 (r4):
    without it, cross-lang boilerplate floods the band buckets — 6.53M
    candidates at 0.614 recall; with lang blocking, 2.58M candidates at
    **0.914** recall (less work AND better recall, because fewer
    buckets overflow into recall-losing splits).  This mirrors the
    exact operator's lang blocking.

    Scale shape: level 1's per-(band, key) count is the same one
    Exchange the drop-cap window already paid; levels 2+ shuffle ONLY
    the hot rows (cold rows exit the loop), each row carrying the
    n_bands-long key array (~8*n_bands bytes).  No driver state, no
    broadcast of an unbounded hot-key list."""
    from pyspark.sql import Window

    gcols = ["doc_id", "lang"]
    sig = _minhash_sig(items_df, item_col, n_hashes, group_cols=gcols)
    bkeys = F.array(*_band_key_exprs(n_hashes, n_bands))
    key0 = F.concat_ws(
        "|", "lang",
        F.element_at("bkeys", F.col("band") + 1).cast("string"))
    keyed = (sig.select(*gcols, bkeys.alias("bkeys"))
             .select(*gcols, "bkeys",
                     F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1)))
                     .alias("band"))
             .withColumn("band_key", key0))
    layers = []
    for lvl in range(1, SPLIT_LEVELS + 1):
        w = Window.partitionBy("band", "band_key")
        sized = keyed.withColumn("bsz", F.count("*").over(w))
        layers.append(sized.where(F.col("bsz") <= band_cap)
                      .select("doc_id", "band", "band_key"))
        sub = F.element_at(
            "bkeys", F.pmod(F.col("band") + lvl, F.lit(n_bands)) + 1)
        keyed = (sized.where(F.col("bsz") > band_cap)
                 .select("doc_id", "bkeys", "band",
                         F.concat_ws("|", "band_key", sub.cast("string"))
                         .alias("band_key")))
    layers.append(keyed.select("doc_id", "band", "band_key"))
    out = layers[0]
    for layer in layers[1:]:
        out = out.union(layer)
    return out


def _band_pairs(banded):
    """Distinct (d1 < d2) candidate pairs from band-bucket co-members.
    Only (band, band_key, doc_id) rows shuffle; output is bounded by
    bands * C(BAND_CAP, 2) per bucket thanks to the cap.

    The lazy localCheckpoint materializes the banded membership ONCE —
    a self-join otherwise recomputes the whole shingle->signature
    pipeline on both sides (measured: 0 reused exchanges, the broadcast
    side cannot reuse the probe side's shuffle)."""
    banded = banded.localCheckpoint(eager=False)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"),
                F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def shingles(d):
    """(doc_id, shingle): each doc's distinct word-3-gram shingles over
    ``_tokens(text)``, empties dropped — the one shingle table the
    MinHash candidates and the decontamination screen both key on.  A
    doc of one or two tokens is its own single shingle (the oracles'
    ``GREATEST(LENGTH(ts) - 2, 1)``)."""
    # materialize toks as a column FIRST: referencing the raw _tokens
    # expression inside the transform lambda made Catalyst re-tokenize
    # the document once per shingle index (O(len^2) string work,
    # measured 3.6s single-task at sf0.1); the Generate boundary keeps
    # the projection from being collapsed back into the lambda
    tokd = d.select("doc_id", _tokens(F.col("text")).alias("toks"))
    return (tokd.select("doc_id",
                        F.explode(F.array_distinct(
                            _ngrams(F.col("toks"), 3))).alias("shingle"))
            .where(F.length("shingle") > 0))


@register("dedup_minhash_lsh", sql=fixture_sql("dedup_minhash_lsh"))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash (16 perms) + LSH banding (4 bands x 4 rows) candidate
    pairs over word-3-gram shingles; band buckets capped at BAND_CAP.

    Oracle: pure-Python XXH64 twin (tests/oracle_sketches.py) via
    gen_fixtures.py — DuckDB has no xxhash64."""
    sh = shingles(_spread(load(spark, sf_dir, "documents")))
    banded = _minhash_banded(sh, "shingle", N_HASHES, N_BANDS)
    return _band_pairs(banded)


# ------------------------------------- LSH-verified exact Jaccard
# the corpus-scale near-dup pipeline: MinHash-LSH candidates (2 rows x
# 16 bands -> P(candidate | jaccard=0.5) = 1-(1-0.25)^16 = 0.990) then
# exact bitmask verification of ONLY the candidates.
V_HASHES = 32
V_BANDS = 16
# the verified variant SPLITS over-cap buckets (recursive sub-banding,
# _minhash_banded_split) rather than dropping them: the cap is the
# split trigger that keeps any one bucket's pair join finite
# (C(1024,2) ~ 0.5M pairs max per sub-bucket).  The tight drop-cap 64
# of the candidate-only operator would gut recall on dense corpora
# (measured 0.20 at sf0.001 where 20% of ALL pairs are true near-dups).
V_BAND_CAP = 1024


@register("dedup_jaccard_verified", sql=fixture_sql("dedup_jaccard_verified"))
def dedup_jaccard_verified(spark, sf_dir):
    """Scale path for ``dedup_ngram_jaccard``: token-set MinHash-LSH
    candidate pairs -> exact set-intersect Jaccard >= 0.5 on candidates
    only.

    At 10^12 docs the exact all-pairs variant is Ω(n²) per lang block;
    here the shuffle is (band_key, doc_id) rows + the candidate pairs
    joined to O(doc)-sized token-hash arrays (``token_sets`` — no
    corpus-vocabulary state, VERDICT r2 #1).  Recall vs the exact
    operator is
    asserted >= 0.95 in tests/test_queries.py (2-row bands keep
    P(miss at the 0.5 threshold) ~ 1%).

    Dense-corpus hardening (round 4): over-cap band buckets are now
    RECURSIVELY SUB-BANDED (``_minhash_banded_split``) instead of
    dropped — on the LSH-hostile synthetic corpus at sf0.1 (20% of ALL
    pairs are true near-dups, so V_BAND_CAP buckets genuinely
    overflow) this measurably recovers recall vs the r3 drop-cap
    (asserted in tests/test_queries.py::
    test_subbanding_recovers_recall_on_dense_corpus).  If even
    sub-banded buckets explode, route boilerplate to the exact-dup
    pass.  The cluster pipeline (dedup_cluster_resolve) builds on the
    EXACT operator, so its recall is 100% by construction
    regardless."""
    d = _spread(load(spark, sf_dir, "documents"))
    tok = d.select("doc_id", "lang",
                   F.explode(F.array_distinct(_tokens(F.col("text"))))
                   .alias("tok"))
    banded = _minhash_banded_split(tok, "tok", V_HASHES, V_BANDS,
                                   V_BAND_CAP)
    cands = _band_pairs(banded)
    sets = token_sets(d)
    sets = sets.localCheckpoint(eager=False)  # joined on both sides
    left = sets.alias("l")
    right = sets.alias("r")
    jac = _set_jaccard()
    return (
        cands.join(left, F.col("d1") == F.col("l.doc_id"))
        .join(right, F.col("d2") == F.col("r.doc_id"))
        .where((F.col("l.lang") == F.col("r.lang")) & (jac >= 0.5))
        .select("d1", "d2", F.round(jac, 4).alias("jaccard"))
    )


# ----------------------------------------------------------- SimHash
def _simhash_sigs(d):
    """(doc_id, simhash): 64 algebraic sign-sum aggregates over the
    token MULTISET, fully map-side combinable."""
    tok = d.select("doc_id", F.explode(_tokens(F.col("text")))
                   .alias("tok"))
    h = F.xxhash64("tok")
    aggs = [
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"b{i}")
        for i in range(64)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    bits = None
    for i in range(64):
        # two's-complement assembly: bit 63 contributes -(2^63)
        term = F.when(F.col(f"b{i}") > 0,
                      F.lit(2 ** i if i < 63 else -(2 ** 63))
                      .cast("long")).otherwise(F.lit(0).cast("long"))
        bits = term if bits is None else bits + term
    return sums.select("doc_id", bits.alias("simhash"))


@register("dedup_simhash", sql=fixture_sql("dedup_simhash"))
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash per document (oracle: pure-Python XXH64 twin)."""
    return _simhash_sigs(_spread(load(spark, sf_dir, "documents")))


SIMHASH_MAX_HAMMING = 3
SIMHASH_BUCKET_CAP = 64  # over-cap band buckets split, never dropped


def simhash_pairs_from_sigs(sigs, sig_bits=64):
    """hamming <= 3 pairs from (doc_id, simhash) rows — banded candidate
    generation with an EXACT hot-bucket split (VERDICT r2 ask #4).

    Base scheme: 4 bands of sig_bits/4 bits; 3 differing bits touch at
    most 3 bands, so every qualifying pair collides in >= 1 band
    (pigeonhole).  A boilerplate-heavy corpus makes one band value
    quadratic, and a drop-cap would break exactness — instead, members
    of an over-cap (band, bval) bucket are re-keyed by 4 SUB-bands over
    the complement bits.  Exactness is a second pigeonhole: a
    qualifying pair meeting in a hot band agrees on that band's bits,
    so its <= 3 diffs all lie in the complement and at least one
    sub-band is diff-free — the pair collides in that sub-bucket.
    Identical signatures always share every sub-bucket (their B^2/2
    pairs are true output, irreducible by any split).

    Scale shape: bucket sizes come from a map-side-combinable groupBy
    whose output is bounded by 4 * 2^(sig_bits/4) distinct keys
    (broadcast back), NOT a per-bucket window; only hot rows explode
    (x4).  The split bounds a hot bucket's join fan-in to its largest
    sub-bucket.

    ``sig_bits``: 64 for document SimHash; 16 for the sign-LSH
    embedding signatures (``similarity.py::dedup_embedding_verified``).
    Bits above sig_bits must be zero."""
    w = sig_bits // 4           # band width (16 for 64-bit sigs)
    sub_w = (sig_bits - w) // 4  # sub-band width over the complement
    comp_mask = (1 << (sig_bits - w)) - 1
    bands = []
    for b in range(4):
        bval = (F.shiftrightunsigned(F.col("simhash"), w * b)
                .bitwiseAND(F.lit((1 << w) - 1)))
        # the other 3 bands' bits, packed low -> complement
        # (NB Java shifts are mod-64, so the top band cannot use >>> 64)
        if w * (b + 1) >= 64:
            comp = F.col("simhash").bitwiseAND(F.lit(comp_mask))
        else:
            low = (F.col("simhash").bitwiseAND(F.lit((1 << (w * b)) - 1))
                   if b > 0 else F.lit(0).cast("long"))
            high = F.shiftrightunsigned(F.col("simhash"), w * (b + 1))
            comp = low.bitwiseOR(F.shiftleft(high, w * b))
        bands.append(F.struct(F.lit(b).alias("band"), bval.alias("bval"),
                              comp.alias("comp")))
    banded = (sigs.select("doc_id", "simhash",
                          F.explode(F.array(*bands)).alias("bk"))
              .select("doc_id", "simhash",
                      "bk.band", "bk.bval", "bk.comp"))
    sizes = banded.groupBy("band", "bval").agg(F.count("*").alias("bsz"))
    banded = (banded.join(F.broadcast(sizes), ["band", "bval"])
              .localCheckpoint(eager=False))  # self-joined below
    cold = banded.where(F.col("bsz") <= SIMHASH_BUCKET_CAP).select(
        "doc_id", "simhash", "band", "bval",
        F.lit(-1).alias("sub"), F.lit(0).cast("long").alias("sval"))
    subs = F.array(*[
        F.struct(F.lit(sb).alias("sub"),
                 F.shiftrightunsigned(F.col("comp"), sub_w * sb)
                 .bitwiseAND(F.lit((1 << sub_w) - 1)).alias("sval"))
        for sb in range(4)
    ])
    hot = (banded.where(F.col("bsz") > SIMHASH_BUCKET_CAP)
           .select("doc_id", "simhash", "band", "bval",
                   F.explode(subs).alias("sk"))
           .select("doc_id", "simhash", "band", "bval",
                   "sk.sub", "sk.sval"))
    keyed = cold.union(hot)
    a, b = keyed.alias("a"), keyed.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bval") == F.col("b.bval"))
               & (F.col("a.sub") == F.col("b.sub"))
               & (F.col("a.sval") == F.col("b.sval"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"),
                F.col("b.doc_id").alias("d2"), ham.alias("hamming"))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


@register("dedup_simhash_pairs", sql=fixture_sql("dedup_simhash_pairs"))
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: hamming(sig1, sig2) <= 3, exact, with
    hot band buckets split rather than dropped (see
    ``simhash_pairs_from_sigs``; adversarial boilerplate-corpus test in
    tests/test_queries.py)."""
    sigs = _simhash_sigs(_spread(load(spark, sf_dir, "documents")))
    return simhash_pairs_from_sigs(sigs)


# ------------------------------------------- cluster resolution
def _closure_sql(pairs_sql: str) -> str:
    """DuckDB twin of ``_resolve_components``: recursive reach over the
    symmetrized (d1, d2) pairs, then the min-doc_id keeper."""
    return f"""
WITH pairs AS ({pairs_sql}),
e AS (SELECT d1 AS s, d2 AS t FROM pairs
      UNION SELECT d2, d1 FROM pairs),
r AS (
  WITH RECURSIVE reach(s, t) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT reach.s, e.t FROM reach JOIN e ON reach.t = e.s
  ) SELECT * FROM reach
)
SELECT s AS doc_id, MIN(t) AS cluster_id,
       MIN(t) = s AS keep,
       CAST(COUNT(*) AS BIGINT) AS n_reachable
FROM r GROUP BY s
"""


@register("dedup_cluster_resolve", sql=_closure_sql(_JACCARD_SQL))
def dedup_cluster_resolve(spark, sf_dir):
    """Dedup cluster resolution — the stage every training-data pipeline
    ends with: connected components over the near-dup pair graph
    (exact Jaccard >= 0.5 edges) + keeper selection.

    Iterative min-label propagation entirely in DataFrames (no driver
    loop over rows; the driver loop is over ITERATIONS, each a bounded
    aggregate — O(component diameter) rounds, 3-4 on real near-dup
    graphs).  ``localCheckpoint`` truncates the lineage each round so
    the plan does not grow exponentially.  Keeper = min doc_id per
    cluster (the reference's smaller-is-removed policy lifted
    corpus-wide, /root/reference/data_structures.py:155-169).

    Output: (doc_id, cluster_id, keep, n_reachable) for every document
    — singletons keep themselves; n_reachable = component size.

    At scale: min-label propagation is the standard Pregel-style CC;
    hot labels are uniform doc_id hashes, each round shuffles only
    (doc_id, label) longs.  (large-star/small-star halves rounds on
    high-diameter graphs; near-dup graphs are dense cliques, diameter
    ~2, so plain propagation is the cheaper constant.)"""
    d = load(spark, sf_dir, "documents")
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2")
    return _resolve_components(spark, d, pairs)


@register("dedup_cluster_resolve_scaled", sql=_closure_sql(f"""
  SELECT d1, d2
  FROM read_parquet('{FIXTURE_DIR}/dedup_jaccard_verified.parquet')
  WHERE _corpus = (SELECT SUM(n_chars) FROM documents)"""))
def dedup_cluster_resolve_scaled(spark, sf_dir):
    """The complete corpus-SCALE dedup pipeline as one operator:
    MinHash-LSH candidates -> exact token-hash-set verify -> connected
    components -> keeper selection.  This is the composition a 10^12-
    doc run executes (the exact-pairs variant above is the ground-truth
    twin); every stage's shuffle is bounded (band keys, candidate
    pairs, (doc_id, label) longs).  Oracle: recursive closure over the
    verified-pairs fixture slice."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup_jaccard_verified(spark, sf_dir).select("d1", "d2")
    return _resolve_components(spark, d, pairs)


def _resolve_components(spark, d, pairs):
    """Min-label propagation over (d1 < d2) near-dup pairs -> one row
    per document: (doc_id, cluster_id, keep, n_reachable)."""
    sc = spark.sparkContext
    # no distinct: the pair sources emit each unordered pair exactly
    # once (d1 < d2), so the symmetrized union is already duplicate-free
    # — a distinct here would shuffle all |E| rows once more for nothing
    edges = (pairs.select(F.col("d1").alias("s"), F.col("d2").alias("t"))
             .union(pairs.select(F.col("d2").alias("s"),
                                 F.col("d1").alias("t")))
             # partition once on the per-round join key so each round
             # scans co-located edges instead of re-exchanging them
             .repartition(sc.defaultParallelism, "t")
             .localCheckpoint(eager=True))
    labels = d.select("doc_id", F.col("doc_id").alias("label"))
    # Delta-frontier propagation: labels only ever DECREASE (min is
    # monotone), so after the full first round a node's label can only
    # improve via a neighbor whose label improved last round.  Round 0
    # joins every edge; later rounds join edges against the CHANGED
    # frontier only — the frontier collapses geometrically (measured at
    # sf0.1: 4852 -> 2519 -> 194 -> 12 -> 0 of 5k docs), so the
    # frontier side broadcasts and the 2|E|-row edge table is scanned
    # in place (checkpointed, co-partitioned) without re-shuffling its
    # full width through groupBy every round.
    frontier = None  # None => full round
    changed = 0
    for _ in range(64):  # diameter bound; converges in 3-4 rounds here
        if frontier is not None:
            f = frontier.withColumnRenamed("doc_id", "t")
            # `changed` (last round's count) IS the frontier size:
            # broadcast small frontiers, co-partition big ones — never
            # a size-blind forced broadcast (a 10^12-doc corpus has a
            # round-1 frontier of ~half the nodes)
            f = (F.broadcast(f) if changed <= 1_000_000
                 else f.repartition(sc.defaultParallelism, "t"))
            # frontier rows already carry the neighbor's new label
            nbr = (edges.join(f, "t")
                   .groupBy("s").agg(F.min("label").alias("nbr_min")))
        else:
            nbr = (edges.join(labels, edges.t == labels.doc_id)
                   .groupBy("s").agg(F.min("label").alias("nbr_min")))
        # carry the convergence flag INSIDE the round's frame: counting
        # it reads the materialized checkpoint, no extra old-vs-new join
        new_labels = (
            labels.join(nbr, labels.doc_id == nbr.s, "left")
            .select(labels.doc_id,
                    F.least("label", "nbr_min").alias("label"),
                    (F.col("nbr_min") < F.col("label")).alias("_chg"))
            .localCheckpoint(eager=True))
        changed = new_labels.where(F.col("_chg")).count()
        frontier = new_labels.where(F.col("_chg")).select("doc_id",
                                                          "label")
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        # fail loudly: silently returning unconverged labels would ship
        # wrong cluster_id/keep downstream (ADVICE r2) — a >64-diameter
        # component (a long pairwise near-dup chain) needs a higher
        # bound or large-star/small-star, not a wrong answer
        raise RuntimeError(
            "dedup cluster resolution did not converge in 64 rounds "
            f"({changed} labels still changing)")
    comp_sz = labels.groupBy("label").agg(
        F.count("*").cast("long").alias("n_reachable"))
    return (labels.join(comp_sz, "label")
            .select("doc_id", F.col("label").alias("cluster_id"),
                    (F.col("label") == F.col("doc_id")).alias("keep"),
                    "n_reachable"))


# --------------------------------------- cross-epoch dedup batch twin

N_EPOCHS = 4  # deterministic epoch tag: doc_id % N_EPOCHS


@register("dedup_cross_epoch", sql=fixture_sql("dedup_cross_epoch"))
def dedup_cross_epoch(spark, sf_dir):
    """Batch twin of the STREAMING cross-epoch dedup (engine/
    streaming.py::_dup_flags — the last pytest-only pipeline stage,
    VERDICT r4 ask #6): docs land in epochs; a doc is flagged against
    STRICTLY EARLIER epochs only — ``dup_exact`` when an earlier epoch
    contains its exact normalized content (md5 of lower(trim(text))),
    ``dup_near`` when it shares >= 1 MinHash LSH band key (16 perms x
    4 bands over distinct tokens, the same signature family the
    streaming history table stores) with an earlier doc.  The
    strictly-earlier rule is what makes the flags deterministic under
    epoch replay (a crashed attempt's own rows never count) — same
    semantics as the stream, generalizing the reference's single-run
    resume short-circuit (/root/reference/main.py:371-398).

    Epoch tag: doc_id % {N_EPOCHS} — deterministic, so the DuckDB
    fixture oracle (pure-Python twin tests/oracle_sketches.py::
    cross_epoch_flags) reproduces it; a production run uses the real
    arrival epoch column.

    Scale shape (the bucketed-join fallback the streaming docstring
    promises for epochs too big to broadcast): per-key MIN-epoch via
    map-side-combinable groupBys on uniform keys (md5 digest / band
    key), joined back — history NEVER broadcasts and no all-pairs join
    exists; per-row state is O(1) + 4 band keys.  Both key tables are
    lazily checkpointed: each feeds its groupBy AND the join-back probe
    (the r1 self-join-recompute trap)."""
    d = _spread(load(spark, sf_dir, "documents"))
    d = d.withColumn("epoch",
                     F.pmod("doc_id", F.lit(N_EPOCHS)).cast("int"))

    # exact: normalized-content digest -> first epoch seen
    ex = (d.select("doc_id", "epoch",
                   F.md5(F.lower(F.trim(F.coalesce(F.col("text"),
                                                   F.lit("")))))
                   .alias("key"))
          .localCheckpoint(eager=False))
    kmin = ex.groupBy("key").agg(F.min("epoch").alias("e0"))
    exact = (ex.join(kmin, "key")
             .select("doc_id", "epoch",
                     (F.col("e0") < F.col("epoch")).alias("dup_exact")))

    # near: LSH band keys (16 perms x 4 bands, the streaming history
    # family) -> first epoch per (band, key); no cap — history store
    # semantics, a band bucket is a signature not a pair generator
    banded = (token_bands(d, F.col("text"), cols=("doc_id", "epoch"))
              .localCheckpoint(eager=False))
    bmin = (banded.groupBy("band", "band_key")
            .agg(F.min("epoch").alias("e0")))
    near = (banded.join(bmin, ["band", "band_key"])
            .groupBy("doc_id")
            .agg(F.max(F.col("e0") < F.col("epoch")).alias("dup_near")))

    return (exact.join(near, "doc_id", "left")
            .select("doc_id", "epoch", "dup_exact",
                    F.coalesce("dup_near", F.lit(False))
                    .alias("dup_near")))


# --------------------------------------- substring-level duplication

_SPAN_W = 8  # tokens per sliding window


@register("dedup_duplicate_spans", sql=f"""
WITH toks AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)),
                     '[ \\t\\n\\x0B\\f\\r]+'), t -> LENGTH(t) > 0) AS ts
  FROM documents),
wins AS (
  SELECT doc_id,
         UNNEST([ARRAY_TO_STRING(
                     ts[CAST(i AS INT):CAST(i + {_SPAN_W - 1} AS INT)],
                     ' ')
                 FOR i IN GENERATE_SERIES(1, LENGTH(ts) - {_SPAN_W - 1})])
             AS win
  FROM toks WHERE LENGTH(ts) >= {_SPAN_W}),
pwd AS (SELECT doc_id, win, COUNT(*) AS cnt FROM wins GROUP BY 1, 2),
dup AS (SELECT win FROM pwd GROUP BY win HAVING COUNT(*) >= 2),
perdoc AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_dup_windows
  FROM pwd JOIN dup USING (win) GROUP BY doc_id)
SELECT t.doc_id,
       CAST(LENGTH(ts) - {_SPAN_W - 1} AS BIGINT) AS n_windows,
       CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       ROUND(COALESCE(p.n_dup_windows, 0) * 1.0
             / (LENGTH(ts) - {_SPAN_W - 1}), 4) AS dup_frac
FROM toks t LEFT JOIN perdoc p USING (doc_id)
WHERE LENGTH(ts) >= {_SPAN_W}
""")
def dedup_duplicate_spans(spark, sf_dir):
    """Substring-level duplication report: for every doc, the fraction
    of its sliding {W}-token windows whose exact token sequence also
    appears in at least one OTHER doc (cross-doc only: ``dup`` counts
    DISTINCT docs per window, so a window repeated solely within one
    doc is never flagged — within-doc repetition is
    ``curation.py::text_repetition_stats``'s signal; semantics pinned
    by tests/test_queries.py::test_duplicate_spans_within_doc_repeat)
    — the Spark re-expression of suffix-array substring dedup (Lee
    et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): a
    window duplicated across docs marks boilerplate / templated spans
    that document-level MinHash misses.

    Scale shape: explode (one row per window position) -> map-side
    combinable groupBy on (doc_id, win) -> groupBy(win) for the
    cross-doc count -> join back and per-doc sum.  All keys are
    uniform (window content / doc_id): no skew hazard beyond a
    pathological single repeated string, which the groupBy's partial
    aggregation absorbs map-side.  At 100 TB the window STRING never
    needs to shuffle: every shuffle is keyed by xxhash64(win), so
    8-byte longs cross the wire instead of ~50-byte strings (collision
    P < 1e-8 at 10^12 windows — the same exactness class MinHash
    assumes).  The hash is taken map-side, upstream of the first
    Exchange (pinned in tests/test_plans.py::
    test_duplicate_spans_hash_key_flip); the DuckDB twin counts the
    window strings themselves and agrees on the test corpora."""
    d = _spread(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", _tokens(F.col("text")).alias("ts"))
    base = (toks.where(F.size("ts") >= _SPAN_W)
            .select("doc_id", "ts",
                    (F.size("ts") - (_SPAN_W - 1)).cast("long")
                    .alias("n_windows")))
    win_str = F.explode(_ngrams(F.col("ts"), _SPAN_W))
    # map-side: the window string never leaves the explode stage
    wins = (base.select("doc_id", win_str.alias("win"))
            .select("doc_id", F.xxhash64("win").alias("win")))
    pwd = wins.groupBy("doc_id", "win").agg(F.count("*").alias("cnt"))
    dup = (pwd.groupBy("win").agg(F.count("*").alias("nd"))
           .where(F.col("nd") >= 2).select("win"))
    perdoc = (pwd.join(dup, "win")
              .groupBy("doc_id")
              .agg(F.sum("cnt").cast("long").alias("n_dup_windows")))
    return (base.drop("ts").join(perdoc, "doc_id", "left")
            .select("doc_id", "n_windows",
                    F.coalesce("n_dup_windows", F.lit(0)).cast("long")
                    .alias("n_dup_windows"),
                    F.round(F.coalesce("n_dup_windows", F.lit(0))
                            * F.lit(1.0) / F.col("n_windows"), 4)
                    .alias("dup_frac")))
