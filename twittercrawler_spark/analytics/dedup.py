"""Deduplication suite over the documents table — the training-data-pipeline
core: exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

These generalize the reference's only dedup primitive — the seen-set
membership probe (`/root/reference/pages/Preprocess_scripts/
GenerateUserUseridDict.py:53-56`, `Cansin_Location_Detection.py:107-117`) —
to content-level near-duplicate detection at corpus scale.

Cross-engine determinism: every hash is the shared 32-bit md5-prefix base
hash (see _util), every float is computed by the same sequential fold and
rounded, every arithmetic step is integer where possible. The Spark program
and the DuckDB oracle are the SAME algorithm, so the driver's value-hash
comparison is exact.

Scale design (the 100 TB story — LSH exists precisely so the O(n²) pair
space is never materialized):
* MinHash-LSH: candidates come from an equi-join on (band, signature) —
  shuffle keyed on band signatures, output ∝ true-near-dup pairs, never n².
* SimHash: pigeonhole chunk join — pairs within hamming≤3 of a 64-bit
  fingerprint must share one of its 4 16-bit chunks, so candidates come
  from an equi-join on (chunk_idx, chunk_value): 4×65,536 join keys.
* exact dedup: hash-groupBy, map-side combinable.
* brute-force Jaccard is included ONLY as the small-scale oracle shape; the
  LSH paths are the ones that survive 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import SHINGLES_SQL, base_hash32, t, t_split, word_shingles
from .graph import min_label_rounds, min_label_rounds_sql

QUERIES: dict = {}
ORACLES: dict = {}

MINHASH_K = 32
MINHASH_BAND = 4  # rows per band -> 8 bands
MERSENNE_P = 2147483647
JACCARD_T = 0.7
NEAR_JACCARD_T = 0.8
SIMHASH_HAMMING_T = 3
COSINE_T = 0.4


def q(name: str, sql: str | None):
    def reg(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return reg


def _shingle_hashes(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, s, h): distinct word-3gram shingles + shared 32-bit hash.

    t_split: the shingle transform is the most expensive per-row expression
    in the suite — a single-row-group input must not run it on one core."""
    d = t_split(spark, sf, "documents")
    return (
        d.select("doc_id", F.explode(word_shingles(F.col("text"))).alias("s"))
        .withColumn("h", base_hash32(F.col("s")))
    )


_HS_SQL = f"""
sh AS ({SHINGLES_SQL}),
hs AS (SELECT doc_id, s, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h FROM sh)
"""


# ---------------------------------------------------------------------------
# The shared dedup-signals frame: ONE tokenize+shingle pass + ONE doc-level
# groupBy computes every signal the near-dup family consumes — the MinHash
# minima (m1..mK), the SimHash fingerprint halves (f_lo/f_hi, from the 64
# bit-vote sums over the same distinct-shingle hashes), and the per-doc
# distinct shingle set (ss, the verify-join side). Before this, each family
# member re-ran tokenize+shingle+groupBy over the corpus independently — in
# a real pipeline one signals pass feeds all dedup stages (the curation.py
# composition argument applied to the dedup suite itself; VERDICT r4 #2).
#
# Memoized per (application, sf) as a lazily-materialized localCheckpoint:
# the frame is doc-count-sized (k minima + 2 bigints + the distinct shingle
# set — the same rows dedup_minhash_lsh already checkpointed per query), so
# holding it for the session costs what one family member's checkpoint cost
# before, and at corpus scale it is exactly the signals table a production
# pipeline would materialize to storage once per corpus snapshot.
_SIGNALS_CACHE: dict[tuple[str, str], DataFrame] = {}


def dedup_signals(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, ss, m1..mK, f_lo, f_hi) — all dedup signals in one pass."""
    app = spark.sparkContext.applicationId
    # a stopped application's checkpoints are unreadable: drop its entries
    for stale in [k for k in _SIGNALS_CACHE if k[0] != app]:
        del _SIGNALS_CACHE[stale]
    key = (app, sf)
    cached = _SIGNALS_CACHE.get(key)
    if cached is not None:
        return cached
    hs = _shingle_hashes(spark, sf).withColumn(
        "h_hi",
        F.conv(F.substring(F.md5(F.col("s")), 9, 8), 16, 10).cast("bigint"),
    )
    # fused bit-vote: all 64 per-bit sums as aggregate COLUMNS (map-side
    # partial sums, no row explosion) — values identical to the SimHash
    # oracle's per-j sums ("h" is the 32-bit base hash = the oracle's h_lo)
    bit_sums = [
        F.sum(
            F.when(
                F.expr(f"(h >> {j}) & 1" if j < 32 else f"(h_hi >> {j - 32}) & 1")
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(64)
    ]

    def _half(lo: int) -> F.Column:
        e = F.lit(0).cast("bigint")
        for j in range(lo, lo + 32):
            e = e + F.when(
                F.col(f"s{j}") > 0, F.lit(1 << (j - lo)).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        return e.cast("bigint")

    agg = hs.groupBy("doc_id").agg(
        *minhash_min_cols(), *bit_sums, F.collect_set("s").alias("ss")
    )
    sig = agg.select(
        "doc_id",
        "ss",
        *[F.col(f"m{i}") for i in range(1, MINHASH_K + 1)],
        _half(0).alias("f_lo"),
        _half(32).alias("f_hi"),
    ).localCheckpoint(eager=False)
    _SIGNALS_CACHE[key] = sig
    return sig


# ---------------------------------------------------------------------------
# Exact dedup: content-hash groupBy; every doc mapped to the canonical
# (minimum) doc_id of its identical-text group.
@q(
    "dedup_exact",
    """
    WITH h AS (SELECT doc_id, md5(text) AS hh FROM documents),
    c AS (SELECT hh, min(doc_id) AS canon_id FROM h GROUP BY 1)
    SELECT doc_id, canon_id FROM h JOIN c USING (hh)
    """,
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents").select("doc_id", F.md5("text").alias("hh"))
    c = d.groupBy("hh").agg(F.min("doc_id").alias("canon_id"))
    return d.join(c, "hh").select("doc_id", "canon_id")


# ---------------------------------------------------------------------------
# Brute-force n-gram Jaccard pairs (the small-scale oracle shape; LSH below
# is the scale path). Inner-join on shingle → intersection counts: the pair
# space is bounded by shared-shingle pairs, not n².
@q(
    "dedup_ngram_jaccard",
    f"""
    WITH {_HS_SQL},
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM hs GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS x, b.doc_id AS y, CAST(count(*) AS BIGINT) AS c
      FROM hs a JOIN hs b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT x, y,
           round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jac
    FROM inter JOIN sz sa ON x = sa.doc_id JOIN sz sb ON y = sb.doc_id
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {NEAR_JACCARD_T}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # The shingle set feeds 3 sub-plans and is deliberately RECOMPUTED from
    # the column-pruned parquet scan each time rather than persisted: the
    # explode+md5 is map-side codegen work with no shuffle, a persisted copy
    # would own executor storage memory for the rest of the session (query
    # constructors can't unpersist), and at corpus scale the exploded
    # shingle set wouldn't fit in cache anyway.
    hs = _shingle_hashes(spark, sf).select("doc_id", "s")
    sz = hs.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = hs.select(F.col("doc_id").alias("x"), "s")
    b = hs.select(F.col("doc_id").alias("y"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(sz.select(F.col("doc_id").alias("x"), F.col("n").alias("na")), "x")
        .join(sz.select(F.col("doc_id").alias("y"), F.col("n").alias("nb")), "y")
        .filter(jac >= NEAR_JACCARD_T)
        .select("x", "y", F.round(jac, 6).alias("jac"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding: k=32 universal-hash minima, 8 bands × 4 rows;
# candidate pairs share a (band, signature) bucket; candidates verified with
# exact Jaccard. Permutations h_i(x) = (a_i·x + b_i) mod p, a_i = 2i+1,
# b_i = 1000003·i mod p — all integer, identical in both engines.
# shared CTE chain: shingle hashes -> signatures -> LSH candidates ->
# verified intersection counts (consumed by dedup_minhash_lsh and by
# dedup_near_canonical's clustering oracle)
_MINHASH_CTES = f"""
    {_HS_SQL},
    params AS (
      SELECT i, CAST(2 * i + 1 AS BIGINT) AS a,
             CAST((1000003 * i) % {MERSENNE_P} AS BIGINT) AS b
      FROM unnest(generate_series(1, {MINHASH_K})) AS g(i)),
    mh AS (
      SELECT doc_id, i, min((a * h + b) % {MERSENNE_P}) AS m
      FROM hs CROSS JOIN params GROUP BY 1, 2),
    bands AS (
      SELECT doc_id, CAST(floor((i - 1) / {MINHASH_BAND}.0) AS BIGINT) AS band,
             array_to_string(list(m ORDER BY i), '-') AS sig
      FROM mh GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM hs GROUP BY 1),
    inter AS (
      SELECT c.x, c.y, CAST(count(*) AS BIGINT) AS c
      FROM cand c JOIN hs a ON a.doc_id = c.x
                  JOIN hs b ON b.doc_id = c.y AND a.s = b.s
      GROUP BY 1, 2)
"""


def minhash_min_cols() -> list:
    """The k universal-hash minima as aggregate COLUMNS (map-side partial
    min, no row explosion). Shared with tools/lsh_stats so observability
    measures the exact pipeline."""
    return [
        F.min(
            (F.lit(2 * i + 1) * F.col("h") + F.lit((1000003 * i) % MERSENNE_P))
            % MERSENNE_P
        ).alias(f"m{i}")
        for i in range(1, MINHASH_K + 1)
    ]


def minhash_bands(agg: DataFrame) -> DataFrame:
    """(doc_id, band, sig) from a frame carrying m1..mK minima columns."""
    n_bands = MINHASH_K // MINHASH_BAND
    band_entries = [
        F.struct(
            F.lit(b).cast("bigint").alias("band"),
            F.concat_ws(
                "-",
                *[
                    F.col(f"m{b * MINHASH_BAND + j + 1}").cast("string")
                    for j in range(MINHASH_BAND)
                ],
            ).alias("sig"),
        )
        for b in range(n_bands)
    ]
    return agg.select(
        "doc_id", F.explode(F.array(*band_entries)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def distinct_bucket_pairs(df: DataFrame, keys: list[str], id_col: str = "doc_id") -> DataFrame:
    """Distinct (x, y) id pairs sharing all ``keys`` — THE LSH candidate
    join (equi-join on the bucket key, never a cross product)."""
    a = df.select(F.col(id_col).alias("x"), *keys)
    b = df.select(F.col(id_col).alias("y"), *keys)
    return (
        a.join(b, keys).filter(F.col("x") < F.col("y")).select("x", "y").distinct()
    )


@q(
    "dedup_minhash_lsh",
    f"""
    WITH {_MINHASH_CTES}
    SELECT x, y, round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jac
    FROM inter JOIN sz sa ON x = sa.doc_id JOIN sz sb ON y = sb.doc_id
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {JACCARD_T}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    # The shared signals frame yields all k minima plus the per-doc
    # distinct-shingle array in one pass (see dedup_signals); candidate
    # pairs then verify LOCALLY with size(array_intersect) instead of
    # re-shuffling the exploded shingle table once per side. The frame has
    # THREE consumers here (bands, and each side of the verify join) and is
    # shared with the whole dedup family via the session memo.
    agg = dedup_signals(spark, sf)
    cand = distinct_bucket_pairs(minhash_bands(agg), ["band", "sig"])
    sets = agg.select("doc_id", "ss")
    c = F.size(F.array_intersect("ssa", "ssb")).cast("bigint")
    jac = c.cast("double") / (
        F.size("ssa").cast("bigint") + F.size("ssb") - c
    )
    return (
        cand.join(sets.select(F.col("doc_id").alias("x"), F.col("ss").alias("ssa")), "x")
        .join(sets.select(F.col("doc_id").alias("y"), F.col("ss").alias("ssb")), "y")
        .withColumn("jac_raw", jac)
        .filter(F.col("jac_raw") >= JACCARD_T)
        .select("x", "y", F.round("jac_raw", 6).alias("jac"))
    )




# ---------------------------------------------------------------------------
# End-to-end near-dup clustering — what a training pipeline actually
# consumes: MinHash-LSH pairs -> connected components (min-label, 3
# rounds, matching the unrolled oracle exactly) -> every document mapped to
# the canonical (minimum) doc_id of its near-dup cluster; singletons map to
# themselves. The pair list is checkpointed once, so the iterative rounds
# never re-run the LSH lineage.
NEAR_CANON_ROUNDS = 3

_NEAR_CANON_SQL = (
    "WITH " + _MINHASH_CTES + f""",
    pairs AS (
      SELECT x, y
      FROM inter JOIN sz sa ON x = sa.doc_id JOIN sz sb ON y = sb.doc_id
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {JACCARD_T}),
    edges AS (SELECT x AS src, y AS dst FROM pairs
              UNION ALL SELECT y AS src, x AS dst FROM pairs),
    c0 AS (SELECT doc_id AS node, doc_id AS comp FROM documents),"""
    + min_label_rounds_sql(NEAR_CANON_ROUNDS)
    + f"\n    SELECT node AS doc_id, CAST(comp AS BIGINT) AS canon_id"
    f" FROM c{NEAR_CANON_ROUNDS}"
)


@q("dedup_near_canonical", _NEAR_CANON_SQL)
def dedup_near_canonical(spark: SparkSession, sf: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf).select("x", "y")
    # tiny (near-dup-pair-sized); materialize once so the round loop below
    # does not re-run the whole LSH pipeline per iteration
    pairs = pairs.localCheckpoint(eager=True)
    edges = pairs.select(F.col("x").alias("src"), F.col("y").alias("dst")).unionByName(
        pairs.select(F.col("y").alias("src"), F.col("x").alias("dst"))
    )
    comp = t(spark, sf, "documents").select(
        F.col("doc_id").alias("node"), F.col("doc_id").cast("bigint").alias("comp")
    )
    comp = min_label_rounds(comp, edges, NEAR_CANON_ROUNDS)
    return comp.select(F.col("node").alias("doc_id"), F.col("comp").alias("canon_id"))


# ---------------------------------------------------------------------------
# Benchmark decontamination — the training-data hygiene op: flag every
# training document that shares at least one word-3gram shingle with the
# held-out evaluation set (here: doc_id < EVAL_CUTOFF stands in for the
# benchmark corpus). Candidates come from an equi-join on the shingle — the
# overlap-pair space, never |train|×|eval| — and the flag aggregates
# map-side. At 100 TB the eval shingle set is benchmark-sized and
# broadcastable, so the train-side scan never shuffles.
EVAL_CUTOFF = 50


@q(
    "decontaminate_against_eval",
    f"""
    WITH {_HS_SQL},
    ev AS (SELECT DISTINCT s FROM hs WHERE doc_id < {EVAL_CUTOFF}),
    hits AS (
      SELECT hs.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM hs JOIN ev ON hs.s = ev.s
      WHERE hs.doc_id >= {EVAL_CUTOFF}
      GROUP BY 1)
    SELECT d.doc_id,
           CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
           coalesce(h.n_shared, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id >= {EVAL_CUTOFF}
    """,
)
def decontaminate_against_eval(spark: SparkSession, sf: str) -> DataFrame:
    hs = _shingle_hashes(spark, sf).select("doc_id", "s")
    ev = F.broadcast(
        hs.filter(F.col("doc_id") < EVAL_CUTOFF).select("s").distinct()
    )
    hits = (
        hs.filter(F.col("doc_id") >= EVAL_CUTOFF)
        .join(ev, "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    d = t(spark, sf, "documents").filter(F.col("doc_id") >= EVAL_CUTOFF)
    return d.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
        (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# SimHash: 64-bit fingerprint from distinct-token hashes; near-dup pairs via
# pigeonhole 16-bit-chunk equi-join (hamming ≤ 3 over 4 chunks ⇒ at least
# one chunk identical), verified by bit_count(xor).
#
# Scale sizing: the candidate key space is 4 chunk positions × 2^16 chunk
# values = 262,144 equi-join keys (vs 4×256 for a 32-bit/8-bit-chunk
# fingerprint) — at n documents the expected per-key population is n/2^16,
# so the candidate pair space stays ~n²/2^16 per chunk position and the
# shuffle has 2^18-way key parallelism. The fingerprint votes over the SAME
# distinct 3-gram shingles MinHash uses, not unigram tokens: unigram votes
# on a shared-vocabulary corpus collapse toward one fingerprint cluster
# (measured 15.7% of all pairs as candidates at sf0.1; shingles cut that
# ~1,800×, to 1,085 pairs — BENCH/LSH.md) — feature entropy, not just key-space size, bounds candidate mass.
# The fingerprint is carried as two 32-bit halves (f_lo = bits 0..31,
# f_hi = bits 32..63) so every value stays a non-negative BIGINT in both
# engines (no 64-bit sign-bit divergence); hamming = popcount(xor) summed
# over the halves.
def simhash_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, f_lo, f_hi, k, chunk) — the SimHash candidate-stage frame.
    Shared with tools/lsh_stats so observability measures the exact
    pipeline, not a re-derivation that can drift.

    The fingerprint halves come from the shared signals frame
    (dedup_signals): the 64 bit-vote sums ride the same doc-level groupBy
    as the MinHash minima, over the same distinct 3-gram shingle hashes —
    values identical to the oracle's per-j sums."""
    fp = dedup_signals(spark, sf).select("doc_id", "f_lo", "f_hi")
    # 4 chunk rows per doc via a literal-array explode (pure projection —
    # no join node at all for the constant chunk-index dimension)
    return fp.select(
        "doc_id",
        "f_lo",
        "f_hi",
        F.explode(F.array(*[F.lit(k).cast("int") for k in range(4)])).alias("k"),
    ).select(
        "doc_id",
        "f_lo",
        "f_hi",
        "k",
        F.expr(
            "(CASE WHEN k < 2 THEN shiftright(f_lo, k * 16) "
            "ELSE shiftright(f_hi, (k - 2) * 16) END) & 65535"
        ).alias("chunk"),
    )


@q(
    "dedup_simhash",
    f"""
    WITH sh AS ({SHINGLES_SQL}),
    th AS (SELECT doc_id,
                  CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h_lo,
                  CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS h_hi
           FROM sh),
    bits AS (
      SELECT doc_id, j,
             sum(CASE WHEN (CASE WHEN j < 32 THEN h_lo >> j
                                 ELSE h_hi >> (j - 32) END) & 1 = 1
                 THEN 1 ELSE -1 END) AS ssum
      FROM th CROSS JOIN unnest(generate_series(0, 63)) AS g(j)
      GROUP BY 1, 2),
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN ssum > 0 AND j < 32
                           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS f_lo,
             CAST(sum(CASE WHEN ssum > 0 AND j >= 32
                           THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END) AS BIGINT) AS f_hi
      FROM bits GROUP BY 1),
    ch AS (
      SELECT doc_id, f_lo, f_hi, k,
             (CASE WHEN k < 2 THEN f_lo >> (k * 16)
                   ELSE f_hi >> ((k - 2) * 16) END) & 65535 AS chunk
      FROM fp CROSS JOIN unnest(generate_series(0, 3)) AS g(k)),
    cand AS (
      SELECT DISTINCT a.doc_id AS x, a.f_lo AS fxl, a.f_hi AS fxh,
                      b.doc_id AS y, b.f_lo AS fyl, b.f_hi AS fyh
      FROM ch a JOIN ch b
        ON a.k = b.k AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
    SELECT x, y,
           CAST(bit_count(xor(fxl, fyl)) + bit_count(xor(fxh, fyh)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(fxl, fyl)) + bit_count(xor(fxh, fyh)) <= {SIMHASH_HAMMING_T}
    """,
)
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    # both sides of the pigeonhole self-join consume the chunk frame, which
    # derives from the session-memoized signals checkpoint (dedup_signals)
    # — the shingle+md5+bit-vote pipeline runs once per corpus, shared with
    # the whole family, and each side reads the materialized frame.
    ch = simhash_chunks(spark, sf)
    ca = ch.select(
        F.col("doc_id").alias("x"), F.col("f_lo").alias("fxl"),
        F.col("f_hi").alias("fxh"), "k", "chunk",
    )
    cb = ch.select(
        F.col("doc_id").alias("y"), F.col("f_lo").alias("fyl"),
        F.col("f_hi").alias("fyh"), "k", "chunk",
    )
    cand = (
        ca.join(cb, ["k", "chunk"])
        .filter(F.col("x") < F.col("y"))
        .select("x", "fxl", "fxh", "y", "fyl", "fyh")
        .distinct()
    )
    hamming = F.bit_count(F.expr("fxl ^ fyl")) + F.bit_count(F.expr("fxh ^ fyh"))
    return cand.filter(hamming <= SIMHASH_HAMMING_T).select(
        "x", "y", hamming.cast("bigint").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: exact sequential-fold cosine (identical fold in
# both engines → identical bits), threshold on the shared value.
_COS_SQL = """
      list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), (s, u) -> s + u) /
      (sqrt(list_reduce(list_transform(a.v, x -> x * x), (s, u) -> s + u)) *
       sqrt(list_reduce(list_transform(b.v, x -> x * x), (s, u) -> s + u)))
"""


def _cos_cols(va: F.Column, vb: F.Column) -> F.Column:
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda s, u: s + u
    )
    na = F.sqrt(F.aggregate(F.transform(va, lambda x: x * x), F.lit(0.0), lambda s, u: s + u))
    nb = F.sqrt(F.aggregate(F.transform(vb, lambda x: x * x), F.lit(0.0), lambda s, u: s + u))
    return dot / (na * nb)


def _emb(spark: SparkSession, sf: str) -> DataFrame:
    return t(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


@q(
    "dedup_embedding_cosine",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings)
    SELECT a.vec_id AS x, b.vec_id AS y,
           round({_COS_SQL}, 6) AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_COS_SQL} >= {COSINE_T}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    # SMALL-SCALE ORACLE SHAPE ONLY: the all-pairs join is O(n²) and is
    # deliberately excluded from the headline bench set. The scale path is
    # similarity.dedup_embedding_lsh (bucketed candidates + exact verify).
    # Higher-order-function folds are interpreted (not codegen'd): keep the
    # per-pair work to ONE dot-product fold by precomputing norms per vector
    # and materializing the cosine column once before filter + round.
    e = _emb(spark, sf).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda x: x * x), F.lit(0.0), lambda s, u: s + u
            )
        ),
    )
    a = e.select(F.col("vec_id").alias("x"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = e.select(F.col("vec_id").alias("y"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda s, u: s + u
    )
    return (
        a.join(b, F.col("x") < F.col("y"))
        .withColumn("sim_raw", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("sim_raw") >= COSINE_T)
        .select("x", "y", F.round("sim_raw", 6).alias("sim"))
    )
