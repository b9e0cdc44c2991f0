"""End-to-end training-data curation pass — the composition query.

A 100 TB pretraining pipeline is not a bag of operators; it is one pass
that chains them: language gate → per-document quality features → quality
gate → exact dedup → per-source yield accounting. ``curation_pipeline``
is that pass as ONE DataFrame program (with a full SQL oracle), built from
the same primitives the standalone operators use (textstats.quality_score's
feature formulas, dedup_exact's min-doc_id canonicalization). The near-dup
stage (dedup_near_canonical) composes after the exact stage in production;
it stays its own operator here because its LSH oracle is already verified
independently — the hand-off point is the `kept` doc set this module emits.

Scale shape: one scan of documents feeds the token explode; every stage is
a filter or a doc_id-keyed aggregation/join (linear, shuffle on doc_id then
source); nothing widens. The only full-width shuffle is the exact-dedup
hash groupBy — the same shape dedup_exact already carries at HEADLINE.

Graft provenance: the reference's preprocessing chain — language filter and
text cleanup before modeling (pages/Preprocess_scripts/PreprocessDump.py:84-89,
pages/Postprocess_scripts/Random_Forest_Classifier.py:21-40) — generalized
to the corpus-curation pass a web-scale text pipeline runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import t, t_split

QUERIES: dict = {}
ORACLES: dict = {}


def q(name: str, sql: str | None):
    def reg(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return reg


#: curation gates (documented constants; a real deployment tunes per corpus)
CUR_LANG = "en"
CUR_MIN_TOKENS = 30
CUR_MIN_QUALITY = 0.28

_CUR_SQL = f"""
    WITH cand AS (
      SELECT doc_id, text, source FROM documents WHERE lang = '{CUR_LANG}'),
    tok AS (
      SELECT doc_id, tk FROM (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tk
        FROM cand) u
      WHERE tk <> ''),
    feat AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             round(0.5 * (CAST(count(DISTINCT tk) AS DOUBLE) / count(*)) +
                   0.5 * (CAST(sum(CASE WHEN tk IN ('the','a','of','and')
                                        THEN 1 ELSE 0 END) AS DOUBLE) / count(*)),
                   6) AS quality
      FROM tok GROUP BY 1),
    gated AS (
      SELECT c.doc_id, c.text, c.source, f.n_tokens, f.quality
      FROM cand c JOIN feat f USING (doc_id)
      WHERE f.n_tokens >= {CUR_MIN_TOKENS} AND f.quality >= {CUR_MIN_QUALITY}),
    canon AS (
      SELECT md5(text) AS hh, min(doc_id) AS canon_id FROM gated GROUP BY 1),
    kept AS (
      SELECT g.* FROM gated g JOIN canon c
      ON md5(g.text) = c.hh AND g.doc_id = c.canon_id)
    SELECT c.source,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(count(k.doc_id) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(k.n_tokens), 0) AS BIGINT) AS n_tokens_kept,
           round(avg(k.quality), 6) AS avg_quality_kept
    FROM cand c LEFT JOIN kept k ON c.doc_id = k.doc_id
    GROUP BY 1
"""


def curation_doc_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc gate features in ONE pass over the text bytes: every
    feature (token count, distinct-token ratio, stopword ratio, exact-dup
    hash) is a per-row array expression over the split tokens, so the
    heavy column is scanned once (lang filter pushed to the scan,
    test_plans pin) and nothing row-scale ever shuffles — the oracle's
    explode+groupBy is the semantic definition, this is its map-only
    evaluation (values identical: size/array_distinct/filter over the
    same token multiset, same double arithmetic, same round)."""
    stop = F.array(*[F.lit(w) for w in ["the", "a", "of", "and"]])
    tk = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    n = F.size(tk).cast("double")
    quality = F.round(
        0.5 * (F.size(F.array_distinct(tk)).cast("double") / n)
        + 0.5
        * (
            F.size(F.filter(tk, lambda x: F.array_contains(stop, x))).cast("double")
            / n
        ),
        6,
    )
    return (
        t_split(spark, sf, "documents")
        .filter(F.col("lang") == CUR_LANG)
        .select(
            "doc_id",
            "source",
            F.md5("text").alias("hh"),
            F.size(tk).cast("bigint").alias("n_tokens"),
            quality.alias("quality"),
        )
    )


@q("curation_pipeline", _CUR_SQL)
def curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    # Downstream (gated/canon/kept/report) runs on the narrow per-doc
    # frame; a lazy checkpoint stops its three consumers from re-running
    # the corpus scan + feature extraction. Interleaved A/B at sf0.1
    # (results bit-identical): 0.76 s vs 1.42 s min-of-4; the plan goes
    # 5 documents scans -> 1 (inside the checkpoint job, where the lang
    # pushdown is pinned via curation_doc_frame).
    d = curation_doc_frame(spark, sf).localCheckpoint(eager=False)
    gated = d.filter(
        (F.col("n_tokens") >= CUR_MIN_TOKENS) & (F.col("quality") >= CUR_MIN_QUALITY)
    )
    canon = gated.groupBy("hh").agg(F.min("doc_id").alias("canon_id"))
    # the canonical id IS a doc_id, so membership in the canon set selects
    # exactly one survivor per identical-text group
    kept = gated.join(
        canon.select(F.col("canon_id").alias("doc_id")), "doc_id", "left_semi"
    )
    return (
        d.join(
            kept.select("doc_id", "n_tokens", "quality")
            .withColumnRenamed("doc_id", "kept_id")
            .withColumnRenamed("n_tokens", "kept_tokens")
            .withColumnRenamed("quality", "kept_quality"),
            d["doc_id"] == F.col("kept_id"),
            "left",
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_candidates"),
            F.count("kept_id").cast("bigint").alias("n_kept"),
            F.coalesce(F.sum("kept_tokens"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens_kept"),
            F.round(F.avg("kept_quality"), 6).alias("avg_quality_kept"),
        )
    )


#: span width (tokens) for the C4-style duplicate-span pass and the Gopher
#: repetition signals. The synthetic corpus has no newlines, so "line" is a
#: fixed-width token span — the operator shape (corpus-global span dedup,
#: within-doc repetition ratios) is exactly the published filters'.
SPAN_W = 8

#: Gopher-style repetition gates (published thresholds: top-2-gram fraction
#: 0.20, duplicate-line fraction 0.30)
REP_MAX_TOP_BIGRAM = 0.2
REP_MAX_DUP_SPAN = 0.3


def _tokens_col():
    """Non-empty lowercase whitespace tokens as an array column ``tk``."""
    return F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "").alias("tk")


def _spans_expr():
    """SPAN_W-token spans of ``tk``, 1-based slice (clamped partial tail).

    Guarded: Spark's sequence(0, -1) DESCENDS, so an empty token array must
    short-circuit to an empty span array instead.
    """
    e = F.expr(
        f"transform(sequence(0, cast(ceil(size(tk)/{SPAN_W}.0) as int) - 1),"
        f" i -> array_join(slice(tk, i*{SPAN_W}+1, {SPAN_W}), ' '))"
    )
    return F.when(F.size("tk") > 0, e).otherwise(
        F.array().cast("array<string>")
    )


_TOK_SQL = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"


@q(
    "repetition_filter",
    f"""
    WITH tok AS (
      SELECT doc_id, {_TOK_SQL} AS tk FROM documents),
    base AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, tk FROM tok),
    bg AS (
      SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bigram
      FROM base, unnest(generate_series(1, CAST(len(tk) AS BIGINT) - 1)) AS u(i)),
    bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
    bstat AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bgc GROUP BY 1),
    ch AS (
      SELECT doc_id, array_to_string(tk[i*{SPAN_W}+1 : i*{SPAN_W}+{SPAN_W}], ' ') AS span
      FROM base,
           unnest(generate_series(0, CAST(ceil(len(tk)/{SPAN_W}.0) AS BIGINT) - 1)) AS u(i)),
    cstat AS (
      SELECT doc_id, count(*) AS nc, count(DISTINCT span) AS nd FROM ch GROUP BY 1)
    SELECT b.doc_id, b.n_tokens,
           round(coalesce(CAST(s.mx AS DOUBLE) / s.tot, 0), 6) AS top_bigram_frac,
           round(1 - CAST(c.nd AS DOUBLE) / c.nc, 6) AS dup_span_frac,
           (coalesce(CAST(s.mx AS DOUBLE) / s.tot, 0) <= {REP_MAX_TOP_BIGRAM}
            AND 1 - CAST(c.nd AS DOUBLE) / c.nc <= {REP_MAX_DUP_SPAN}) AS keep
    FROM base b
    LEFT JOIN bstat s USING (doc_id)
    JOIN cstat c USING (doc_id)
    """,
)
def repetition_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style within-document repetition gate: fraction of all bigram
    occurrences taken by the most frequent bigram, and the fraction of
    SPAN_W-token spans that are within-doc duplicates; a doc keeps iff both
    are under the published thresholds.

    Scale shape: MAP-ONLY — every statistic is a per-row array expression
    (the oracle's explode+groupBy is the semantic definition; this is its
    per-row evaluation). The span-dup ratio is size/array_distinct over
    the doc's spans; the top-bigram count is a fold over the SORTED bigram
    array (longest equal run == the mode count). Nothing shuffles at any
    corpus size — the previous two-level bigram groupBy shuffled a row per
    bigram occurrence, |tokens|-scale traffic this drops entirely
    (interleaved A/B at sf0.1, results bit-identical: 0.35 s vs 0.94 s
    min-of-3).

    Graft provenance: generalizes the reference's per-text cleanup gate
    (pages/Preprocess_scripts/PreprocessDump.py:84-89) to the corpus
    repetition filters a webtext pipeline runs before training.
    """
    base = t_split(spark, sf, "documents").select("doc_id", _tokens_col())
    bigrams = F.when(
        F.size("tk") >= 2,
        F.expr(
            "transform(sequence(1, size(tk) - 1),"
            " i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = base.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("n_tokens"),
        F.sort_array(bigrams).alias("bg"),
        _spans_expr().alias("spans"),
    )
    # longest equal run in the sorted bigram array == max per-bigram count
    mx = F.expr(
        "aggregate(bg,"
        " struct(cast(null as string) as prev, 0L as run, 0L as best),"
        " (a, x) -> struct("
        "   x as prev,"
        "   CASE WHEN a.prev IS NOT NULL AND x = a.prev THEN a.run + 1"
        "        ELSE 1L END as run,"
        "   greatest(a.best,"
        "            CASE WHEN a.prev IS NOT NULL AND x = a.prev"
        "                 THEN a.run + 1 ELSE 1L END) as best),"
        " a -> a.best)"
    )
    tot = F.size("bg").cast("bigint")
    nc = F.size("spans").cast("bigint")
    nd = F.size(F.array_distinct("spans")).cast("bigint")
    top_frac = F.when(tot > 0, mx.cast("double") / tot).otherwise(F.lit(0.0))
    dup_frac = F.lit(1.0) - nd.cast("double") / nc
    return d.select(
        "doc_id",
        "n_tokens",
        F.round(top_frac, 6).alias("top_bigram_frac"),
        F.round(dup_frac, 6).alias("dup_span_frac"),
        (
            (top_frac <= REP_MAX_TOP_BIGRAM) & (dup_frac <= REP_MAX_DUP_SPAN)
        ).alias("keep"),
    )


@q(
    "dedup_lines_c4",
    f"""
    WITH tok AS (
      SELECT doc_id, {_TOK_SQL} AS tk FROM documents),
    spans AS (
      SELECT doc_id, i AS pos,
             array_to_string(tk[i*{SPAN_W}+1 : i*{SPAN_W}+{SPAN_W}], ' ') AS span
      FROM tok,
           unnest(generate_series(0, CAST(ceil(len(tk)/{SPAN_W}.0) AS BIGINT) - 1)) AS u(i)),
    ranked AS (
      SELECT doc_id, pos, span,
             row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      FROM spans),
    stats AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_spans,
             CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept
      FROM ranked GROUP BY 1),
    txt AS (
      SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS clean_text
      FROM ranked WHERE rn = 1 GROUP BY 1)
    SELECT s.doc_id, s.n_spans, s.n_kept,
           coalesce(t.clean_text, '') AS clean_text
    FROM stats s LEFT JOIN txt t USING (doc_id)
    """,
)
def dedup_lines_c4(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style corpus-global duplicate-span removal with reassembly: every
    SPAN_W-token span that occurs anywhere else in the corpus keeps only its
    globally-first occurrence (ordered by doc_id, then position); each doc is
    re-emitted with its surviving spans concatenated in order.

    Scale shape: ONE shuffle on the span text (the dedup key — same key
    shape as dedup_exact but at span granularity) for the global
    first-occurrence window, then one doc_id-keyed aggregation to reassemble.
    The per-doc collect_list is bounded by a single document's span count,
    never corpus-scale. At 10^10 docs the span shuffle is the cost, which is
    irreducible for this semantics; span-hash bucketing keeps it balanced
    (the key is high-entropy text).

    Graft provenance: the duplicate-removal role of the reference's seen-set
    (pages/crawler.py seen-id gate) lifted from URL granularity to the
    published C4 three-sentence-span dedup a webtext pipeline runs.
    """
    from pyspark.sql import Window

    spans = (
        t_split(spark, sf, "documents")
        .select("doc_id", _tokens_col())
        .select("doc_id", F.posexplode(_spans_expr()).alias("pos", "span"))
    )
    w = Window.partitionBy("span").orderBy("doc_id", "pos")
    ranked = spans.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("pos"), F.col("span"))
    )
    return ranked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda x: x["span"]
            ),
        ).alias("clean_text"),
    )


#: tokens per shard for pack_token_shards (a pretraining shard budget)
PACK_BUDGET = 2048


@q(
    "pack_token_shards",
    f"""
    WITH tok AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents),
    packed AS (
      SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_at
      FROM tok)
    SELECT doc_id, n_tokens,
           CAST(floor(start_at / {PACK_BUDGET}.0) AS BIGINT) AS shard_id
    FROM packed
    """,
)
def pack_token_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budgeted shard assignment — the pretraining packing step: docs
    are laid out in doc_id order and a document belongs to the shard where
    its running token offset starts (contiguous packing, deterministic).

    Scale shape: the running sum is TWO-LEVEL — an intra-group window
    partitioned by contiguous doc_id ranges, plus group bases from the
    one-row-per-group totals table (itself evaluated without any
    unpartitioned window: a super-group intra window + broadcast theta-join
    bases) — so no row-scale data ever funnels through a single-partition
    window even at 10^10 documents. The oracle expresses the same number as
    one flat window, which is the semantic definition; the two-level form
    is the distributed evaluation of it.
    """
    group_span = 65536  # contiguous doc_id range per level-1 group
    tok = t_split(spark, sf, "documents").select(
        "doc_id",
        F.size(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).cast("bigint").alias("n_tokens"),
    )
    g = F.floor(F.col("doc_id") / group_span).alias("_g")
    tok = tok.withColumn("_g", g)
    from pyspark.sql import Window

    wi = (
        Window.partitionBy("_g")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = tok.withColumn("_ibase", F.coalesce(F.sum("n_tokens").over(wi), F.lit(0)))
    # level-2 running sum over the one-row-per-group totals table — itself
    # two-level: an intra
    # window partitioned by contiguous super-groups of `group_span` groups,
    # plus super-group bases via a broadcast theta-join (sum of strictly-
    # smaller super-groups). No unpartitioned window anywhere: the old flat
    # level-2 window pushed one row per `group_span` docs through a single
    # task (10^10 docs → ~152k rows in one task, and a WindowExec warning
    # per run); the theta-join side is hard-capped at docs/group_span² rows
    # (10^12 docs → ~233), metadata scale by construction.
    gtot = tok.groupBy("_g").agg(F.sum("n_tokens").alias("_gtot"))
    gtot = gtot.withColumn("_gg", F.floor(F.col("_g") / group_span))
    wgi = (
        Window.partitionBy("_gg")
        .orderBy("_g")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gintra = gtot.withColumn(
        "_gibase", F.coalesce(F.sum("_gtot").over(wgi), F.lit(0))
    )
    ggtot = gtot.groupBy("_gg").agg(F.sum("_gtot").alias("_ggtot"))
    prior = ggtot.select(F.col("_gg").alias("_gg2"), F.col("_ggtot").alias("_ggtot2"))
    ggbase = (
        ggtot.join(F.broadcast(prior), F.col("_gg2") < F.col("_gg"), "left")
        .groupBy("_gg")
        .agg(F.coalesce(F.sum("_ggtot2"), F.lit(0)).alias("_ggbase"))
    )
    gbase = (
        gintra.join(F.broadcast(ggbase), "_gg")
        .select("_g", (F.col("_ggbase") + F.col("_gibase")).alias("_gbase"))
    )
    return (
        intra.join(F.broadcast(gbase), "_g")
        .select(
            "doc_id",
            "n_tokens",
            F.floor((F.col("_gbase") + F.col("_ibase")) / float(PACK_BUDGET))
            .cast("bigint")
            .alias("shard_id"),
        )
    )


# Token-window document chunking — long documents split into fixed-size
# token chunks with overlap (the context-window prep step between curation
# and shard packing; pack_token_shards then lays the chunks out).
# Chunk starts step by CHUNK_TOKENS − CHUNK_OVERLAP; the last window is
# emitted iff it starts inside the doc, so every token lands in ≥1 chunk
# and short docs yield exactly one chunk.
CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
_CHUNK_STEP = CHUNK_TOKENS - CHUNK_OVERLAP


@q(
    "chunk_documents",
    f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents),
    chunks AS (
      SELECT doc_id, len(w) AS n_tokens,
             CAST(g.i AS BIGINT) AS chunk_no,
             w[1 + g.i * {_CHUNK_STEP} :
               least(len(w), g.i * {_CHUNK_STEP} + {CHUNK_TOKENS})] AS cw
      FROM tok,
           unnest(generate_series(0,
             CAST(ceil(greatest(len(w) - {CHUNK_OVERLAP}, 1)
                       / {_CHUNK_STEP}.0) AS BIGINT) - 1)) AS g(i)
      WHERE len(w) > 0)
    SELECT doc_id, chunk_no,
           CAST(len(cw) AS BIGINT) AS chunk_tokens,
           md5(array_to_string(cw, ' ')) AS chunk_hash
    FROM chunks
    """,
)
def chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, chunk_no, chunk token count, chunk content hash) per
    fixed-token window. The hash stands in for the chunk text in the
    oracle compare (byte-level equality without shipping every chunk).

    Scale shape: pure per-document computation — tokenize once, generate
    the bounded chunk-start sequence, explode, slice — all codegen'd array
    expressions, no shuffle at all (the explode fan-out is
    tokens/STEP ≈ 1.3 rows per 64 input tokens). At 10^10 docs this is a
    map-only pass, exactly what a chunking stage must be.
    """
    d = t_split(spark, sf, "documents")
    w = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    n_chunks = F.ceil(
        F.greatest(F.size("w") - CHUNK_OVERLAP, F.lit(1)) / F.lit(float(_CHUNK_STEP))
    ).cast("bigint")
    tok = d.select("doc_id", w.alias("w")).filter(F.size("w") > 0)
    ch = tok.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias("chunk_no"),
        "w",
    )
    cw = F.slice(
        F.col("w"),
        (F.col("chunk_no") * _CHUNK_STEP + 1).cast("int"),
        F.least(
            F.size("w") - (F.col("chunk_no") * _CHUNK_STEP).cast("int"),
            F.lit(CHUNK_TOKENS),
        ),
    )
    return ch.select(
        "doc_id",
        "chunk_no",
        F.size(cw).cast("bigint").alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", cw).cast("binary")).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# Data-mixing weights — per-source token shares vs a uniform target mixture.
# The per-source resampling-weight computation a pretraining pipeline runs
# before shard packing: sources whose token share is below target get
# weight > 1 (upsample), over-represented sources get weight < 1. The
# reference's per-query result partitioning (one gz dump per search term,
# Crawler.py:127-146) is the analogous per-source bookkeeping step.
@q(
    "domain_mixing_weights",
    f"""
    WITH tk AS (
      SELECT source,
             CAST(sum(len({_TOK_SQL})) AS BIGINT) AS toks
      FROM documents GROUP BY 1),
    tot AS (SELECT CAST(sum(toks) AS DOUBLE) AS total,
                   CAST(count(*) AS DOUBLE) AS nsrc FROM tk)
    SELECT source, toks,
           round(toks / total, 6) AS share,
           round((1.0 / nsrc) / (toks / total), 6) AS weight
    FROM tk, tot
    """,
)
def domain_mixing_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token count, corpus share, and uniform-target mix weight.

    Scale shape: token counting is a map-side projection (size of the
    split array — the token ARRAYS never shuffle, only per-doc counts);
    one partial+final agg to source grain; the corpus totals are a
    1-row aggregate joined back by broadcast — the sanctioned
    scalar-stats pattern (see bm25_search's plan pin)."""
    d = t_split(spark, sf, "documents")
    per_src = (
        d.select("source", F.size(_tokens_col()).alias("ntok"))
        .groupBy("source")
        .agg(F.sum("ntok").cast("bigint").alias("toks"))
    )
    tot = per_src.agg(
        F.sum("toks").cast("double").alias("total"),
        F.count("*").cast("double").alias("nsrc"),
    )
    share = F.col("toks") / F.col("total")
    return per_src.join(F.broadcast(tot)).select(
        "source",
        "toks",
        F.round(share, 6).alias("share"),
        F.round((1.0 / F.col("nsrc")) / share, 6).alias("weight"),
    )
