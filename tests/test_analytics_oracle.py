"""In-repo slice of the driver's correctness gate: a representative subset
of queries() compared against their DuckDB oracle_sql() twins at sf0.001.

The full sweep lives in tools/check_oracle.py (run at sf0.01 by the
driver); this keeps `pytest -x -q` self-contained and guards regressions in
the shared cross-engine conventions (hash, decimal, rounding, ordering).
"""

import math

import duckdb
import pytest

from tests.conftest import SF_DIR

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

SUBSET = [
    "pricing_summary",
    "event_type_counts",
    "user_top_event_margin",
    "part_class_first_match",
    "label_propagation",
    "connected_components",
    "pagerank_fixedpoint",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_lsh",
    "knn_bruteforce",
    "lang_id_heuristic",
    "token_stats",
    "top_ngrams",
    "doc_length_percentiles",
    "text_classify_scores",
    "referenced_tweet_extract",
    "session_windows",
    "events_asof_orders",
    "stratified_sample",
    "cheapest_order_per_customer",
    "multimodal_meta",
    "multimodal_framesample",
    "ann_ivf",
    "ann_ivf_refined",
    "curation_pipeline",
    "pack_token_shards",
    "repetition_filter",
    "dedup_lines_c4",
    "order_priority_check",
    "priority_shipment_counts",
    "returned_item_top20",
    "large_volume_customers",
    "signup_followon_1h",
    "forecast_revenue_delta",
    "top_supplier_by_revenue",
    "small_qty_avg_revenue",
    "discounted_revenue_bands",
    "profit_by_nation_year",
    "important_stock_parts",
    "sole_late_shipper_ranking",
    "idle_rich_customers",
    "pii_scrub",
    "tfidf_top_terms",
    "rolling_event_avg_1h",
    "events_resample_locf",
    "bm25_search",
    "inverted_index",
    "triangle_count",
    "nation_market_share",
    "dominant_part_suppliers",
    "pmi_bigrams",
    "degree_distribution",
    "anomaly_zscore_events",
    "embedding_centroid_per_label",
    "events_column_profile",
    "weighted_sample_topk",
    "chunk_documents",
    "group_sample_exact_k",
    "acctbal_nation_intersect",
    "order_price_quartiles",
    "distinct_users_per_type",
    "domain_mixing_weights",
    "rare_token_ratio",
    "unigram_surprisal",
    "grouping_sets_revenue",
    "part_name_fuzzy_match",
    # round-4: driver rotation had left these six out of every gate (VERDICT r3)
    "ann_lsh_bucketed",
    "decontaminate_against_eval",
    "dedup_embedding_cosine",
    "dedup_near_canonical",
    "doc_fingerprint",
    "quality_score",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    from twittercrawler_spark.analytics import ALL_ORACLES, ALL_QUERIES

    sdf = ALL_QUERIES[name](spark, SF_DIR)
    scols, srows = _canon([tuple(r) for r in sdf.collect()], sdf.columns)
    res = duck.execute(ALL_ORACLES[name])
    ocols, orows = _canon(res.fetchall(), [d[0] for d in res.description])
    assert scols == ocols
    assert len(srows) == len(orows)
    assert srows == orows


def test_classify_with_model_drives_pickled_artifact(spark, tmp_path):
    """The classify_with_model seam must work with a REAL loaded artifact:
    pickle a model to disk, load it in the driver, score through the
    mapInPandas seam, and match a local predict() call exactly (same
    deterministic arithmetic ⇒ bit-identical floats). Mirrors the
    reference's pickled-classifier lifecycle (Random_Forest_Classifier.py:
    53-75: load → batch predict)."""
    import pickle

    from twittercrawler_spark.analytics.classify import (
        HashingLinearModel,
        classify_with_model,
    )

    path = tmp_path / "model.pkl"
    with open(path, "wb") as f:
        pickle.dump(HashingLinearModel(), f)
    with open(path, "rb") as f:
        model = pickle.load(f)

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    local_rows = docs.collect()
    expected = dict(
        zip(
            [r["doc_id"] for r in local_rows],
            model.predict([str(r["text"]) for r in local_rows]),
        )
    )
    got = {r["doc_id"]: r["score"] for r in classify_with_model(docs, model.predict).collect()}
    assert got == expected  # exact float equality: identical arithmetic


def test_classify_scorer_skips_null_text():
    """NULL text must yield no row (the oracle emits none), never the
    literal token 'none'."""
    import pandas as pd

    from twittercrawler_spark.analytics.classify import _score_batches

    out = list(
        _score_batches(
            iter([pd.DataFrame({"doc_id": [1, 2, 3], "text": ["hello world", None, "  "]})])
        )
    )
    got = pd.concat(out)
    assert list(got["doc_id"]) == [1]


def test_anomaly_zscore_survives_zero_variance_group(spark, tmp_path):
    """A single-occurrence (or all-equal-value) event_type has zero
    variance; the z expression must yield NULL-and-filtered for that group
    (the oracle's 0/0 → NULL semantics), never an ANSI divide-by-zero
    crash."""
    import datetime as dt

    from twittercrawler_spark.analytics.star import anomaly_zscore_events

    rows = [
        (1, dt.datetime(2024, 1, 1), 1, "solo", 5.0, "{}"),      # n=1 group
        (2, dt.datetime(2024, 1, 1), 1, "flat", 2.0, "{}"),      # zero-var
        (3, dt.datetime(2024, 1, 1), 2, "flat", 2.0, "{}"),
        (4, dt.datetime(2024, 1, 1), 1, "mix", 1.0, "{}"),
        (5, dt.datetime(2024, 1, 1), 2, "mix", 100.0, "{}"),
    ]
    cols = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    spark.createDataFrame(rows, cols).write.parquet(str(tmp_path / "events.parquet"))
    out = anomaly_zscore_events(spark, str(tmp_path)).collect()  # must not raise
    assert {r["event_type"] for r in out} <= {"mix"}


def test_dedup_signals_cache_drops_other_applications(spark):
    from twittercrawler_spark.analytics import dedup

    foreign = ("app-stopped-long-ago", SF_DIR)
    dedup._SIGNALS_CACHE[foreign] = None
    sig = dedup.dedup_signals(spark, SF_DIR)
    assert foreign not in dedup._SIGNALS_CACHE
    assert dedup._SIGNALS_CACHE[(spark.sparkContext.applicationId, SF_DIR)] is sig
