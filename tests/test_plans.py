"""Physical-plan shape assertions (the scale contract, SURVEY.md §4.3).

Correct results are necessary, not sufficient: these tests pin the plan
properties that keep the engine fast at 100 TB — filters reaching the
parquet scan, column pruning, broadcast joins for dimension tables,
partial (map-side) aggregation, whole-stage codegen for scalar work.
"""

import pytest

from tests.conftest import SF_DIR
from twittercrawler_spark.analytics import ALL_QUERIES


def plan_of(spark, name: str) -> str:
    df = ALL_QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = plan_of(spark, "pricing_summary")
    # the shipdate predicate must reach the parquet scan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]
    # column pruning: unused wide columns never leave the scan
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema
    # partial+final hash aggregation (map-side combine)
    assert plan.count("HashAggregate") >= 2


def test_dim_joins_broadcast(spark):
    for name in ["revenue_by_nation", "event_customer_enrich", "avg_acctbal_by_nation"]:
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
    # the 6-way chain must not sort-merge the dimension chain
    plan = plan_of(spark, "revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 4


def test_anti_and_semi_joins_planned(spark):
    assert "LeftAnti" in plan_of(spark, "events_unknown_users")
    assert "LeftSemi" in plan_of(spark, "orders_with_big_lineitem")


def test_scalar_projection_codegen(spark):
    plan = plan_of(spark, "doc_projection")
    # formatted mode marks codegen'd spans with "[codegen id : N]"
    assert "codegen id" in plan
    # no Python UDFs in the scalar path
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dedup_exact_partial_agg(spark):
    plan = plan_of(spark, "dedup_exact")
    assert plan.count("HashAggregate") >= 2


def test_topk_single_shuffle(spark):
    plan = plan_of(spark, "top3_orders_per_customer")
    # one exchange node for the window partition key (each node appears
    # twice in formatted output: tree line + detail block)
    assert plan.count("Exchange") <= 2
    # and the rank filter is pushed into a map-side partial top-k
    assert "WindowGroupLimit" in plan


@pytest.mark.parametrize(
    "name", ["dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_lsh"]
)
def test_lsh_paths_avoid_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, (
        f"{name} must candidate via equi-join bucketing, never n² pairs"
    )
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name} must not plan an all-pairs nested-loop join"
    )


def test_no_headline_query_plans_all_pairs(spark):
    """No headline bench query may materialize the n² pair space. The
    sanctioned nested-loops: knn_bruteforce, whose loop side is the bounded
    broadcast query set (per-batch scoring pattern); bm25_search /
    unigram_surprisal, whose loop side is a 1-ROW broadcast corpus-stats
    aggregate (N, sum dl / total token count) — a scalar join,
    constant-size at any corpus scale; and pack_token_shards, whose loop
    side is the broadcast super-group totals table of the two-level prefix
    sum — hard-capped at docs/group_span² rows (~233 at 10^12 docs)."""
    import bench

    sanctioned = (
        "knn_bruteforce",
        "bm25_search",
        "unigram_surprisal",
        "pack_token_shards",
    )
    for name in bench.HEADLINE:
        if name.startswith("crawl") or name == "multimodal_decode":
            continue
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        if name not in sanctioned:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_global_topk_never_single_partition_window(spark):
    # top-k of a large input must plan as TakeOrderedAndProject (map-side
    # partial top-k), never a partition-less WindowExec that funnels every
    # row through one task
    plan = plan_of(spark, "shipping_priority_top10")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_topk_queries_plan_take_ordered(spark):
    # every global top-k in the suite must be TakeOrderedAndProject, never a
    # partition-less window over the full input
    for name in ["shipping_priority_top10", "top_ngrams", "returned_item_top20",
                 "bm25_search", "pmi_bigrams", "weighted_sample_topk"]:
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "Window" not in plan, name


def test_inverted_index_bounded_two_level(spark):
    """The posting-list build must be the bounded two-level shape: the
    rank window is PARTITIONED by (term, salt) — never a partition-less
    window, never a per-term one (a stopword would funnel one task) — and
    no cartesian anywhere. The salt key in the windowspec is the pin."""
    plan = plan_of(spark, "inverted_index")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(term" in plan and "salt" in plan.split(
        "windowspecdefinition(term", 1
    )[1][:80]


def test_sf_scaled_tables_carry_no_broadcast_hint(spark):
    """SF-scaled tables (customer/part/supplier) must never be FORCE-
    broadcast: at the 100x design point they outgrow executor memory and a
    hard hint turns a graceful SMJ into an OOM. The analyzed plan may carry
    hints only for the fixed-cardinality dims (nation/region/literal
    frames), while size-based planning must still pick broadcast joins at
    sf0.001 — i.e. dropping the hints costs nothing at test scale."""
    expected_hints = {
        "event_customer_enrich": 0,
        "events_unknown_users": 0,
        "shipping_priority_top10": 0,
        "suppliers_per_parttype": 0,
        "rollup_revenue": 2,  # nation + region
        "cube_revenue": 2,  # nation + region
        "bilateral_trade_volume": 2,  # the two nation roles
        "revenue_by_nation": 2,  # nation + region chain
    }
    for name, hints in expected_hints.items():
        df = ALL_QUERIES[name](spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint") == hints, (
            f"{name}: expected {hints} fixed-dim hints, analyzed plan has "
            f"{analyzed.count('ResolvedHint')}"
        )
        assert "BroadcastHashJoin" in plan_of(spark, name), name


def test_knn_broadcasts_queries(spark):
    plan = plan_of(spark, "knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_curation_pipeline_pushdown(spark):
    """The language gate must be pushed to the one documents scan (the
    per-doc feature frame that the pipeline checkpoints), the feature
    extraction must be map-only (no shuffle before the checkpoint), and
    the pipeline's report aggregation must map-side combine."""
    from twittercrawler_spark.analytics.curation import curation_doc_frame

    fp = (
        curation_doc_frame(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scans = fp.split("PushedFilters")[1:]
    lang_pushed = [s.split("]")[0] for s in scans if "lang" in s.split("]")[0]]
    assert lang_pushed, "lang = en must be pushed to the parquet scan"
    # t_split's round-robin splitter (test-parallelism helper) is the only
    # allowed exchange; a hashpartitioning here would mean the features
    # aggregate/shuffle instead of evaluating per-row
    assert "hashpartitioning" not in fp, "feature extraction must be map-only"
    plan = plan_of(spark, "curation_pipeline")
    assert plan.count("HashAggregate") >= 2


def test_ivf_family_no_cartesian_and_broadcast_probe(spark):
    """Both IVF variants: probe table broadcasts against cell-keyed
    assignments; never a cross product."""
    for name in ("ann_ivf", "ann_ivf_refined"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_min_cost_supplier_pushdown(spark):
    """p_size filter pushed; per-part argmin is a window, not a self-join."""
    plan = plan_of(spark, "min_cost_supplier_per_part")
    pushed = [s.split("]")[0] for s in plan.split("PushedFilters")[1:]]
    assert any("p_size" in p for p in pushed)
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_range_join_is_bucketed_equi_join(spark):
    # the 1-hour range join must plan as a (user, bucket) equi hash/merge
    # join — never the BroadcastNestedLoopJoin Spark gives a naive non-equi
    # join — with the exact range predicate applied post-join
    plan = plan_of(spark, "signup_followon_1h")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_forecast_revenue_scan_shape(spark):
    """Q6 shape: all three predicates pushed, 4-column ReadSchema, no join."""
    plan = plan_of(spark, "forecast_revenue_delta")
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_discounted_revenue_bands_pushdown(spark):
    """Q19 shape: per-side envelopes reach BOTH scans despite the cross-side OR."""
    plan = plan_of(spark, "discounted_revenue_bands")
    pushed = [s.split("]")[0] for s in plan.split("PushedFilters")[1:]]
    assert any("l_quantity" in p for p in pushed)
    assert any("p_brand" in p or "p_size" in p for p in pushed)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_top_supplier_scalar_max_broadcast(spark):
    """Q15 shape: the 1-row max joins broadcast; ties preserved (no LIMIT plan)."""
    plan = plan_of(spark, "top_supplier_by_revenue")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" not in plan


def test_sole_late_shipper_semi_anti_shape(spark):
    """Q21 shape: semi + anti self-joins, no cartesian, top-20 as TakeOrdered."""
    plan = plan_of(spark, "sole_late_shipper_ranking")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan


def test_global_scalar_thresholds_broadcast(spark):
    """Q11/Q22 shape: the 1-row scalar side joins as a broadcast."""
    for name in ("important_stock_parts", "idle_rich_customers"):
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_chunk_documents_is_map_only(spark):
    """Chunking must be a pure map pass: tokenize, sequence, explode,
    slice — no KEYED shuffle anywhere (at 10^10 docs a hash exchange here
    would be the whole job's cost for an embarrassingly parallel stage).
    The only exchange allowed is t_split's round-robin re-split of the
    one-row-group test file, which disappears at production file counts."""
    plan = plan_of(spark, "chunk_documents")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_lang_id_is_map_only(spark):
    """Language ID votes are |distinct tokens ∩ per-language stopword
    list| computed per row (array_intersect against literal arrays), so
    the whole argmax is one codegen'd projection: no token explode, no
    distinct, no join, no window. At corpus scale the old shape pushed
    every distinct (doc, token) pair through an exchange just to discard
    all non-stopword tokens. Only t_split's round-robin re-split of the
    one-row-group test file may appear (a no-op at production file
    counts)."""
    plan = plan_of(spark, "lang_id_heuristic")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Window" not in plan
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert join not in plan, plan
    assert "Generate" not in plan  # no explode
    ReadSchema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "doc_id" in ReadSchema and "text" in ReadSchema


def test_two_phase_count_distinct_no_expand(spark):
    """distinct_users_per_type is hand-written two-phase: pair-distinct
    then count. The plan must show the composite-key aggregation (two
    agg pairs) and — unlike count(DISTINCT) — no Expand node, so the
    shuffle keys on the well-spread (event_type, user_id) pair, never
    funneling a hot event_type through one reducer."""
    plan = plan_of(spark, "distinct_users_per_type")
    assert plan.count("HashAggregate") >= 3
    assert "Expand" not in plan


def test_rare_token_ratio_equi_join_only(spark):
    """The freq join must be a keyed equi-join (skew handled by AQE split),
    never a nested-loop/cartesian; both aggregations partial+final."""
    plan = plan_of(spark, "rare_token_ratio")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 4


def test_order_price_quartiles_partitioned_window(spark):
    """The ntile window must be partitioned (by o_orderpriority) — a
    partition-less global window would serialize the whole table through
    one task at scale."""
    plan = plan_of(spark, "order_price_quartiles")
    assert "Window" in plan
    assert "hashpartitioning(o_orderpriority" in plan


def test_mixing_weights_scalar_broadcast(spark):
    """The 1-row corpus-total side joins by broadcast (scalar-stats
    pattern); token arrays never shuffle — the only exchanges key on
    source or are the scalar broadcast."""
    plan = plan_of(spark, "domain_mixing_weights")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_grouping_sets_single_pass(spark):
    """GROUPING SETS ((region),(nation)) must plan as ONE Expand + hash
    agg over a single pass of the join — not two separate scans/shuffles
    of the orders fact."""
    plan = plan_of(spark, "grouping_sets_revenue")
    assert "CartesianProduct" not in plan
    # exactly ONE Expand operator (tree line + detail line in formatted mode)
    assert plan.count("Expand") == 2, plan
    # exactly one scan per relation — the orders fact is NOT scanned once per
    # grouping set (formatted mode embeds each relation's path once)
    assert plan.count("orders.parquet") == 1, plan
    # 4 relations (orders/customer/nation/region), each a tree + detail line
    assert plan.count("Scan parquet") == 8, plan


def test_fuzzy_match_broadcasts_literal_dim(spark):
    """The edit-distance theta join must broadcast the fixed-cardinality
    catalog (sanctioned literal-dim BNLJ, like knn's query side) — never
    a shuffle or a cartesian over the part side."""
    plan = plan_of(spark, "part_name_fuzzy_match")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(p_name" not in plan


def test_unigram_surprisal_integer_exact_shape(spark):
    """Token rows collapse to (doc, token, count) grain before the
    vocabulary join (partial+final aggs); the corpus total attaches as
    the 1-row scalar broadcast; the model join is a keyed equi-join."""
    plan = plan_of(spark, "unigram_surprisal")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_label_propagation_edges_single_scan_no_self_join(spark):
    """Edge generation is collect_set-per-order + double explode: ONE
    lineitem scan feeding a partially-aggregated two-column shuffle, with
    the pair blowup map-side after per-order dedup — never a lineitem
    self-join (two scans + two full shuffle sides of the fact table)."""
    from twittercrawler_spark.analytics.graph import _edges

    df = _edges(spark, SF_DIR, part_key="dst")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert plan.count("Scan parquet") == 1, plan
    assert "Generate" in plan, plan  # the explode pair expansion
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert join not in plan, plan


def test_link_expansion_single_clustering_shuffle(spark):
    """The crawl round's link-expansion subtree rides ONE host_bucket
    clustering exchange: the per-url dedup agg groups on a superset of the
    partition key (no second exchange), and the Bloom-probe cogroup in
    filter_unseen groups on host_bucket itself — so explode → url cols →
    repartition → agg → probe is a single shuffle of the exploded links,
    with no url-keyed exchange and no semi-join back (frontier/crawl.py
    expand stage; frontier/seen.py filter_unseen)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from twittercrawler_spark.frontier.crawl import _with_url_cols
    from twittercrawler_spark.frontier.seen import update_bloom_sidecar

    pages = spark.createDataFrame(
        [("http://a.com/x", 1.0, ["http://a.com/y", "http://b.com/z"])],
        "url string, priority double, links array<string>",
    )
    links = pages.select(
        F.explode("links").alias("url"),
        (F.col("priority") * 0.5).alias("child_priority"),
    )
    links = _with_url_cols(links, 64, 8)
    links = (
        links.repartition(64, "host_bucket")
        .groupBy("url", "url_hash", "host", "host_bucket", "path")
        .agg(F.max("child_priority").alias("priority"))
    )
    seen = _with_url_cols(
        spark.createDataFrame([("http://a.com/y",)], "url string"), 64, 8
    )
    sidecar = update_bloom_sidecar(seen.select("host_bucket", "url_hash"), None)

    out_schema = T.StructType(
        list(links.schema.fields) + [T.StructField("_maybe_seen", T.BooleanType())]
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.copy()
        left["_maybe_seen"] = False
        return left

    flagged = (
        links.groupby("host_bucket")
        .cogroup(sidecar.groupby("host_bucket"))
        .applyInPandas(probe, out_schema)
    )
    plan = flagged._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # exactly one REPARTITION_BY_NUM (the host_bucket clustering) and no
    # url-keyed exchange anywhere in the plan
    assert plan.count("REPARTITION_BY_NUM") == 1, plan
    assert "hashpartitioning(url" not in plan, plan
    # links side of the probe cogroup = first FlatMapCoGroupsInPandas down
    # to the clustering exchange: both agg halves (partial+final) and no
    # exchange other than the clustering one itself
    links_side = plan.split("FlatMapCoGroupsInPandas")[1].split(
        "REPARTITION_BY_NUM"
    )[0]
    assert links_side.count("Exchange") == 1, plan
    assert links_side.count("HashAggregate") == 2, plan


def _schedule_fixture(spark):
    from tests.test_scheduler import _candidates

    cands = _candidates(spark, n=900, n_hosts=7)
    quotas = spark.createDataFrame(
        [("hot.com", 2), ("h1.com", 0), ("h2.com", 9999)], ["host", "_quota"]
    )
    return cands, quotas


def test_schedule_one_range_exchange(spark):
    """The crawl schedule is the salted phase-1 hash exchange plus ONE
    range exchange on host, which serves the phase-2 host window and lays
    hosts out in order. The numbering Project sits directly on the local
    (host, host_rank) Sort — an exchange between them would scramble the
    row index monotonically_increasing_id encodes — and no nested-loop
    join computes offsets (frontier/scheduler.py)."""
    from twittercrawler_spark.frontier.scheduler import ranked_slice

    cands, quotas = _schedule_fixture(spark)
    plan = ranked_slice(cands, 5, 8, quotas)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange rangepartitioning") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    lines = plan.splitlines()
    i = next(i for i, line in enumerate(lines) if "monotonically_increasing_id" in line)
    assert lines[i].lstrip(" +-:").startswith("Project"), plan
    assert lines[i + 1].lstrip(" +-:").startswith("Sort [host"), plan


def test_schedule_job_bound(spark):
    """Regression guard on the schedule's fixed per-round cost, counted
    with the job-group status API (works with the UI disabled). Measured
    on this fixture: 7 jobs — phase-1 shuffle, quota broadcast, range
    sample, range shuffle, eager checkpoint, and the per-partition count
    (map + result). The previous design (window-ranked top-k plus a
    two-level offsets prefix sum, then a checkpoint) ran 11."""
    from twittercrawler_spark.frontier.scheduler import schedule

    cands, quotas = _schedule_fixture(spark)
    sc = spark.sparkContext
    group = "test_schedule_job_bound"
    sc.setJobGroup(group, group)
    try:
        schedule(cands, 5, 0, 8, quotas)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 7


def test_first_sidecar_empty_side_is_jvm_only(spark):
    """A crawl's first sidecar build cogroups its hashes with an empty
    previous state. That side is a JVM relation: no Python RDD (the
    ``parallelize`` of ``createDataFrame([])`` ran 4 Python tasks per crawl,
    overlapping the first round's fetch)."""
    from pyspark.sql import functions as F

    from twittercrawler_spark.frontier.seen import SIDECAR_SCHEMA, update_bloom_sidecar

    hashes = spark.range(64).select(
        (F.col("id") % 4).cast("int").alias("host_bucket"),
        F.col("id").alias("url_hash"),
    )
    sidecar = update_bloom_sidecar(hashes, None)
    plan = sidecar._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    assert sidecar.schema == SIDECAR_SCHEMA
    assert sorted(r.host_bucket for r in sidecar.collect()) == [0, 1, 2, 3]


@pytest.mark.parametrize(
    "schema",
    [
        "url string, warc_ts timestamp, html binary, text string, lang string",
        "url string, priority double",
    ],
    ids=["pages", "seeds"],
)
def test_bootstrap_canonicalize_evaluates_once(spark, schema):
    """Bootstrap canonicalizes the pages corpus and the seeds through one
    helper, and its plan crosses into Python once per row: ONE
    ArrowEvalPython with the null filter above it. Called as deterministic,
    the UDF was inlined into ``isNotNull`` pushed below the projection, and
    each input's plan held 2 chained ArrowEvalPython nodes
    (frontier/crawl.py _canonical_urls)."""
    from twittercrawler_spark.frontier.crawl import _canonical_urls

    df = _canonical_urls(spark.createDataFrame([], schema))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    udf_nodes = [line for line in plan.splitlines() if "udf_canonicalize" in line]
    assert len(udf_nodes) == 1, plan
    assert plan.index("Filter isnotnull") < plan.index("ArrowEvalPython"), plan


def _bootstrap_fixture(spark, tmp_path, collide: bool):
    """Bootstrap the fixture of tests/test_bootstrap_dedup.py."""
    from tests.test_bootstrap_dedup import _corpus
    from twittercrawler_spark.frontier.crawl import bootstrap
    from twittercrawler_spark.frontier.simulator import CrawlConfig
    from twittercrawler_spark.sources.tables import Warehouse

    d = _corpus(tmp_path, collide)
    bootstrap(spark, Warehouse(str(tmp_path / "wh")), f"{d}/pages.parquet",
              f"{d}/seeds.parquet", f"{d}/robots.parquet",
              CrawlConfig(num_buckets=4, rounds=1))


def test_bootstrap_dedup_rewrite_rides_clustering_exchange(spark, tmp_path, monkeypatch):
    """On a corpus with colliding urls, bootstrap rewrites pages_canon once
    through a row_number window keyed (host_bucket, url). host_bucket is a
    function of the canonical url, so the host_bucket clustering exchange
    already co-locates every spelling of a url: the rewrite plan holds ONE
    canonicalize crossing and ONE exchange, and the Window sits on the
    local Sort directly above it (with only the WindowGroupLimit Spark
    infers for ``_rn == 1`` between them). The previous rewrite (a broadcast
    split of the corpus around the collision set, unioned back) planned 4
    Exchange and 2 ArrowEvalPython nodes (frontier/crawl.py bootstrap)."""
    from twittercrawler_spark.sources.tables import Warehouse

    plans = []
    write = Warehouse.write

    def capture(self, name, df, rnd, **kw):
        if name == "pages_canon":
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write(self, name, df, rnd, **kw)

    monkeypatch.setattr(Warehouse, "write", capture)
    _bootstrap_fixture(spark, tmp_path, collide=True)
    assert len(plans) == 2, plans  # the optimistic write, then the rewrite
    plan = plans[1]
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Exchange hashpartitioning(host_bucket") == 1, plan
    nodes = [line.lstrip(" +-:") for line in plan.splitlines()]
    i = next(i for i, n in enumerate(nodes) if n.startswith("Window ["))
    below = [n for n in nodes[i + 1:] if not n.startswith("WindowGroupLimit")]
    assert below[0].startswith("Sort [host_bucket"), plan
    assert below[1].startswith("Exchange hashpartitioning(host_bucket"), plan


@pytest.mark.parametrize(
    "collide, bound", [(False, 12), (True, 14)], ids=["clean", "collide"]
)
def test_bootstrap_job_bound(spark, tmp_path, collide, bound):
    """Regression guard on bootstrap's fixed cost, counted with the
    job-group recipe of test_schedule_job_bound. Measured on the fixture of
    tests/test_bootstrap_dedup.py: 12 jobs on the clean corpus and 14 on
    the corpus with collisions. The previous design ran 13 and 19: its
    probe counted up to a broadcast limit (``limit(n + 1).count()``, where
    an emptiness check is one job), checkpointed the collision set and
    broadcast it into a two-sided rewrite."""
    sc = spark.sparkContext
    group = f"test_bootstrap_job_bound_{collide}"
    sc.setJobGroup(group, group)
    try:
        _bootstrap_fixture(spark, tmp_path, collide)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= bound
