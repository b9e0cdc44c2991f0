"""Scheduler invariants: exact per-host quota under skew, deterministic
global sequence, and salting correctness (SURVEY.md §5.5)."""

import contextlib

from pyspark.sql import functions as F

from twittercrawler_spark.frontier.scheduler import ranked_slice, schedule
from twittercrawler_spark.functions.urls import url_hash64


def _candidates(spark, n=2000, hot_share=0.5, n_hosts=10):
    rows = []
    for i in range(n):
        host = "hot.com" if i < n * hot_share else f"h{i % n_hosts}.com"
        url = f"http://{host}/p/{i}"
        rows.append((url, url_hash64(url), host, url_hash64(host) % 8, f"/p/{i}", float(i % 7), 0))
    return spark.createDataFrame(
        rows, ["url", "url_hash", "host", "host_bucket", "path", "priority", "discovered_round"]
    )


@contextlib.contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


# AQE coalesces these small fixtures into one partition; with coalescing
# off the schedule spans several, so the per-partition bases are exercised
_NO_COALESCE = ("spark.sql.adaptive.coalescePartitions.enabled", "false")


def test_quota_exact_under_skew(spark):
    cands = _candidates(spark)
    k = 3
    sel = schedule(cands, k, 0, salt_sub_buckets=8)
    per_host = {r["host"]: r["n"] for r in sel.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert all(n <= k for n in per_host.values())
    assert per_host["hot.com"] == k  # hot host hits its quota exactly


def test_topk_picks_global_best_per_host(spark):
    """Two-phase top-k must equal single-phase top-k (same selected set)."""
    from pyspark.sql import Window

    cands = _candidates(spark, n=500)
    k = 4
    two_phase = {r["url"] for r in schedule(cands, k, 0, salt_sub_buckets=8).collect()}
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), "url_hash", "url")
    one_phase = {
        r["url"]
        for r in cands.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).collect()
    }
    assert two_phase == one_phase


def test_global_sequence_dense_and_ordered(spark):
    cands = _candidates(spark, n=300)
    with _conf(spark, *_NO_COALESCE):
        seq = schedule(cands, 2, start_at=10)
        rows = sorted(
            ((r["seq"], r["host"], r["host_rank"]) for r in seq.collect())
        )
    seqs = [r[0] for r in rows]
    assert seqs == list(range(11, 11 + len(rows)))
    # seq order == (host asc, host_rank asc) order
    assert rows == sorted(rows, key=lambda t: (t[1], t[2]))


def test_sequence_stable_across_parallelism(spark):
    """Same input → same url→seq mapping whatever the partition layout:
    the numbering reads partition counts, so pin it across input
    partitioning, 1 and 64 shuffle partitions, and AQE coalescing off."""
    cands = _candidates(spark, n=400)

    def mapping(df):
        return {r["url"]: r["seq"] for r in schedule(df, 3, 0).collect()}

    want = mapping(cands.repartition(2))
    assert mapping(cands.repartition(16)) == want
    for key, value in (
        ("spark.sql.shuffle.partitions", "1"),
        ("spark.sql.shuffle.partitions", "64"),
        _NO_COALESCE,
    ):
        with _conf(spark, key, value):
            assert mapping(cands) == want, (key, value)


def test_schedule_counts_and_dense_seq(spark):
    """Under skew, variable quotas (including 0 = starved host, and one
    above k = clamped) and hosts absent from the quota table, each host
    gets exactly min(n, k, quota) rows and seq is dense from start_at + 1."""
    cands = _candidates(spark, n=900, n_hosts=7)
    k, start_at = 5, 40
    quota_rows = {"hot.com": 2, "h1.com": 0, "h2.com": 9999}
    quotas = spark.createDataFrame(list(quota_rows.items()), ["host", "_quota"])
    n_per_host = {
        r["host"]: r["n"]
        for r in cands.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    for q, table in ((None, {}), (quotas, quota_rows)):
        with _conf(spark, *_NO_COALESCE):
            rows = schedule(cands, k, start_at, salt_sub_buckets=8, quotas=q).collect()
        actual = {}
        for r in rows:
            actual[r["host"]] = actual.get(r["host"], 0) + 1
        want = {
            h: min(n, k, table.get(h, k))
            for h, n in n_per_host.items()
            if min(n, k, table.get(h, k)) > 0
        }
        assert actual == want
        assert sorted(r["seq"] for r in rows) == list(
            range(start_at + 1, start_at + 1 + len(rows))
        )


def test_sequence_plan_has_no_unpartitioned_window(spark):
    """No Window node in the plan schedule checkpoints may have an empty
    partition spec: at 10^10 frontier URLs a single-partition window is
    the job tail (a constant partition key does NOT count — Catalyst
    folds it back to an empty spec and Spark warns at runtime)."""
    import re

    cands = _candidates(spark, n=300)
    plan = ranked_slice(cands, 2)._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"Window \[[^\]]*\](.*)", plan):
        rest = m.group(1)
        # physical Window prints: Window [exprs], [partitionSpec], [orderSpec]
        assert re.search(r",\s*\[[^\]]+\]\s*,", rest), (
            "unpartitioned Window in fetch-sequence plan:\n" + plan
        )
