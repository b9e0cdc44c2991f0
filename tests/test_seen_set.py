"""Distributed Bloom sidecar + exact anti-join seen-set (frontier/seen.py)."""

import numpy as np
import pytest

from twittercrawler_spark.frontier.seen import (
    NumpyBloom,
    filter_unseen,
    plan_update,
    update_bloom_sidecar,
)
from twittercrawler_spark.functions.urls import url_hash64


def test_bloom_no_false_negatives():
    rng = np.random.default_rng(42)
    keys = rng.integers(0, 2**60, size=5000, dtype=np.int64)
    bloom = NumpyBloom.sized_for(len(keys), fpp=0.01)
    bloom.add(keys)
    assert bloom.maybe_contains(keys).all()


def test_bloom_fpp_bounded():
    rng = np.random.default_rng(7)
    keys = rng.integers(0, 2**60, size=5000, dtype=np.int64)
    others = rng.integers(0, 2**60, size=20000, dtype=np.int64)
    others = np.setdiff1d(others, keys)
    bloom = NumpyBloom.sized_for(len(keys), fpp=0.01)
    bloom.add(keys)
    fp = bloom.maybe_contains(others).mean()
    assert fp < 0.03, fp


def test_bloom_roundtrip_bytes():
    keys = np.arange(100, dtype=np.int64) * 1_000_003
    bloom = NumpyBloom.sized_for(100)
    bloom.add(keys)
    clone = NumpyBloom.from_bytes(bloom.m, bloom.k, bloom.to_bytes())
    assert clone.maybe_contains(keys).all()


def _hash_df(spark, urls):
    return spark.createDataFrame(
        [(u, url_hash64(u), url_hash64(u) % 4) for u in urls],
        ["url", "url_hash", "host_bucket"],
    )


def test_filter_unseen_exact(spark):
    seen_urls = [f"http://h{i % 5}.com/p/{i}" for i in range(0, 200, 2)]
    cand_urls = [f"http://h{i % 5}.com/p/{i}" for i in range(150, 250)]
    seen = _hash_df(spark, seen_urls)
    cands = _hash_df(spark, cand_urls)
    sidecar = update_bloom_sidecar(seen.select("host_bucket", "url_hash"), None)
    got = {r["url"] for r in filter_unseen(spark, cands, seen, sidecar).collect()}
    expected = set(cand_urls) - set(seen_urls)
    assert got == expected

    # round 1: nothing seen yet
    got2 = {r["url"] for r in filter_unseen(spark, cands, None, None).collect()}
    assert got2 == set(cand_urls)


def test_sidecar_incremental_rounds(spark):
    """Round-over-round incremental update never produces false negatives,
    and untouched buckets carry forward unchanged."""
    r1 = [f"http://h{i % 3}.com/a/{i}" for i in range(100)]
    r2 = [f"http://h{i % 3}.com/b/{i}" for i in range(80)]
    s1 = update_bloom_sidecar(_hash_df(spark, r1).select("host_bucket", "url_hash"), None)
    s2 = update_bloom_sidecar(_hash_df(spark, r2).select("host_bucket", "url_hash"), s1)
    seen = _hash_df(spark, r1 + r2)
    # every seen url must flag as maybe-seen ⇒ filter_unseen(seen vs itself) = ∅
    left = filter_unseen(spark, seen, seen, s2).collect()
    assert left == []
    # n_items accumulates
    by_bucket = {r["host_bucket"]: r["n_items"] for r in s2.collect()}
    assert sum(by_bucket.values()) == len(r1) + len(r2)


def test_sidecar_overflow_rebuild(spark):
    """A bucket that outgrows its capacity is rebuilt (bigger bitset) from the
    full hash set; metadata plan and distributed build agree."""
    r1 = [f"http://x.com/a/{i}" for i in range(50)]
    r2 = [f"http://x.com/b/{i}" for i in range(500)]
    h1 = _hash_df(spark, r1).select("host_bucket", "url_hash")
    h2 = _hash_df(spark, r2).select("host_bucket", "url_hash")
    s1 = update_bloom_sidecar(h1, None, min_cap=64)
    n1 = {r["host_bucket"]: (r["n_items"], r["cap"]) for r in s1.collect()}

    n_new = {b: 0 for b in n1}
    for r in _hash_df(spark, r2).groupBy("host_bucket").count().collect():
        n_new[r["host_bucket"]] = n_new.get(r["host_bucket"], 0) + r["count"]
    meta, overflow = plan_update(n1, n_new)
    assert overflow, "500 new into cap-64 buckets must overflow"

    full = h1.unionByName(h2)
    s2 = update_bloom_sidecar(h2, s1, overflow, full, min_cap=64)
    rows = {r["host_bucket"]: r for r in s2.collect()}
    for b in overflow:
        assert rows[b]["m_bits"] > [r for r in s1.collect() if r["host_bucket"] == b][0]["m_bits"]
        assert meta[b][0] == rows[b]["n_items"]
    # and still no false negatives anywhere
    seen = _hash_df(spark, r1 + r2)
    assert filter_unseen(spark, seen, seen, s2).collect() == []


def test_round_path_never_collects_hashes_to_driver(spark, corpus_dir, tmp_path, monkeypatch):
    """The crawl round must not funnel the seen table through the driver
    (VERDICT r01 anti-pattern #1): toPandas anywhere in the round path fails
    this test."""
    from pyspark.sql import DataFrame

    from twittercrawler_spark.frontier.crawl import run_crawl
    from twittercrawler_spark.frontier.simulator import CrawlConfig

    def _banned(self, *a, **k):
        raise AssertionError("driver-side toPandas() in the crawl round path")

    monkeypatch.setattr(DataFrame, "toPandas", _banned)
    cfg = CrawlConfig(per_host_per_round=2, rounds=3, num_buckets=8)
    paths = [f"{corpus_dir}/{n}.parquet" for n in ("pages", "seeds", "robots")]
    wh = run_crawl(spark, str(tmp_path / "wh"), *paths, cfg)
    assert wh.last_round() == 3


def test_manifest_meta_matches_sidecar_table(spark, corpus_dir, tmp_path):
    """The commit manifest's bloom_meta counters must equal the sidecar
    table's authoritative (n_items, cap) — the formulas are twins."""
    from twittercrawler_spark.frontier.crawl import run_crawl
    from twittercrawler_spark.frontier.simulator import CrawlConfig

    cfg = CrawlConfig(per_host_per_round=2, rounds=3, num_buckets=8)
    paths = [f"{corpus_dir}/{n}.parquet" for n in ("pages", "seeds", "robots")]
    wh = run_crawl(spark, str(tmp_path / "wh"), *paths, cfg)
    last = wh.last_round()
    meta = wh.round_info(last)["metrics"]["bloom_meta"]
    rows = wh.read_round(spark, "seen_bloom", last).collect()
    got = {str(r["host_bucket"]): [r["n_items"], r["cap"]] for r in rows}
    assert got == meta
    # seen table and sidecar agree on totals
    n_seen = wh.read(spark, "seen", upto=last).count()
    assert sum(v[0] for v in meta.values()) == n_seen
