"""END-TO-END PARITY: distributed engine ≡ pure-Python simulator.

Asserts the three reference contracts (SURVEY.md §5.1 / BASELINE.json):
  (a) identical fetch order (round, seq, url, host),
  (b) identical final seen-set membership,
  (c) byte-identical extracted text per url.
"""

import duckdb
import pytest

from twittercrawler_spark.frontier.crawl import fetch_log, run_crawl
from twittercrawler_spark.frontier.simulator import CrawlConfig, simulate
from twittercrawler_spark.functions.urls import canonicalize_url

CFG = CrawlConfig(per_host_per_round=2, rounds=4, priority_decay=0.8, num_buckets=8)


def _load_sim_inputs(corpus_dir):
    con = duckdb.connect()
    pages_rows = con.sql(f"SELECT url, html FROM '{corpus_dir}/pages.parquet'").fetchall()
    pages = {}
    for raw, html in pages_rows:
        cu = canonicalize_url(raw)
        assert cu is not None
        assert cu not in pages, f"corpus canonical collision: {cu}"
        pages[cu] = bytes(html)
    seeds = con.sql(f"SELECT url, priority FROM '{corpus_dir}/seeds.parquet'").fetchall()
    robots = con.sql(f"SELECT host, disallow_prefix FROM '{corpus_dir}/robots.parquet'").fetchall()
    return pages, [(u, float(p)) for u, p in seeds], robots


@pytest.fixture(scope="module")
def crawl_outputs(spark, corpus_dir, tmp_path_factory):
    wh_dir = str(tmp_path_factory.mktemp("warehouse"))
    wh = run_crawl(
        spark,
        wh_dir,
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/seeds.parquet",
        f"{corpus_dir}/robots.parquet",
        CFG,
    )
    pages, seeds, robots = _load_sim_inputs(corpus_dir)
    sim = simulate(pages, seeds, robots, CFG)
    return spark, wh, sim


def test_fetch_order_parity(crawl_outputs):
    spark, wh, sim = crawl_outputs
    eng = [
        (r["round"], r["seq"], r["url"], r["host"])
        for r in fetch_log(spark, wh).select("round", "seq", "url", "host").collect()
    ]
    ref = [(r["round"], r["seq"], r["url"], r["host"]) for r in sim.fetch_log]
    assert len(eng) > 0
    assert eng == ref


def test_seen_set_parity(crawl_outputs):
    spark, wh, sim = crawl_outputs
    eng_seen = {r["url"] for r in wh.read(spark, "seen").select("url").collect()}
    assert eng_seen == sim.seen


def test_text_byte_parity(crawl_outputs):
    """Engine-extracted text == simulator text == corpus ground-truth column."""
    spark, wh, sim = crawl_outputs
    eng = {r["url"]: r["text"] for r in fetch_log(spark, wh).select("url", "text").collect()}
    ref = {r["url"]: r["text"] for r in sim.fetch_log}
    assert set(eng) == set(ref)
    ok = 0
    for url, ref_text in ref.items():
        if ref_text is None:
            assert eng[url] is None
        else:
            assert eng[url].encode("utf-8") == ref_text.encode("utf-8"), url
            ok += 1
    assert ok > 0


def test_ground_truth_text_column(crawl_outputs, corpus_dir):
    """pages.text (generator ground truth) == engine extraction of pages.html
    through the fetch stage's crossing."""
    from twittercrawler_spark.functions.udfs import udf_extract_text_canon_links

    spark, wh, sim = crawl_outputs
    pages = wh.read_round(spark, "pages_canon", 0)
    extracted = pages.withColumn(
        "extracted_text", udf_extract_text_canon_links("html", "url").text
    )
    mismatches = extracted.filter("extracted_text <> text").count()
    assert mismatches == 0


def test_frontier_progresses(crawl_outputs):
    spark, wh, sim = crawl_outputs
    info = {r: wh.round_info(r)["metrics"] for r in wh.committed_rounds() if r > 0}
    assert sum(m["fetched"] for m in info.values()) == len(sim.fetch_log)
    assert any(m.get("new_links", 0) > 0 for m in info.values())


def test_robots_gating(crawl_outputs, corpus_dir):
    """No fetched URL may match a disallow prefix for its host."""
    spark, wh, sim = crawl_outputs
    _, _, robots = _load_sim_inputs(corpus_dir)
    from twittercrawler_spark.frontier.simulator import _path_of
    from twittercrawler_spark.functions.urls import host_of

    for r in sim.fetch_log:
        for host, prefix in robots:
            # crawl-delay-only robots rows carry a NULL prefix: no gate
            if prefix is not None and host_of(r["url"]) == host:
                assert not _path_of(r["url"]).startswith(prefix)
    # engine equals sim already (order parity), so sim-side check covers both
