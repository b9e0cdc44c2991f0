"""robots.txt derivation: parser semantics, the normalized robots table,
gate parity with the pure-Python precedence twin, and engine-vs-simulator
crawl parity when the robots table is derived from raw bodies.

Reference analog (master-exclusion pinning, P6):
pages/Postprocess_scripts/Stance_Detection.py:57-61.
"""

from __future__ import annotations

import random

import pytest

from twittercrawler_spark.frontier.robots import (
    RULES_SCHEMA,
    gate_robots,
    normalize_robots,
    parse_robots,
    parse_robots_body,
    rules_allow,
)
from twittercrawler_spark.frontier.simulator import CrawlConfig, _path_of, simulate

BODY_FULL = """
# comment line
User-agent: someoneelse
Disallow: /

User-agent: *
Disallow: /private/
Allow: /private/open/
Crawl-delay: 2
Disallow:          # empty value: no restriction
Disallow: /tmp/*.html
sitemap: http://a.example.org/sitemap.xml
"""

BODY_SPECIFIC = """
User-agent: *
Disallow: /

User-agent: twittercrawler
Disallow: /secret/
Crawl-delay: 5
"""


def test_parser_sections_and_rules():
    rules, n_wild = parse_robots_body("a.example.org", BODY_FULL)
    assert n_wild == 1  # the /tmp/*.html rule is flagged, not silently kept
    assert ("a.example.org", "/private/", False, 2) in rules
    assert ("a.example.org", "/private/open/", True, 2) in rules
    # the someoneelse group must not leak in; empty Disallow dropped
    assert all(p != "/" for _, p, _, _ in rules)


def test_parser_most_specific_group_wins():
    rules, _ = parse_robots_body("b.example.org", BODY_SPECIFIC)
    # agent contains the token "twittercrawler": that group replaces '*'
    assert rules == [("b.example.org", "/secret/", False, 5)]
    rules_other, _ = parse_robots_body("b.example.org", BODY_SPECIFIC,
                                       agent="otherbot")
    assert rules_other == [("b.example.org", "/", False, None)]


def test_parser_delay_only_group():
    rules, _ = parse_robots_body("c.example.org",
                                 "User-agent: *\nCrawl-delay: 7\n")
    assert rules == [("c.example.org", "", True, 7)]


def test_normalize_exceptions_per_disallow(spark):
    """Each Disallow rule carries exactly the host's Allow prefixes that
    extend it (a same-prefix Allow included); every other rule row keeps
    its crawl-delay under a NULL prefix."""
    nested = "User-agent: *\nDisallow: /a\nAllow: /a/b\nDisallow: /a/b/c\nAllow: /a\n"
    bodies = spark.createDataFrame(
        [
            ("a.example.org", BODY_FULL),
            ("b.example.org", "User-agent: *\nDisallow: /x/\n"),
            ("c.example.org", nested),
        ],
        "host string, body string",
    )
    norm = normalize_robots(parse_robots(bodies))
    assert norm.columns == ["host", "disallow_prefix", "crawl_delay", "allow_exceptions"]
    rows = norm.collect()
    got = {
        (r.host, r.disallow_prefix): (r.crawl_delay, set(r.allow_exceptions))
        for r in rows
        if r.disallow_prefix is not None
    }
    assert got == {
        ("a.example.org", "/private/"): (2, {"/private/open/"}),
        ("b.example.org", "/x/"): (None, set()),
        ("c.example.org", "/a"): (None, {"/a", "/a/b"}),
        ("c.example.org", "/a/b/c"): (None, set()),
    }
    # the Allow rows stay as NULL-prefix rows: a's delay survives for quotas
    assert {(r.host, r.crawl_delay) for r in rows if r.disallow_prefix is None} == {
        ("a.example.org", 2),
        ("c.example.org", None),
    }


def test_normalize_disallow_shape_passes_through(spark):
    df = spark.createDataFrame(
        [("a.example.org", "/p"), ("b.example.org", "")],
        "host string, disallow_prefix string",
    )
    rows = normalize_robots(df).collect()
    assert sorted((r.host, r.disallow_prefix, r.crawl_delay, r.allow_exceptions)
                  for r in rows) == [
        ("a.example.org", "/p", None, []),
        ("b.example.org", "", None, []),
    ]


def _random_rules(rng: random.Random, host: str) -> list[tuple[str, str, bool]]:
    """A random rule set over nested prefix chains, with same-prefix ties."""
    pool = ["/", "/a", "/a/", "/a/b", "/a/b/", "/a/b/c", "/ab", "/b", "/b/x", "/c/"]
    rules = [(host, p, rng.random() < 0.5) for p in rng.sample(pool, rng.randint(0, 7))]
    for p in rng.sample(pool, rng.randint(0, 2)):
        rules += [(host, p, True), (host, p, False)]
    return rules


def test_gate_matches_python_twin_on_generated_matrix(spark):
    """Normalized gate ≡ pure-Python twin over 40 random rule sets: nested
    Allow/Disallow chains, same-prefix length ties (Allow wins), and
    unmatched hosts/paths."""
    paths = ["/", "/a", "/a/", "/a/b", "/a/b/", "/a/b/c", "/a/b/cd", "/a/bc",
             "/ab", "/abc", "/b", "/b/", "/b/x", "/b/xy", "/c/", "/c/q", "/d/"]
    triples, cand = [], []
    for seed in range(10):
        rng = random.Random(seed)
        hosts = [f"s{seed}h{i}.example.org" for i in range(5)]
        for h in hosts[:4]:  # the fifth host has no rules at all
            triples += _random_rules(rng, h)
        cand += [(f"http://{h}{p}", h, p) for h in hosts for p in paths]
    rules_df = spark.createDataFrame(
        [(h, p, a, None) for h, p, a in triples],
        "host string, prefix string, allow boolean, crawl_delay int",
    )
    cand_df = spark.createDataFrame(cand, "url string, host string, path string")
    got = {r.url for r in gate_robots(cand_df, normalize_robots(rules_df)).collect()}
    want = {u for u, h, p in cand if rules_allow(triples, h, p)}
    assert got == want
    # sanity: the matrix exercised both outcomes, and exceptions decided some
    assert got and got != {u for u, _, _ in cand}
    blocked_by_prefix_alone = {
        u for u, h, p in cand
        if any(rh == h and not a and p.startswith(rp) for rh, rp, a in triples)
    }
    assert blocked_by_prefix_alone & got


def _mini_corpus(spark, tmp_path, urls):
    html = {
        u: f"<html><body><p>page {i}</p></body></html>".encode()
        for i, u in enumerate(urls)
    }
    import datetime as dt

    rows = [
        (u, dt.datetime(2023, 3, 1), html[u], None, "en") for u in urls
    ]
    pages_path = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.parquet(pages_path)
    seeds_path = str(tmp_path / "seeds.parquet")
    spark.createDataFrame(
        [(u, 1.0) for u in urls], "url string, priority double"
    ).write.parquet(seeds_path)
    return pages_path, seeds_path, html


def _crawl(spark, tmp_path, urls, robots, cfg):
    """run_crawl over a mini corpus of ``urls`` (all seeded) and the
    ``robots`` DataFrame in either input shape → (warehouse, html)."""
    from twittercrawler_spark.frontier.crawl import run_crawl

    pages_path, seeds_path, html = _mini_corpus(spark, tmp_path, urls)
    robots_path = str(tmp_path / "robots.parquet")
    robots.write.parquet(robots_path)
    wh = run_crawl(
        spark, str(tmp_path / "wh"), pages_path, seeds_path, robots_path, cfg
    )
    return wh, html


def _fetched_ok(spark, wh) -> set[str]:
    return {
        r.url
        for r in wh.read(spark, "fetch_log").filter("status = 'ok'").collect()
    }


def _allowed(rules, urls) -> set[str]:
    triples = [(r.host, r.prefix, r.allow) for r in rules.collect()]
    return {u for u in urls if rules_allow(triples, u.split("/")[2], _path_of(u))}


def _bodies(spark, rows):
    return spark.createDataFrame(rows, "host string, body string")


@pytest.mark.parametrize("conflict", [False, True])
def test_crawl_from_raw_bodies(spark, tmp_path, conflict):
    """run_round gating from RAW robots.txt bodies: without Allow rules the
    engine's fetch set must equal the simulator's run on the Disallow rule
    rows; with an Allow-extends-Disallow exception the engine must honor
    precedence — expected set computed by the pure-Python twin."""
    urls = [
        "http://a.example.org/private/x",
        "http://a.example.org/private/open/y",
        "http://a.example.org/public/z",
        "http://b.example.org/anything",
    ]
    body_a = (
        "User-agent: *\nDisallow: /private/\n"
        + ("Allow: /private/open/\n" if conflict else "")
    )
    rules = parse_robots(_bodies(spark, [("a.example.org", body_a)]))
    cfg = CrawlConfig(per_host_per_round=10, rounds=2, num_buckets=8)
    wh, html = _crawl(spark, tmp_path, urls, rules, cfg)
    eng = _fetched_ok(spark, wh)
    assert eng == _allowed(rules, urls)
    assert ("http://a.example.org/private/open/y" in eng) == conflict

    if not conflict:
        sim = simulate(
            {u: html[u] for u in urls},
            [(u, 1.0) for u in urls],
            [(r.host, r.prefix) for r in rules.collect() if not r.allow],
            cfg,
        )
        sim_ok = {r["url"] for r in sim.fetch_log if r["status"] == "ok"}
        assert eng == sim_ok


def test_crawl_delay_from_raw_bodies(spark, tmp_path):
    """Crawl-delay parsed from a raw body must tighten the per-host quota
    through the existing politeness path (quota = floor(round_s/delay))."""
    urls = [f"http://d.example.org/p/{i}" for i in range(6)]
    rules = parse_robots(
        _bodies(spark, [("d.example.org", "User-agent: *\nCrawl-delay: 5\n")])
    )
    cfg = CrawlConfig(per_host_per_round=6, rounds=1, num_buckets=8,
                      round_seconds=10)
    wh, _ = _crawl(spark, tmp_path, urls, rules, cfg)
    n = wh.read(spark, "fetch_log").count()
    assert n == 2  # floor(10 / 5)


def test_empty_disallow_prefix_blocks_whole_host(spark, tmp_path):
    """Disallow shape: an empty ``disallow_prefix`` is "block the whole
    host" (every path starts with ""), exactly as the simulator reads it."""
    urls = [
        "http://a.example.org/",
        "http://a.example.org/x",
        "http://b.example.org/x/1",
        "http://b.example.org/y",
    ]
    robots = [("a.example.org", ""), ("b.example.org", "/x/")]
    cfg = CrawlConfig(per_host_per_round=10, rounds=2, num_buckets=8)
    wh, html = _crawl(
        spark, tmp_path, urls,
        spark.createDataFrame(robots, "host string, disallow_prefix string"), cfg,
    )
    sim = simulate(html, [(u, 1.0) for u in urls], robots, cfg)
    eng = [(r.seq, r.url) for r in wh.read(spark, "fetch_log").orderBy("seq").collect()]
    assert eng == [(r["seq"], r["url"]) for r in sim.fetch_log]
    assert {u for _, u in eng} == {"http://b.example.org/y"}


def test_empty_disallow_line_is_no_restriction(spark, tmp_path):
    """Rules shape: an empty ``Disallow:`` — dropped by the parser, or an
    explicit (host, "", allow=false) row — restricts nothing."""
    urls = ["http://a.example.org/", "http://a.example.org/x/1",
            "http://b.example.org/x/1", "http://b.example.org/y"]
    rules = parse_robots(_bodies(spark, [
        ("a.example.org", "User-agent: *\nDisallow:\n"),
        ("b.example.org", "User-agent: *\nDisallow: /x/\n"),
    ])).unionByName(
        spark.createDataFrame([("a.example.org", "", False, None)], RULES_SCHEMA)
    )
    cfg = CrawlConfig(per_host_per_round=10, rounds=2, num_buckets=8)
    wh, _ = _crawl(spark, tmp_path, urls, rules, cfg)
    eng = _fetched_ok(spark, wh)
    assert eng == _allowed(rules, urls)
    assert eng == set(urls) - {"http://b.example.org/x/1"}


def test_allow_exception_keeps_crawl_delay_quota(spark, tmp_path):
    """On a host with a crawl-delay, an Allow that extends a Disallow keeps
    BOTH the exception (gate) and the delay (quota floor(10/5) = 2)."""
    urls = [f"http://a.example.org/p/open/{i}" for i in range(4)] + [
        "http://a.example.org/p/shut",
        "http://a.example.org/q",
    ]
    body = "User-agent: *\nDisallow: /p/\nAllow: /p/open/\nCrawl-delay: 5\n"
    rules = parse_robots(_bodies(spark, [("a.example.org", body)]))
    cfg = CrawlConfig(per_host_per_round=10, rounds=4, num_buckets=8,
                      round_seconds=10)
    wh, _ = _crawl(spark, tmp_path, urls, rules, cfg)
    per_round: dict[int, int] = {}
    for r in wh.read(spark, "fetch_log").collect():
        per_round[r["round"]] = per_round.get(r["round"], 0) + 1
    assert per_round == {1: 2, 2: 2, 3: 1}
    assert _fetched_ok(spark, wh) == _allowed(rules, urls)
    assert "http://a.example.org/p/shut" not in _allowed(rules, urls)
