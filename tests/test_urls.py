"""Canonicalization spec golden cases + hash parity (Python vs Spark SQL)."""

import pandas as pd
import pytest

from twittercrawler_spark.functions.urls import (
    canonicalize_url,
    host_of,
    pd_canonicalize,
    spark_url_hash64,
    url_hash64,
)

CASES = [
    ("HTTP://Example.COM/path", None, "http://example.com/path"),
    ("http://example.com:80/p", None, "http://example.com/p"),
    ("https://example.com:443/p", None, "https://example.com/p"),
    ("http://example.com:8080/p", None, "http://example.com:8080/p"),
    ("http://example.com/p#frag", None, "http://example.com/p"),
    ("http://example.com", None, "http://example.com/"),
    ("http://example.com/p?b=2&a=1", None, "http://example.com/p?a=1&b=2"),
    ("http://example.com/p?b=2&a=1&a=0", None, "http://example.com/p?a=0&a=1&b=2"),
    ("/rel", "http://example.com/dir/page", "http://example.com/rel"),
    ("sub", "http://example.com/dir/page", "http://example.com/dir/sub"),
    ("ftp://example.com/x", None, None),
    ("mailto:x@y.com", None, None),
    ("not a url", None, None),
]


@pytest.mark.parametrize("raw,base,expected", CASES)
def test_canonicalize_golden(raw, base, expected):
    assert canonicalize_url(raw, base) == expected


def test_pd_canonicalize_twin():
    raws = pd.Series([c[0] for c in CASES] + [None])
    out = pd_canonicalize(raws)
    for raw, got in zip(raws, out):
        assert got == (canonicalize_url(raw) if raw is not None else None)


ABS_HREFS = [
    # absolute http(s) hrefs with a host, incl. ports and dot-segment paths:
    # canonicalizing them needs no base (bootstrap's pd_canonicalize passes
    # none), so they must be byte-equal with and without one
    "http://e.com/a/../b",
    "http://e.com/a/./b",
    "http://e.com/../x",
    "https://e.com:8443/p/./q",
    "http://e.com:80/a/../b?z=1&a=2#f",
    "https://e.com:443/x",
    "http://e.com",
    "http://user@e.com:8080/p",
]


def test_pd_canonicalize_absolute_fast_path_parity():
    """pd_canonicalize(u) == canonicalize_url(u, base) for host-bearing
    absolute hrefs: the base never changes them."""
    out = pd_canonicalize(pd.Series(ABS_HREFS))
    for b in ["http://base.org/dir/page", "https://other.net/"]:
        for u, got in zip(ABS_HREFS, out):
            assert got == canonicalize_url(u, b), (u, b)


def test_host_regexp_parity_with_host_of(spark):
    """crawl.py derives host from canonical URLs with a JVM regexp; it must
    equal urls.host_of (the simulator path) incl. ports."""
    import pyspark.sql.functions as F

    from twittercrawler_spark.frontier.crawl import _HOST_RE

    urls = [canonicalize_url(u) for u in ABS_HREFS] + [c[2] for c in CASES if c[2]]
    urls = sorted(set(urls))
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = {
        r["url"]: r["h"]
        for r in df.select("url", F.regexp_extract("url", _HOST_RE, 1).alias("h")).collect()
    }
    for u in urls:
        assert got[u] == host_of(u), u


def test_host_of():
    assert host_of("http://example.com:8080/p") == "example.com:8080"
    assert host_of("http://example.com/p") == "example.com"


def test_url_hash64_range():
    h = url_hash64("http://example.com/")
    assert 0 <= h < 2**60


def test_url_hash64_spark_parity(spark):
    urls = [c[2] for c in CASES if c[2]]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = {r["url"]: r["h"] for r in df.select("url", spark_url_hash64("url").alias("h")).collect()}
    for u in urls:
        assert got[u] == url_hash64(u), u


def test_host_bucket_salted_spark_parity(spark):
    """spark_host_bucket == host_bucket_of, and one host's urls land in at
    most S distinct buckets while still using more than one (SURVEY §4.3:
    co-located enough for per-host scheduling, spread enough for skew)."""
    import pyspark.sql.functions as F

    from twittercrawler_spark.functions.urls import host_bucket_of, spark_host_bucket

    nb, s = 32, 8
    urls = [f"http://hot.example.com/p/{i}" for i in range(200)] + [
        f"http://h{i}.other.org/x" for i in range(20)
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"]).select(
        "url",
        F.regexp_extract("url", r"^[a-z0-9+.-]+://([^/?#]+)", 1).alias("host"),
        spark_url_hash64("url").alias("url_hash"),
    )
    rows = df.select(
        "url", "host", "url_hash",
        spark_host_bucket("host", "url_hash", nb, s).alias("b"),
    ).collect()
    hot_buckets = set()
    for r in rows:
        assert r["b"] == host_bucket_of(r["host"], r["url_hash"], nb, s), r["url"]
        assert 0 <= r["b"] < nb
        if r["host"] == "hot.example.com":
            hot_buckets.add(r["b"])
    assert 1 < len(hot_buckets) <= s, hot_buckets


def test_url_hash64_duckdb_parity():
    import duckdb

    urls = [c[2] for c in CASES if c[2]]
    rel = duckdb.sql(
        "SELECT url, ('0x' || substring(md5(url), 1, 15))::BIGINT AS h "
        "FROM (SELECT unnest($urls) AS url)",
        params={"urls": urls},
    ).fetchall()
    for u, h in rel:
        assert h == url_hash64(u), u


# --- property-based: canonicalization is a projection (idempotent) ----------
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:
    _scheme = st.sampled_from(["http", "https", "HTTP", "Http"])
    _host = st.from_regex(r"[A-Za-z0-9.-]{1,20}", fullmatch=True)
    _port = st.sampled_from(["", ":80", ":443", ":8080", ":65535"])
    _path = st.from_regex(r"(/[A-Za-z0-9._~%/-]{0,20})?", fullmatch=True)
    _query = st.sampled_from(
        ["", "?a=1", "?b=2&a=1", "?b=2&a=1&a=0", "?x", "?=v", "?a=1&a=1"]
    )
    _frag = st.sampled_from(["", "#f", "#a/b?c=1"])

    @settings(max_examples=300, deadline=None)
    @given(_scheme, _host, _port, _path, _query, _frag)
    def test_canonicalize_idempotent(scheme, host, port, path, query, frag):
        """canonicalize(canonicalize(u)) == canonicalize(u): the canonical
        form is a fixed point, so re-canonicalizing crawl output (which the
        frontier merge does implicitly via _with_url_cols keys) can never
        change membership or ordering keys."""
        u = f"{scheme}://{host}{port}{path}{query}{frag}"
        c = canonicalize_url(u)
        if c is not None:
            assert canonicalize_url(c) == c, (u, c)
            # and the 60-bit hash twin agrees with itself across calls
            assert url_hash64(c) == url_hash64(c)
