"""Bootstrap's defensive canonical-URL dedup (frontier/crawl.py).

Two raw spellings that canonicalize identically must collapse to ONE
pages_canon row — the earliest (warc_ts, url_raw) — by a computed rule,
not task order. Bootstrap writes first and probes after: a url-only scan
of the written table finds whether any url collides, so a clean corpus
keeps its one write and never sorts. A corpus with collisions is rewritten
once through a window keyed (host_bucket, url), which rides the host_bucket
clustering exchange. The fixture writes the pages as several files, one
spelling of each collision group per file, so the spellings start in
different scan partitions and only that exchange brings them together.

Urls with no canonical form (``ftp://``, ``mailto:``, malformed) drop out
of both bootstrap inputs — pages and seeds go through the same
canonicalize-and-drop helper — before the dedup runs: no null ``url`` is
written, and the round-0 frontier equals the simulator's seeded pending
set.
"""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from twittercrawler_spark.frontier import crawl
from twittercrawler_spark.frontier.simulator import CrawlConfig, simulate
from twittercrawler_spark.sources.tables import Warehouse

_TS = datetime.datetime(2024, 1, 1)
_N_FILES = 3

SEEDS = [
    ("http://a.test/x", 1.0),
    ("HTTP://A.TEST:80/x#top", 3.0),  # same canonical url: max priority wins
    ("https://c.test/z?b=1&a=2", 2.0),
    ("ftp://a.test/x", 9.0),
    ("mailto:someone@c.test", 9.0),
    ("http://[::1/x", 9.0),
]
SEEDED = {
    "http://a.test/x": (3.0, 0),
    "https://c.test/z?a=2&b=1": (2.0, 0),
}


def _write(path, rows, cols):
    arrays = {c: [r[i] for r in rows] for i, c in enumerate(cols)}
    types = {
        "url": pa.string(),
        "warc_ts": pa.timestamp("us"),
        "html": pa.binary(),
        "text": pa.string(),
        "lang": pa.string(),
        "priority": pa.float64(),
        "host": pa.string(),
        "disallow_prefix": pa.string(),
    }
    tbl = pa.table({c: pa.array(arrays[c], type=types[c]) for c in cols})
    pq.write_table(tbl, path)


def _corpus(tmp_path, collide: bool, n_files: int = _N_FILES, extra=()):
    ts = lambda s: _TS + datetime.timedelta(seconds=s)  # noqa: E731
    pages = [
        # collision group 1: three spellings of http://a.test/x — the
        # earliest warc_ts (20) wins regardless of row order
        ("HTTP://A.test:80/x#frag", ts(40), b"<p>late</p>", "late", "en"),
        ("http://a.test/x", ts(20), b"<p>win</p>", "win", "en"),
        ("http://A.TEST/x", ts(30), b"<p>mid</p>", "mid", "en"),
        # collision group 2: warc_ts TIE — url_raw ascii order breaks it
        ("http://b.test/y?b=2&a=1", ts(10), b"<p>q1</p>", "q1", "en"),
        ("http://b.test/y?a=1&b=2", ts(10), b"<p>q0</p>", "q0", "en"),
        # unique rows pass through untouched
        ("http://c.test/z", ts(5), b"<p>u1</p>", "u1", "en"),
        ("http://d.test/w", ts(6), b"<p>u2</p>", "u2", "en"),
    ]
    if not collide:
        pages = pages[1:2] + pages[4:]
    # no canonical form: these rows must drop out, whatever their warc_ts
    pages += [
        ("ftp://a.test/x", ts(1), b"<p>ftp</p>", "ftp", "en"),
        ("mailto:someone@c.test", ts(2), b"<p>mail</p>", "mail", "en"),
        ("http://[::1/x", ts(3), b"<p>v6</p>", "v6", "en"),
        ("http:///nohost", ts(4), b"<p>nohost</p>", "nohost", "en"),
    ]
    pages += [(u, ts(s), h, t, lang) for u, s, h, t, lang in extra]
    d = tmp_path
    # round-robin over files: spelling i of each collision group lands in
    # file i, so no file holds two spellings of one url
    os.makedirs(d / "pages.parquet", exist_ok=True)
    for i in range(n_files):
        _write(str(d / "pages.parquet" / f"part-{i}.parquet"), pages[i::n_files],
               ["url", "warc_ts", "html", "text", "lang"])
    _write(str(d / "seeds.parquet"), SEEDS, ["url", "priority"])
    _write(str(d / "robots.parquet"), [("a.test", "/private")], ["host", "disallow_prefix"])
    return str(d)


def _bootstrap_pages(spark, tmp_path, sub: str, collide: bool, **corpus):
    """Bootstrap the fixture; return pages_canon as {url: text} after
    checking that no null url was written, that no url was written twice,
    and that the round-0 frontier equals the simulator's seeded pending
    set."""
    d = _corpus(tmp_path, collide, **corpus)
    wh = Warehouse(str(tmp_path / f"wh_{sub}"))
    crawl.bootstrap(
        spark,
        wh,
        f"{d}/pages.parquet",
        f"{d}/seeds.parquet",
        f"{d}/robots.parquet",
        CrawlConfig(num_buckets=4, rounds=1),
    )
    pages = wh.read_round(spark, "pages_canon", 0)
    frontier = wh.read_round(spark, "frontier", 0)
    for df in (pages, frontier):
        assert df.filter(F.col("url").isNull()).count() == 0
    assert pages.count() == pages.select("url").distinct().count()
    sim = simulate({}, SEEDS, [], CrawlConfig(rounds=0))
    assert {
        r["url"]: (r["priority"], r["discovered_round"]) for r in frontier.collect()
    } == sim.pending == SEEDED
    return {r["url"]: r["text"] for r in pages.select("url", "text").collect()}


EXPECT = {
    "http://a.test/x": "win",  # earliest warc_ts of group 1
    "http://b.test/y?a=1&b=2": "q0",  # warc_ts tie -> lowest url_raw
    "http://c.test/z": "u1",
    "http://d.test/w": "u2",
}


def test_collisions_keep_earliest_spelling(spark, tmp_path):
    """Every spelling of a colliding url starts in its own scan partition,
    and the rewrite keeps the earliest (warc_ts, url_raw) of each group."""
    from twittercrawler_spark.functions.urls import canonicalize_url

    d = _corpus(tmp_path, collide=True)
    raw = spark.read.parquet(f"{d}/pages.parquet").select(
        "url", F.spark_partition_id().alias("pid")
    )
    groups: dict[str, list[int]] = {}
    for r in raw.collect():
        groups.setdefault(canonicalize_url(r["url"]), []).append(r["pid"])
    spellings = [pids for url, pids in groups.items() if url and len(pids) > 1]
    assert sorted(map(len, spellings)) == [2, 3]
    assert all(len(set(pids)) == len(pids) for pids in spellings), groups

    assert _bootstrap_pages(spark, tmp_path, "dup", collide=True) == EXPECT


def test_broadcast_split_path(spark, tmp_path):
    """A small collision set with every spelling in one file, hence one scan
    partition (the case the former broadcast split served): the window keeps
    the same survivors."""
    got = _bootstrap_pages(spark, tmp_path, "bc", collide=True, n_files=1)
    assert got == EXPECT


# a later re-spelling of every canonical page url: the collision set is the
# whole corpus, and each group's earliest spelling is still the EXPECT row
_RESPELLED = [
    ("http://A.test/x", 50, b"<p>l1</p>", "l1", "en"),
    ("http://b.test:80/y?b=2&a=1", 50, b"<p>l2</p>", "l2", "en"),
    ("HTTP://C.TEST/z", 50, b"<p>l3</p>", "l3", "en"),
    ("http://D.test:80/w#f", 50, b"<p>l4</p>", "l4", "en"),
]


def test_window_fallback_path(spark, tmp_path):
    """Collision set as large as the corpus (the case the former full-corpus
    window fallback served): every canonical url has several spellings, and
    the window still keeps the earliest of each."""
    from twittercrawler_spark.functions.urls import canonicalize_url

    urls = [r[0] for r in _RESPELLED]
    assert sorted(map(canonicalize_url, urls)) == sorted(EXPECT)
    got = _bootstrap_pages(spark, tmp_path, "win", collide=True, extra=_RESPELLED)
    assert got == EXPECT


def test_clean_corpus_skips_dedup(spark, tmp_path):
    """No collisions: every canonical row survives (dedup shuffle skipped)."""
    got = _bootstrap_pages(spark, tmp_path, "clean", collide=False)
    assert got == EXPECT


@pytest.mark.parametrize("collide", [True, False])
def test_no_duplicate_canonical_urls(spark, tmp_path, collide):
    d = _corpus(tmp_path, collide)
    from twittercrawler_spark.functions.urls import canonicalize_url

    import duckdb

    raw = duckdb.sql(f"SELECT url FROM '{d}/pages.parquet/*.parquet'").fetchall()
    canon = [canonicalize_url(u) for (u,) in raw]
    assert canon.count(None) == 4  # the fixture's non-canonical rows
    canon = [c for c in canon if c is not None]
    assert (len(set(canon)) < len(canon)) == collide
