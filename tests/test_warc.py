"""WARC ingestion: byte round-trip, malformed-record skip + resync, gzip,
and the end-to-end feed into the crawl engine (bootstrap → fetch round).

Reference analog: the S3/S4 gzip-line scanner with per-line malformed skip
(pages/Preprocess_scripts/Functions.py:20-33, PreprocessDump.py:202-211) —
here the record is a WARC record instead of a JSON line.
"""

from __future__ import annotations

import datetime as dt
import gzip

import pytest
from pyspark.sql import functions as F

from twittercrawler_spark.sources.warc import (
    _parse_warc_bytes,
    read_warc,
    synthesize_warc,
    warc_pages,
    warc_stats,
)


@pytest.mark.parametrize("gz", [False, True])
def test_roundtrip_counts_and_bytes(spark, tmp_path, gz):
    name = "seg.warc.gz" if gz else "seg.warc"
    p = synthesize_warc(str(tmp_path / name), n_records=7, seed=1)
    rec = read_warc(spark, p)
    rows = rec.collect()
    good = [r for r in rows if not r.malformed and r.rec_type == "response"]
    assert len(good) == 7
    assert sum(r.malformed for r in rows) == 1  # the Content-Length-less one
    assert any(r.rec_type == "warcinfo" and not r.malformed for r in rows)
    # byte-identical body and exact timestamp for a known record
    r0 = next(r for r in good if r.url.endswith("/w/0"))
    assert bytes(r0.html).startswith(b"<html><head><title>doc 0</title>")
    assert r0.warc_ts == dt.datetime(2023, 3, 1, 0, 0, 0)


def test_truncated_tail_flagged(spark, tmp_path):
    p = synthesize_warc(str(tmp_path / "t.warc"), n_records=3, seed=2,
                        truncated_tail=True)
    rec = read_warc(spark, p)
    st = warc_stats(rec).collect()[0]
    assert st.n_pages == 3
    assert st.n_malformed == 2  # missing Content-Length + truncated tail
    errs = {r.error for r in rec.filter("malformed").collect()}
    assert "truncated record block" in errs


def _resp(i, date=b"2023-03-01T00:00:00Z"):
    body = b"<html>ok %d</html>" % i
    http = b"HTTP/1.1 200 OK\r\n\r\n" + body
    return (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        + b"WARC-Target-URI: http://h.example.org/%d\r\n" % i
        + b"WARC-Date: " + date + b"\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(http)
        + http + b"\r\n\r\n"
    )


def test_midstream_malformed_resyncs():
    """A corrupt record in the MIDDLE must not discard the rest: the parser
    flags it and resynchronizes at the next record boundary."""
    blob = _resp(0) + b"GARBAGE NOT A RECORD\r\n\r\n" + _resp(1) + _resp(2)
    rows = _parse_warc_bytes("m.warc", blob)
    good = [r for r in rows if not r["malformed"]]
    assert [r["url"] for r in good] == [
        "http://h.example.org/0", "http://h.example.org/1",
        "http://h.example.org/2",
    ]
    assert sum(r["malformed"] for r in rows) == 1


def test_offsetless_date_is_utc():
    """A WARC-Date without an offset is UTC whatever the reader's local
    zone; fractional seconds survive the parse."""
    import os
    import time

    prev = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        rows = _parse_warc_bytes(
            "n.warc",
            _resp(0, b"2023-03-01T12:00:00") + _resp(1, b"2023-03-01T12:00:00.25Z"),
        )
    finally:
        if prev is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = prev
        time.tzset()
    assert [r["warc_ts"] for r in rows] == [
        dt.datetime(2023, 3, 1, 12, 0),
        dt.datetime(2023, 3, 1, 12, 0, 0, 250000),
    ]


def test_multimember_gzip(spark, tmp_path):
    """Real WARC writers gzip one member per record; the reader must handle
    concatenated members."""
    p1 = synthesize_warc(str(tmp_path / "a.warc"), n_records=2, seed=3)
    with open(p1, "rb") as f:
        raw = f.read()
    half = len(raw) // 2
    two = gzip.compress(raw[:half]) + gzip.compress(raw[half:])
    p2 = tmp_path / "two.warc.gz"
    p2.write_bytes(two)
    rec = read_warc(spark, str(p2))
    assert rec.filter("rec_type = 'response' and not malformed").count() == 2


def test_write_read_roundtrip(spark, tmp_path):
    """write_warc → read_warc is byte-exact on (url, warc_ts, html)."""
    from twittercrawler_spark.sources.warc import write_warc

    src = synthesize_warc(str(tmp_path / "src.warc"), n_records=9, seed=8)
    # one sub-second timestamp: the written WARC-Date must keep it
    pages = warc_pages(read_warc(spark, src)).withColumn(
        "warc_ts",
        F.when(
            F.col("url").endswith("/w/0"),
            F.col("warc_ts") + F.expr("INTERVAL '0.123456' SECOND"),
        ).otherwise(F.col("warc_ts")),
    ).repartition(3)
    out = str(tmp_path / "out")
    stats = write_warc(pages, out).collect()
    assert sum(r.n_records for r in stats) == 9
    back = warc_pages(read_warc(spark, f"{out}/seg-*"))
    want = {
        (r.url, r.warc_ts, bytes(r.html)) for r in pages.collect()
    }
    got = {(r.url, r.warc_ts, bytes(r.html)) for r in back.collect()}
    assert got == want
    assert any(ts.microsecond == 123456 for _, ts, _ in got)


def test_write_warc_stats_name_written_files(spark, tmp_path):
    """Empty partitions write no segment and yield no stats row: every
    file the stats name exists, and every written file is named."""
    import os

    from twittercrawler_spark.sources.warc import write_warc

    src = synthesize_warc(str(tmp_path / "src.warc"), n_records=2, seed=8)
    pages = warc_pages(read_warc(spark, src)).repartition(8)
    out = str(tmp_path / "out")
    stats = write_warc(pages, out).collect()
    assert sum(r.n_records for r in stats) == 2
    assert all(r.n_records > 0 for r in stats)
    assert {r.file for r in stats} == set(os.listdir(out))


def test_warc_feeds_crawl_end_to_end(spark, tmp_path):
    """WARC → pages table → bootstrap → fetch round: the fetched text is the
    byte-identical extraction of the WARC response bodies."""
    from twittercrawler_spark.frontier.crawl import run_crawl
    from twittercrawler_spark.frontier.simulator import CrawlConfig
    from twittercrawler_spark.functions.text import extract_text
    from twittercrawler_spark.functions.urls import canonicalize_url

    p = synthesize_warc(str(tmp_path / "seg.warc"), n_records=6, seed=5)
    rec = read_warc(spark, p)
    pages = warc_pages(rec)
    pages_path = str(tmp_path / "pages.parquet")
    pages.write.parquet(pages_path)

    urls = [r.url for r in pages.select("url").orderBy("url").collect()]
    seeds_path = str(tmp_path / "seeds.parquet")
    spark.createDataFrame(
        [(u, 1.0) for u in urls[:3]], "url string, priority double"
    ).write.parquet(seeds_path)
    robots_path = str(tmp_path / "robots.parquet")
    spark.createDataFrame(
        [("never.example.org", "/", 0)],
        "host string, disallow_prefix string, crawl_delay int",
    ).write.parquet(robots_path)

    wh = run_crawl(
        spark, str(tmp_path / "wh"), pages_path, seeds_path, robots_path,
        CrawlConfig(rounds=2),
    )
    log = wh.read(spark, "fetch_log").filter(F.col("status") == "ok")
    got = {r.url: r.text for r in log.collect()}
    assert len(got) >= 3
    raw = {
        canonicalize_url(r.url): bytes(r.html)
        for r in rec.filter("rec_type = 'response' and not malformed").collect()
    }
    for url, text in got.items():
        assert text == extract_text(raw[url]), url


def test_warc_ingest_replaces_partial_fixture_dir(spark, tmp_path, monkeypatch):
    """A fixture dir without ``_done`` (a crashed or concurrent writer's)
    is never read: the query yields the same rows as from a clean temp dir."""
    import os
    import tempfile

    from twittercrawler_spark.analytics.crawl_queries import warc_ingest

    def rows():
        return sorted(map(tuple, warc_ingest(spark, "").collect()), key=repr)

    (tmp_path / "clean").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "clean"))
    want = rows()

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    partial = tmp_path / f"tcspark_warc_v1_{os.getuid()}"
    partial.mkdir()
    head = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 900\r\n\r\n<ht"
    (partial / "seg-00000.warc").write_bytes(head)
    (partial / "seg-00003.warc").write_bytes(head)
    assert rows() == want
    assert (partial / "_done").exists()
    assert not (partial / "seg-00003.warc").exists()
    assert sorted(os.listdir(tmp_path)) == ["clean", partial.name]  # no temp dir left
