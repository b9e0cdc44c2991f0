"""Crawl-engine queries for the driver contract (rows-only checks).

The crawl frontier is the engine's flagship (SURVEY.md §7.2): these entries
expose its committed outputs as ``queries()`` DataFrames. They are
deliberately NOT given SQL oracles — the crawl is an iterative stateful job
(scheduler + seen-set + politeness), not a single SQL expression; its
correctness gate is the pure-Python reference simulator parity suite
(tests/test_crawl_parity.py: identical fetch order, seen membership, and
byte-identical text), which is stronger than a SQL twin.

The corpus and the crawl run are content-deterministic (seed=42, no wall
clock), cached under a parameter-keyed temp directory so repeated driver
invocations reuse the committed warehouse.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frontier.crawl import run_crawl
from ..frontier.simulator import CrawlConfig
from ..sources.corpus import generate_corpus
from ..sources.tables import Warehouse

N_PAGES = 400
N_HOSTS = 12
N_SEEDS = 6
ROUNDS = 4
# the trailing format version changes whenever round code stops resuming a
# warehouse an older build bootstrapped (v5: the normalized robots table)
_PARAM_KEY = f"p{N_PAGES}h{N_HOSTS}s{N_SEEDS}r{ROUNDS}v5"


def _cache_root() -> str:
    d = os.path.join(tempfile.gettempdir(), f"tcspark_cache_{_PARAM_KEY}")
    os.makedirs(d, exist_ok=True)
    return d


def _crawled_warehouse(spark: SparkSession) -> Warehouse:
    root = _cache_root()
    corpus = os.path.join(root, "corpus")
    if not os.path.exists(os.path.join(corpus, "pages.parquet")):
        generate_corpus(corpus, n_pages=N_PAGES, n_hosts=N_HOSTS, n_seeds=N_SEEDS, seed=42)
    cfg = CrawlConfig(rounds=ROUNDS)
    wh_dir = os.path.join(root, "warehouse")
    return run_crawl(
        spark,
        wh_dir,
        os.path.join(corpus, "pages.parquet"),
        os.path.join(corpus, "seeds.parquet"),
        os.path.join(corpus, "robots.parquet"),
        cfg,
    )


def crawl_fetch_order(spark: SparkSession, sf: str) -> DataFrame:
    """The parity-critical artifact: global fetch sequence (W1/W2)."""
    wh = _crawled_warehouse(spark)
    df = wh.read(spark, "fetch_log")
    return df.select("seq", "url", "host", "status", "round").orderBy("seq")


def crawl_seen_set(spark: SparkSession, sf: str) -> DataFrame:
    """Final URL-seen membership (J8 analog), sorted for stable output."""
    wh = _crawled_warehouse(spark)
    df = wh.read(spark, "seen")
    return df.select("url", "url_hash").orderBy("url_hash")


def crawl_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Per-partition lineage: per-host_bucket stage counts per round."""
    wh = _crawled_warehouse(spark)
    df = wh.read(spark, "metrics")
    return df.select("round", "stage", "host_bucket", "n").orderBy(
        "round", "stage", "host_bucket"
    )


def crawl_extracted_text(spark: SparkSession, sf: str) -> DataFrame:
    """Byte-identical extracted text per fetched url (F2 contract)."""
    wh = _crawled_warehouse(spark)
    df = wh.read(spark, "fetch_log")
    return (
        df.filter(F.col("status") == "ok")
        .select("url", F.md5("text").alias("text_md5"))
        .orderBy("url")
    )


def _warc_fixture_dir() -> str:
    """The synthetic WARC segments, in a per-user temp dir that only ever
    appears complete: they are written to a private dir, marked ``_done``
    and moved into place with ``os.replace``, so a concurrent or crashed
    writer never leaves a half-written segment where a reader looks."""
    from ..sources.warc import synthesize_warc

    root = os.path.join(tempfile.gettempdir(), f"tcspark_warc_v1_{os.getuid()}")
    done = os.path.join(root, "_done")
    if os.path.exists(done):
        return root
    tmp = tempfile.mkdtemp(prefix=os.path.basename(root) + ".", dir=os.path.dirname(root))
    try:
        synthesize_warc(os.path.join(tmp, "seg-00000.warc"), n_records=25, seed=42)
        synthesize_warc(os.path.join(tmp, "seg-00001.warc.gz"), n_records=25, seed=43)
        synthesize_warc(
            os.path.join(tmp, "seg-00002.warc"), n_records=10, seed=44, truncated_tail=True
        )
        with open(os.path.join(tmp, "_done"), "w") as f:
            f.write("ok")
        if not os.path.exists(done):  # an incomplete dir is never read
            shutil.rmtree(root, ignore_errors=True)
        try:
            os.replace(tmp, root)
        except OSError:  # a concurrent writer moved its complete copy in first
            if not os.path.exists(done):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return root


def warc_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """WARC segment ingestion (S3/S4 over archive records): deterministic
    synthetic segments (one plain, one gzipped, one with a truncated tail)
    → Arrow-batched record splitter → per-record rows + malformed flags.
    Rows-only by design: the gate is the byte-level round-trip + crawl-e2e
    suite in tests/test_warc.py; no SQL engine reads WARC."""
    from ..sources.warc import read_warc

    root = _warc_fixture_dir()
    rec = read_warc(spark, os.path.join(root, "seg-*"))
    return rec.select(
        "file",
        "rec_type",
        "url",
        "malformed",
        F.length("html").alias("n_html_bytes"),
        "error",
    ).orderBy("file", F.col("url").asc_nulls_last(), "error")


def robots_rules(spark: SparkSession, sf: str) -> DataFrame:
    """robots.txt derivation (P6 from raw bodies): fixed deterministic
    bodies → user-agent section selection + allow/disallow + crawl-delay
    rules. Rows-only: the correctness gate is tests/test_robots.py (parser
    semantics + precedence-gate parity with the pure-Python twin + crawl
    parity vs the simulator)."""
    from ..frontier.robots import parse_robots

    bodies = spark.createDataFrame(
        [
            (
                "a.example.org",
                "User-agent: *\nDisallow: /private/\nAllow: /private/open/\n"
                "Crawl-delay: 2\nDisallow: /tmp/*.html\n",
            ),
            (
                "b.example.org",
                "User-agent: otherbot\nDisallow: /\n\n"
                "User-agent: twittercrawler\nDisallow: /secret/\nCrawl-delay: 5\n",
            ),
            ("c.example.org", "User-agent: *\nCrawl-delay: 7\n"),
        ],
        "host string, body string",
    )
    return parse_robots(bodies).orderBy("host", "prefix", "allow")


QUERIES = {
    "crawl_fetch_order": crawl_fetch_order,
    "crawl_seen_set": crawl_seen_set,
    "crawl_metrics": crawl_metrics,
    "crawl_extracted_text": crawl_extracted_text,
    "warc_ingest": warc_ingest,
    "robots_rules": robots_rules,
}
ORACLES: dict = {}
