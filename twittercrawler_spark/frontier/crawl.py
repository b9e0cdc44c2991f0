"""The distributed crawl: bootstrap + per-round iterative DataFrame jobs.

One normative spec, two implementations: this module (distributed, Spark)
and frontier/simulator.py (sequential, pure Python). Parity tests assert
identical fetch order, seen-set membership, and text bytes.

Graft map (SURVEY.md §7.1):
  reference fixed-order fetch loop (pages/Crawler.py:53-153)
      → round loop of DataFrame jobs, order computed as data
  Redis/list seen probe (Cansin_Location_Detection.py:107-117)
      → Bloom-prefiltered exact left_anti join (frontier/seen.py)
  saving_period flush / iteration JSON dumps (Crawler.py:127;
  Stance_Detection.py:318-323)
      → atomic per-round warehouse commits, exact resume
  per-row text normalization (PreprocessDump.py:84-89)
      → Arrow-batched pandas UDF HTML→text, byte-identical
  RT-handle extraction (Stance_Detection.py:72)
      → href extraction UDF + explode → frontier candidates

Scale notes (100 TB / 10^10-URL design intent, tested at local scale):
  * all joins/aggregations key on canonical url or (host, …); the hot-host
    skew is bounded by the scheduler's two-phase top-k and by salted
    host_bucket partitioning of the seen/frontier tables;
  * robots is one broadcast left_anti join (dimension-sized,
    frontier/robots.py gate_robots);
  * the only Python crossings are the pandas UDFs (canonicalize at
    bootstrap, the fused extract_text_canon_links per fetched page) and the
    Bloom sidecar build/probe cogroups;
  * per-round state lives in committed tables, never in DataFrame lineage
    (no iterative lineage blowup);
  * per-partition lineage: per-host_bucket row counts for every stage are
    recorded in the metrics table and the commit manifest.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.udfs import (
    udf_canonicalize,
    udf_extract_text_canon_links,
)
from ..functions.urls import spark_host_bucket, spark_url_hash64
from ..session import PAGE_ROW_GROUP_BYTES, page_row_scan
from ..sources.tables import Warehouse
from .robots import gate_robots, normalize_robots
from .scheduler import schedule
from .seen import filter_unseen, plan_update, update_bloom_sidecar
from .simulator import CrawlConfig

# the seen+sidecar thread's wall time: it overlaps the fetch stage, so it
# is committed beside the main-path laps but is not one of them
OVERLAPPED_STAGE = "seen+sidecar"


class _StageTimer:
    """Per-stage wall-clock laps between a round's materialization points,
    committed to the manifest under ``stages`` (the record behind the
    per-stage breakdown in BENCH/STAGES.md)."""

    def __init__(self):
        self.laps: dict[str, float] = {}
        self.t = time.time()

    def lap(self, stage: str) -> None:
        now = time.time()
        self.laps[stage] = now - self.t
        self.t = now


_PATH_RE = r"^[a-z0-9+.-]+://[^/]+(/[^?]*)"
_HOST_RE = r"^[a-z0-9+.-]+://([^/?#]+)"


def _metrics_schema():
    import pyarrow as pa

    return pa.schema(
        [("host_bucket", pa.int32()), ("stage", pa.string()), ("n", pa.int64())]
    )


# Per-bucket lineage counts run as dedicated hash-aggregation jobs over
# NARROW projections (host_bucket [+ discovered_round]), never as Observation
# expressions fused onto the write jobs. Measured (same-window alternating
# A/B at 64 buckets, local[32]): the fused CollectMetrics variant costs
# ~2.3 s/round MORE — its per-bucket sum(when) expressions are interpreted
# (no whole-stage codegen) and O(num_buckets) per row, while a codegen'd
# groupBy(host_bucket).count() is O(1) per row and its input scan is
# column-pruned to integer columns. The job launches it saves are ~0.1-0.3 s
# of driver floor, amortized at production round sizes anyway.


def _bucket_counts(df: DataFrame) -> dict[int, int]:
    """Per-host_bucket row counts (groupBy-count semantics: absent buckets
    emit no entry). One codegen'd hash-agg job over a narrow projection."""
    return {
        int(r["host_bucket"]): int(r["n"])
        for r in df.groupBy("host_bucket").agg(F.count("*").alias("n")).collect()
    }


def _with_url_cols(df: DataFrame, num_buckets: int, salt_sub_buckets: int) -> DataFrame:
    """Add url_hash/host/host_bucket/path derived from canonical ``url``.

    Canonical URLs are machine-made (scheme://netloc/path[?q]), so host and
    path come from JVM-side regexps inside whole-stage codegen — no Python
    crossing (parity with urls.host_of asserted in tests/test_urls.py).

    ``host_bucket`` is the SALTED-HOST key of SURVEY §4.3 — hash(host) plus
    a url-derived salt in [0, S) — so each host's frontier/seen rows cluster
    into at most S of the NB buckets: per-host work co-locates (fetch joins,
    seen probes, scheduling windows touch a handful of partitions per host)
    while a hot host still spreads across S tasks instead of pinning one.
    """
    return (
        df.withColumn("url_hash", spark_url_hash64("url"))
        .withColumn("host", F.regexp_extract("url", _HOST_RE, 1))
        .withColumn(
            "host_bucket",
            spark_host_bucket("host", "url_hash", num_buckets, salt_sub_buckets),
        )
        .withColumn("path", F.regexp_extract("url", _PATH_RE, 1))
    )


def _canonical_urls(df: DataFrame) -> DataFrame:
    """Replace ``url`` with its canonical form and drop rows that have none
    (non-http(s) or malformed): ONE canonicalize-UDF crossing per row.

    The UDF is called as nondeterministic although it is a pure function of
    the url. Catalyst pushes a filter below a deterministic projection by
    inlining the aliased expression, so ``isNotNull`` on the UDF's output
    became a second copy of the UDF under the projection: two chained
    ``ArrowEvalPython`` nodes, every row crossing twice with its whole page
    queued each time, and two Python workers per task. A nondeterministic
    projection is a pushdown barrier, so the filter stays above the one
    evaluation (pinned by tests/test_plans.py).
    """
    canonicalize = udf_canonicalize.asNondeterministic()
    return df.withColumn("url", canonicalize(F.col("url"))).filter(
        F.col("url").isNotNull()
    )


def bootstrap(
    spark: SparkSession,
    wh: Warehouse,
    pages_path: str,
    seeds_path: str,
    robots_path: str,
    cfg: CrawlConfig,
) -> None:
    """Round 0: canonicalized page corpus + seeded frontier + robots dim."""
    tm = _StageTimer()
    raw = spark.read.parquet(pages_path)
    # Canonicalize join keys only; html stays opaque — extraction runs in the
    # per-round fetch path for SELECTED urls only (at 10^10-page scale you
    # never pre-extract the whole corpus to crawl a subset).
    canon = _canonical_urls(raw.withColumn("url_raw", F.col("url")))
    def _clustered(df: DataFrame) -> DataFrame:
        # cluster the corpus by host_bucket so per-round fetch joins and seen
        # probes co-locate (the Iceberg partition-spec analog)
        out = _with_url_cols(df, cfg.num_buckets, cfg.salt_sub_buckets)
        return out.repartition(cfg.num_buckets, "host_bucket")

    # Write first, probe after: the corpus is assumed url-unique under
    # canonicalization (the common case — WARC inputs are url-unique), so the
    # optimistic path pays exactly ONE canonicalize-UDF pass over the corpus
    # (one evaluation per row: see _canonical_urls for the filter pushdown
    # that used to run the UDF twice).
    # The duplicate probe then runs on the WRITTEN table, where canonical
    # urls are a plain column — a JVM-only column-pruned scan, no second UDF
    # pass (probing raw first cost a full extra pandas-UDF pass over every
    # url, measured ~40% of bootstrap on the 250k bench corpus).
    # page_row_scan: this is the one scan of ~28 KB html rows from parquet we
    # did not write (the raw corpus), so the reader batch can't lean on a
    # row-group bound; PAGE_ROW_GROUP_BYTES bounds the written table so every
    # LATER pages_canon scan self-bounds at the default 4096-row batch.
    with page_row_scan(spark):
        wh.write("pages_canon", _clustered(canon), 0,
                 row_group_bytes=PAGE_ROW_GROUP_BYTES)
    tm.lap("canonicalize+cluster+write")
    has_dup = not (
        wh.read_uncommitted(spark, "pages_canon", 0)
        .groupBy("url")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .isEmpty()
    )
    tm.lap("dup_probe")
    if has_dup:
        # Collisions exist (adversarial/messy corpus): rewrite the
        # uncommitted table from raw, keeping the earliest (warc_ts, url_raw)
        # per url, a computed rule, not task order. The rewrite never reads
        # pages_canon, so overwriting it is safe. host_bucket is a function
        # of the canonical url, so the clustering exchange already puts every
        # spelling of a url in one partition: a window keyed (host_bucket,
        # url) rides it with a local sort, one canonicalize pass and one
        # shuffle (keyed by url alone it would shuffle the corpus twice).
        # The sort stays on this rare branch: on ~28 KB pages at a few
        # buckets it spills, so the common path above stays sort-free.
        w = Window.partitionBy("host_bucket", "url").orderBy("warc_ts", "url_raw")
        deduped = (
            _clustered(canon)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        with page_row_scan(spark):
            wh.write("pages_canon", deduped, 0,
                     row_group_bytes=PAGE_ROW_GROUP_BYTES)
        tm.lap("dedup_rewrite")

    seeds = (
        _canonical_urls(spark.read.parquet(seeds_path))
        .groupBy("url")
        .agg(F.max("priority").alias("priority"))
        .withColumn("discovered_round", F.lit(0))
    )
    seeds = _with_url_cols(seeds, cfg.num_buckets, cfg.salt_sub_buckets)
    seeds_out = seeds.select(
        "url", "url_hash", "host", "host_bucket", "path", "priority", "discovered_round"
    )
    # round-0 lineage: per-bucket frontier counts — round 1 reads these as
    # its "candidates" stage instead of rescanning the frontier. The count
    # job rescans only the two integer columns of the table just written;
    # the metadata-scale metrics table is written driver-side (no job).
    wh.write("frontier", seeds_out, 0)
    tm.lap("seed_frontier_write")

    wh.write("robots", normalize_robots(spark.read.parquet(robots_path)), 0)
    counts0 = _bucket_counts(wh.read_uncommitted(spark, "frontier", 0))
    tm.lap("robots+frontier_count")
    wh.write_rows(
        "metrics",
        0,
        [
            {"host_bucket": b, "stage": "frontier_next", "n": n}
            for b, n in sorted(counts0.items())
        ],
        _metrics_schema(),
    )
    n_seeds = sum(counts0.values())
    wh.commit(0, {"seq_end": 0, "frontier_size": n_seeds, "cfg": cfg.__dict__,
                  "stages": tm.laps})


def run_round(spark: SparkSession, wh: Warehouse, cfg: CrawlConfig, rnd: int) -> bool:
    """Execute round ``rnd``; returns False when the frontier is exhausted."""
    tm = _StageTimer()
    pending = wh.read_round(spark, "frontier", rnd - 1)
    if pending is None:
        return False
    pending = pending.drop("round")
    prev_m = wh.round_info(rnd - 1)["metrics"]
    # frontier emptiness comes from the previous commit's manifest (free)
    if prev_m["frontier_size"] == 0:
        return False
    seq_start = int(prev_m["seq_end"])

    robots = wh.read_round(spark, "robots", 0).drop("round")
    pages = wh.read_round(spark, "pages_canon", 0).drop("round")

    # robots gate (P6/master-pinning analog): bootstrap committed the one
    # normalized robots table, so every round runs the same broadcast
    # anti-join — longest-match precedence via each Disallow's exceptions
    gated = gate_robots(pending, robots).localCheckpoint(eager=False)

    # politeness selection + deterministic global fetch order; robots
    # crawl-delay (when enabled) tightens per-host budgets below the flat
    # quota via a dimension-sized broadcast (quota = floor(round_s/delay),
    # clamped to the flat quota by the scheduler)
    quotas = None
    if cfg.round_seconds > 0:
        quotas = (
            robots.filter(F.col("crawl_delay") > 0)
            .groupBy("host")
            .agg(F.floor(F.lit(cfg.round_seconds) / F.max("crawl_delay")).alias("_quota"))
        )
    # the checkpointed schedule slice feeds the fetch, seen, metrics and
    # remaining consumers; its one per-bucket count job runs on the
    # OVERLAPPED thread below, off the main path's serial chain
    # schedule → fetch write → frontier write → frontier count → commit
    selected = schedule(
        gated, cfg.per_host_per_round, seq_start, cfg.salt_sub_buckets, quotas
    )
    tm.lap("schedule")

    # The seen-table write and the Bloom-sidecar update depend ONLY on the
    # checkpointed schedule slice plus committed prior state, so they run on
    # a concurrent driver thread OVERLAPPED with the round's big fetch
    # stage — Spark schedules both job groups onto free executor slots, and
    # every output stays invisible until the manifest commit, so a failure
    # on either path still aborts the round atomically.
    seen_prior = wh.read(spark, "seen", upto=rnd - 1)
    sidecar_prev = wh.read_round(spark, "seen_bloom", rnd - 1)
    prev_meta = {int(k): tuple(v) for k, v in prev_m.get("bloom_meta", {}).items()}

    def _seen_and_sidecar() -> tuple[dict[int, tuple[int, int]], dict[int, int], float]:
        t0 = time.time()
        sel_counts = _bucket_counts(selected)
        seen_out = selected.select("url", "url_hash", "host_bucket")
        wh.write("seen", seen_out, rnd)
        new_hashes = selected.select("host_bucket", "url_hash")
        # the seen rows ARE the schedule slice: its per-bucket counts are
        # both n_new here and the "selected" lineage metrics of the commit
        bloom_meta, overflow = plan_update(prev_meta, sel_counts)
        full = (
            seen_prior.select("host_bucket", "url_hash").unionByName(new_hashes)
            if overflow
            else None
        )
        sidecar_next = update_bloom_sidecar(new_hashes, sidecar_prev, overflow, full)
        wh.write("seen_bloom", sidecar_next, rnd)
        # authoritative (n_items, cap) counters come from the table just
        # written — manifest meta and sidecar state share ONE source, so a
        # future path that introduced duplicate (host_bucket, url_hash) rows
        # (i.e. a double fetch) trips the invariant check below instead of
        # silently desynchronizing the overflow planner from the bitsets
        table_meta = {
            int(r["host_bucket"]): (int(r["n_items"]), int(r["cap"]))
            for r in wh.read_uncommitted(spark, "seen_bloom", rnd)
            .select("host_bucket", "n_items", "cap")
            .collect()
        }
        if table_meta != bloom_meta:
            raise AssertionError(
                "bloom_meta planner disagrees with the written sidecar — the "
                f"seen table holds unexpected duplicate keys? plan={bloom_meta} "
                f"table={table_meta}"
            )
        return table_meta, sel_counts, time.time() - t0

    from concurrent.futures import ThreadPoolExecutor, wait as _fut_wait

    pool = ThreadPoolExecutor(max_workers=1)
    seen_fut = pool.submit(_seen_and_sidecar)
    # the pool tears itself down when the task finishes, so an exception on
    # the main fetch path can never leak the worker thread
    seen_fut.add_done_callback(lambda _: pool.shutdown(wait=False))

    # the whole main path joins the overlapped thread on BOTH exits: the
    # success path consumes its bloom_meta below; a failure here must not
    # propagate while the sidecar thread still runs Spark jobs (shutdown
    # cannot cancel a running task, and a hung write would otherwise block
    # interpreter exit with the round's real error unreported)
    try:
        # "fetch": ship the SCHEDULE to the DATA — the selected slice is
        # quota-bounded (politeness) and tiny next to the page corpus, so it
        # broadcasts against the pages scan and the html bytes NEVER shuffle;
        # extraction (the only Python crossings, Arrow-batched) then runs
        # scan-local on the fetched rows only. (At frontier sizes where a round's
        # schedule outgrew the broadcast budget, dropping the hint falls back to
        # a bucket-co-located SMJ — same plan shape, still no html re-shuffle
        # with host_bucket-bucketed storage.)
        sel_keys = selected.select("url", "seq", "priority", "host", "host_bucket")
        # coalesce to one task per slot before the extract UDF (same measured
        # treatment as the link-expansion path): the corpus scan splits at
        # file/row-group granularity into far more tasks than slots, and every
        # pandas-UDF task pays a fixed Arrow/worker round-trip; the html rows
        # stream through each fat task as bounded reader batches, so fewer
        # tasks costs no memory. Also writes one fetch_log file per slot
        # (row groups stay 16 MB, so later scans still split below files).
        # extraction AND link canonicalization run fused in this one Arrow
        # crossing (udf_extract_text_canon_links): the href strings never
        # leave Python raw, the canonicalize work rides the parallel fetch
        # stage instead of its own job on the serial round path, and the
        # fetch_log's links column durably holds RESOLVED canonical urls
        # (per-page first-seen dedup; malformed/non-http hrefs dropped).
        hit = (
            pages.select("url", "html", "lang")
            .join(F.broadcast(sel_keys), "url")
            .coalesce(spark.sparkContext.defaultParallelism)
            .withColumn(
                "_ex", udf_extract_text_canon_links(F.col("html"), F.col("url"))
            )
            .withColumn("text", F.col("_ex.text"))
            .withColumn("links", F.col("_ex.links"))
            .withColumn("status", F.lit("ok"))
            .drop("html", "_ex")
        )
        # miss = scheduled urls absent from the corpus. A direct
        # left_anti(sel_keys, pages.url) plans as a sort-merge join that
        # shuffles EVERY page url (the corpus side) — at 10^10 pages that is
        # the biggest shuffle in the round, moved for a result bounded by the
        # quota. Route it through the schedule instead: hit_urls = corpus
        # urls ∩ schedule (broadcast semi-join on the column-pruned url scan,
        # map-only, reuses the sel_keys broadcast), then anti-join against
        # THAT — both sides schedule-bounded, so the anti-join broadcasts at
        # any corpus size and the pages scan never shuffles.
        hit_urls = pages.select("url").join(
            F.broadcast(sel_keys.select("url")), "url", "left_semi"
        )
        miss = (
            sel_keys.join(F.broadcast(hit_urls), "url", "left_anti")
            .withColumn("lang", F.lit(None).cast("string"))
            .withColumn("text", F.lit(None).cast("string"))
            .withColumn("links", F.lit(None).cast("array<string>"))
            .withColumn("status", F.lit("missing"))
        )
        fetched = hit.unionByName(miss, allowMissingColumns=False)

        # The fetch_log WRITE is the round's materialization point: extraction
        # runs exactly once into the durable table; downstream link expansion
        # re-reads it COLUMN-PRUNED (url, priority, links — the text bytes stay
        # on disk). Caching these wide rows on-heap instead measurably collapses
        # under GC at high parallelism. fetch_log keeps the scan-local layout
        # (no text shuffle); crawl order is the seq COLUMN, never file order
        # (SURVEY.md §7.4).
        fetch_out = fetched.select(
            "seq", "url", "host", "host_bucket", "status", "text", "lang",
            "priority", "links",
        )
        wh.write("fetch_log", fetch_out, rnd, row_group_bytes=PAGE_ROW_GROUP_BYTES)
        fetched_log = wh.read_uncommitted(spark, "fetch_log", rnd)
        tm.lap("fetch+extract+write")

        # expand: the links column already holds canonical urls (fused into
        # the fetch stage's extract crossing above), so expansion is pure
        # JVM: column-pruned scan (status, priority, links — the text bytes
        # stay on disk) → explode → url cols (map-side codegen) → ONE
        # host_bucket-clustering shuffle that the whole rest of the subtree
        # rides: the per-url dedup agg groups on (host_bucket, url, …) so
        # HashPartitioning(host_bucket) already satisfies it, and the
        # Bloom-probe cogroup in filter_unseen groups on host_bucket too —
        # neither inserts an exchange of its own. Trade-off (deliberate,
        # plan-pinned in tests/test_plans.py): with the repartition BELOW the
        # groupBy, BOTH HashAggregates plan above the exchange, so exploded
        # per-page duplicate links ride the one shuffle UNCOLLAPSED and are
        # deduplicated post-shuffle — 1 shuffle of raw exploded links versus
        # the old url-keyed agg's 4 shuffles of deduped links. On
        # duplicate-heavy production rounds a hot url's copies all land in
        # one bucket partition; if that skew ever binds, a map-side
        # pre-collapse (per-partition dedup on the grouping keys before the
        # repartition — a mapInPandas/mapPartitions pass, since a DataFrame
        # partial-distinct cannot be forced without its own shuffle) is the
        # candidate fix. Benchmark before adopting: the measured r4 A/B that
        # chose this form compared single-shuffle vs the 4-shuffle url-keyed
        # agg (12.1 → 10.5 s @8 on the 250k corpus), not vs a pre-collapse,
        # and the bench corpora (≤4 links/page, few duplicate links) cannot
        # surface the duplicate-heavy regime where a pre-collapse pays.
        links = (
            fetched_log.filter(F.col("status") == "ok")
            .select(
                F.explode("links").alias("url"),
                (F.col("priority") * cfg.priority_decay).alias("child_priority"),
            )
        )
        links = _with_url_cols(links, cfg.num_buckets, cfg.salt_sub_buckets)
        links = (
            links.repartition(cfg.num_buckets, "host_bucket")
            .groupBy("url", "url_hash", "host", "host_bucket", "path")
            .agg(F.max("child_priority").alias("priority"))
        )

        # dedup: not fetched this round, not in prior seen (Bloom prefilter +
        # exact anti-join), not already pending. The sidecar is the committed
        # per-bucket Bloom TABLE maintained incrementally below — never built
        # by collecting hashes to the driver. filter_unseen flags the full
        # link rows in the probe crossing itself (definite misses flow
        # through a filter; only the Bloom-fpp "maybe" sliver shuffles into
        # the exact anti-join), so the link pipeline is consumed exactly
        # once — no checkpoint, no semi-join back.
        links = filter_unseen(spark, links, seen_prior, sidecar_prev)
        # remaining = gated minus selected, so selected ∪ remaining == gated
        # EXACTLY: the "not fetched this round" and "not already pending"
        # anti-joins fold into ONE anti-join against gated's urls. selected
        # is quota-bounded (politeness) — broadcast it, like the fetch join's
        # sel_keys, so the frontier-sized gated rows never shuffle on url for
        # the remaining split (they still shuffle once into the merge's
        # host_bucket clustering below).
        remaining = gated.join(F.broadcast(selected.select("url")), "url", "left_anti")
        links = links.join(gated.select("url"), "url", "left_anti")
        new_pending = links.withColumn("discovered_round", F.lit(rnd)).select(
            "url", "url_hash", "host", "host_bucket", "path", "priority", "discovered_round"
        )

        # the frontier WRITE is the merge's single materialization (same durable-
        # table-as-checkpoint pattern as fetch_log); new-link rows are recovered
        # from the written table by discovered_round — no on-heap caching
        frontier_next = remaining.select(
            "url", "url_hash", "host", "host_bucket", "path", "priority", "discovered_round"
        ).unionByName(new_pending)
        frontier_next = frontier_next.repartition(cfg.num_buckets, "host_bucket")
        wh.write("frontier", frontier_next, rnd)
        tm.lap("expand+frontier_write")

        # per-partition lineage metrics (north rule): per-host_bucket counts
        # at each stage of this round. candidates = last round's frontier_next
        # lineage (metadata-scale driver read — the frontier is never
        # rescanned just to count it); selected = the shared sel_counts job
        # (also the sidecar planner's n_new — the seen rows ARE the schedule
        # slice); frontier_next/new_links = ONE hash-agg job whose scan is
        # column-pruned to two integer columns of the table just written.
        cand_counts = {
            int(r["host_bucket"]): int(r["n"])
            for r in wh.read_rows("metrics", rnd - 1)
            if r["stage"] == "frontier_next"
        }
        frontier_written = wh.read_uncommitted(spark, "frontier", rnd)
        fn_counts, nl_counts = {}, {}
        for r in (
            frontier_written.groupBy("host_bucket")
            .agg(
                F.count("*").alias("fn"),
                F.sum(F.when(F.col("discovered_round") == rnd, 1).otherwise(0))
                .cast("bigint")
                .alias("nl"),
            )
            .collect()
        ):
            fn_counts[int(r["host_bucket"])] = int(r["fn"])
            if int(r["nl"]) > 0:
                nl_counts[int(r["host_bucket"])] = int(r["nl"])
        # join the overlapped seen+sidecar thread (its failure fails the round
        # BEFORE the commit); it carries the shared sel_counts job plus the
        # bloom_meta counters and its own wall time, both for the manifest
        bloom_meta, sel_counts, seen_s = seen_fut.result()
        tm.lap("join_seen_sidecar")
        tm.laps[OVERLAPPED_STAGE] = seen_s
        collected = [
            {"host_bucket": b, "stage": stage, "n": n}
            for stage, counts in (
                ("candidates", cand_counts),
                ("selected", sel_counts),
                ("frontier_next", fn_counts),
                ("new_links", nl_counts),
            )
            for b, n in sorted(counts.items())
        ]
        wh.write_rows("metrics", rnd, collected, _metrics_schema())
        totals = {s: 0 for s in ("candidates", "selected", "new_links", "frontier_next")}
        for r in collected:
            totals[r["stage"]] += r["n"]
        n_selected = totals["selected"]
        tm.lap("metrics_collect")
    except BaseException as e:
        seen_fut.cancel()  # no-op once started; prevents a not-yet-started run
        # bounded join: a WEDGED sidecar write must not suppress the round's
        # real error forever (the whole point of this handler)
        _, not_done = _fut_wait([seen_fut], timeout=60)
        if not_done:
            e.add_note("overlapped seen+sidecar thread did not join within 60s")
        elif not seen_fut.cancelled() and seen_fut.exception() is not None:
            e.add_note(
                f"overlapped seen+sidecar thread also failed: {seen_fut.exception()!r}"
            )
        raise

    wh.commit(
        rnd,
        {
            "seq_end": seq_start + n_selected,
            "fetched": n_selected,
            "new_links": totals["new_links"],
            "frontier_size": totals["frontier_next"],
            "bloom_meta": {str(b): list(v) for b, v in bloom_meta.items()},
            "stages": tm.laps,
            **({"exhausted": True} if n_selected == 0 else {}),
        },
    )
    return n_selected > 0


def run_crawl(
    spark: SparkSession,
    warehouse_dir: str,
    pages_path: str,
    seeds_path: str,
    robots_path: str,
    cfg: CrawlConfig | None = None,
) -> Warehouse:
    """Bootstrap if needed, then run/resume rounds 1..cfg.rounds."""
    cfg = cfg or CrawlConfig()
    wh = Warehouse(warehouse_dir)
    last = wh.last_round()
    if last is None:
        bootstrap(spark, wh, pages_path, seeds_path, robots_path, cfg)
        last = 0
    for rnd in range(last + 1, cfg.rounds + 1):
        if not run_round(spark, wh, cfg, rnd):
            break
    return wh


def fetch_log(spark: SparkSession, wh: Warehouse) -> DataFrame:
    """All committed fetch-log rows ordered by seq (round from partition dir)."""
    df = wh.read(spark, "fetch_log")
    if df is None:
        raise ValueError("no committed fetch_log")
    return df.orderBy("seq")
