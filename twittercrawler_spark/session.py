"""SparkSession factory with the engine's scale-oriented defaults.

``get_spark`` is the one session factory for every launch: plain python
(tests, bench.py, perfbench) and spark-submit (tools/submit_crawl.py,
tools/bench_scaling.py). Its conf is the engine defaults, overridden by
whatever the launch set, overridden by the caller's ``extra_conf``; a launch
that sets no master gets ``local[cores]``. Local-mode testing stands in for
a multi-executor cluster; every default here is chosen to be correct at
both scales:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing)
* Arrow on (all Python↔JVM crossings are vectorized pandas UDF batches)
* shuffle partitions ``max(defaultParallelism, 8)`` unless the launch or
  ``extra_conf`` sets them (nothing in the engine assumes the value)
* UTC session timezone (oracle comparisons against DuckDB are UTC-naive)
* the engine's worker daemon (worker_daemon.py): the stock PySpark daemon
  with a zipimport cache that re-reads pyspark.zip only when it changed,
  which takes ~0.1 s of fixed cost off every Python task; the module must
  be importable where the daemon starts, so it is the default only when
  the launch ships no ``--py-files``

BEFORE COMMITTING ANY CHANGE TO THIS FILE run `python tools/bench_smoke.py`
(headline-shape envelope at sf0.01) — a global default that is right for one
row shape can be a scale-killer for another, and round 3 shipped a 3x bench
regression exactly this way.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

# writer row-group bound for page-sized rows (~28 KB html/text): bounds both
# the writer's per-task buffer AND — because a vectorized parquet reader batch
# never spans a row group — every later scan's per-task batch, regardless of
# the 4096-row session default. Used by the crawl warehouse for its wide
# tables only (pages_canon, fetch_log); analytics tables keep the 128 MB
# default for compression/scan locality at 100 TB.
PAGE_ROW_GROUP_BYTES = 16 * 1024 * 1024

# log4j2 config = Spark defaults + a DENY filter for exactly the benign
# "Failed to update accumulator N (Unknown class) for task M" GC race (a
# late 1-task completion event processed after its finished execution's
# weakly-referenced SQL-metric accumulators were collected — internal to
# Spark, result-neutral, not reachable from user code). Real accumulator
# failures log the accumulator's class name and pass through. Applied via
# driver extraJavaOptions so it lands at JVM launch; a getOrCreate that
# joins an already-running JVM keeps that JVM's logging config.
_LOG4J_CONF = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "resources",
    "log4j2-engine.properties",
)

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


@contextlib.contextmanager
def page_row_scan(spark: SparkSession, batch_rows: int = 512):
    """Scope a small vectorized-reader batch around actions that scan
    page-sized rows from parquet WE DID NOT WRITE (no 16 MB row-group bound
    to lean on): 4096-row batches of ~28 KB rows are ~115 MB per in-flight
    task, which at 32 concurrent tasks inverts the 8->32 scaling step under
    GC (measured, BENCH/STAGES.md); 512 rows ≈ 14 MB per task. The conf is
    captured at physical-planning (action) time, so the toggle-restore
    pattern scopes it to exactly the actions run inside the block."""
    key = "spark.sql.parquet.columnarReaderBatchSize"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(batch_rows))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _launch_conf() -> dict[str, str]:
    """What the launch set: ``--master``, each ``--conf`` and
    ``spark.submit.pyFiles``. spark-submit starts the gateway JVM before
    this process, exports ``PYSPARK_GATEWAY_PORT`` and holds its confs as
    that JVM's system properties. A plain-python launch has none and pays
    no probe."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def get_spark(
    app: str = "twittercrawler_spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's one session factory, for every launch.

    One conf in one order of precedence: the engine defaults below, then
    whatever the launch set (spark-submit's ``--master`` and ``--conf``),
    then ``app`` and ``extra_conf``. The master falls back to
    ``local[cores]`` only when the launch set none (``cores`` defaults to
    ``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on); shuffle
    partitions default to ``max(defaultParallelism, 8)``. The engine worker
    daemon is a default only when ``spark.submit.pyFiles`` is empty (see
    the module docstring). The JVM-launch confs (driver memory, the log4j
    filter in ``spark.driver.extraJavaOptions``) are set only when this call
    starts the JVM; under spark-submit they belong on the submit line.
    """
    # One BLAS/OpenMP thread per Python worker: N workers × M-thread pools
    # oversubscribe the box and *invert* scaling (measured 2× slowdown at
    # local[32]). Real clusters pin this via spark.executorEnv too.
    for var in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(var, "1")
    launch = _launch_conf()
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # modest Arrow batches: crawl rows carry multi-KB html/text payloads,
        # and 10k-row batches of those thrash the heap at high parallelism
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        # Parquet batch/row-group sizing stays at the Spark defaults (4096-row
        # vectorized reader batches, 128 MB writer row groups): those are the
        # right numbers for numeric/analytics tables, and round 3 measured an
        # 11x scan regression (pricing_summary 0.61s -> 6.8s at sf0.1) when a
        # page-row bound (512/16m) was applied HERE as a session default.
        # Page-sized rows (~28 KB html/text) do need bounding — 4096 rows of
        # those is ~115 MB per in-flight task batch, which inverts the 8->32
        # scaling step under GC — but the bound is scoped to where such rows
        # live: the crawl warehouse writes its wide tables (pages_canon,
        # fetch_log) with 16 MB row groups (sources/tables.py row_group_bytes),
        # and since a vectorized reader batch never spans a row group, every
        # later scan of those tables self-bounds to ~16 MB per task batch with
        # no session knob. The one scan of page rows NOT written by us (the
        # raw corpus in frontier.crawl.bootstrap) runs under the scoped
        # page_row_scan() conf above.
        # zstd: ~35% smaller files than snappy on text-heavy tables; the
        # extra (parallel) CPU trades against the one resource that does
        # NOT scale with executors — storage bandwidth
        "spark.sql.parquet.compression.codec": "zstd",
        # task-side parallel file commit: the warehouse's own manifest commit
        # (sources/tables.py) provides atomic visibility, so the slow
        # driver-serial v1 rename pass buys nothing here — and at 100 TB the
        # v1 single-threaded rename of thousands of files IS the job tail
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        # Unix-domain sockets for the Python<->JVM side channels. The default
        # TCP accumulator server is single-threaded and its handler dies
        # PERMANENTLY on one failed auth handshake (pyspark/accumulators.py
        # UpdateRequestHandler) — observed as an "EOF reached before Python
        # server acknowledged" followed by endless per-task "Broken pipe"
        # DAGScheduler errors in long crawl benches. UDS skips the auth
        # handshake entirely and is the Spark 4 local-channel fast path;
        # driver and executor are host-local here and on any sane cluster
        # layout (the conf only governs same-host sockets).
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    if not launch.get("spark.submit.pyFiles"):
        # the stock daemon plus a zipimport cache that re-reads pyspark.zip
        # only when it changed (worker_daemon.py): ~0.1 s off every Python task
        conf["spark.python.daemon.module"] = "twittercrawler_spark.worker_daemon"
    if "spark.master" not in launch:
        if cores is None:
            cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
        conf["spark.master"] = f"local[{cores}]"
        # local[N] has N task slots: its defaultParallelism is N
        conf[_SHUFFLE_PARTITIONS] = str(max(cores, 8))
    conf.update(launch)
    conf["spark.app.name"] = app
    conf.update(extra_conf or {})
    if not launch:
        # JVM-launch confs: only a call that starts the JVM applies them
        conf.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        conf["spark.driver.extraJavaOptions"] = (
            f"-Dlog4j.configurationFile=file:{_LOG4J_CONF} "
            + conf.get("spark.driver.extraJavaOptions", "")
        ).strip()
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    if _SHUFFLE_PARTITIONS not in conf:
        spark.conf.set(
            _SHUFFLE_PARTITIONS, str(max(spark.sparkContext.defaultParallelism, 8))
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark: SparkSession, n: int | None = None) -> None:
    """Fork and import-warm the session's Python worker pool.

    The first pandas-UDF job after a session starts pays one-time costs: the
    daemon forks one worker per task slot, each worker imports pandas and
    pyarrow, and the JVM plans and loads its first Arrow/Python operators.
    At local[4] on a shared 4-core host this job takes 6.6-7.7 s
    (perfbench ``session.warm_workers_s``); pre-importing pandas, pyarrow
    and numpy in the daemon before it forks did not change that, so most of
    it is JVM-side. One tiny map-only job with a task per slot moves the
    cost out of any measured or latency-sensitive section — the role
    executor pre-warming plays on a real cluster. With
    ``spark.python.worker.reuse`` (default on) every later Python task lands
    on a warm worker. The warmed pool, one worker per slot, is the whole
    pool the crawl uses: each of its plans holds one Python operator per
    stage (one ``ArrowEvalPython`` per crossing, see functions/udfs.py), and
    a stage with two would hold two workers per task and fork a second
    pool.
    """
    if n is None:
        n = spark.sparkContext.defaultParallelism

    def _touch(batches):
        yield from batches

    (
        spark.range(n, numPartitions=n)
        .mapInPandas(_touch, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
