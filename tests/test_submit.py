"""The north-rule launch path: ``spark-submit --py-files <zip> tools/submit_crawl.py``.

Runs REAL spark-submit in a subprocess from a neutral cwd with the repo
stripped from PYTHONPATH, so the engine import must come from the --py-files
zip — proving the artifact is self-contained the way a multi-executor
cluster requires — then checks the crawl output against the pure-Python
simulator (fetch totals + per-round progression), and checks that
``get_spark`` keeps what the launch set on top of the engine defaults.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_crawl(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_pyfiles import build

    zip_path = build(str(tmp_path / "twittercrawler_spark.zip"))

    from twittercrawler_spark.sources.corpus import generate_corpus
    corpus = str(tmp_path / "corpus")
    generate_corpus(corpus, n_pages=200, n_hosts=8, n_seeds=4, seed=7)

    wh_dir = str(tmp_path / "wh")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["HOME"] = str(tmp_path)  # no stray ivy/conf state
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--driver-memory", "2g",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        os.path.join(REPO, "tools", "submit_crawl.py"),
        "--pages", f"{corpus}/pages.parquet",
        "--seeds", f"{corpus}/seeds.parquet",
        "--robots", f"{corpus}/robots.parquet",
        "--warehouse", wh_dir,
        "--rounds", "3",
        "--num-buckets", "8",
    ]
    proc = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    # last stdout line is the summary JSON
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    summary = json.loads(line)
    assert summary["warehouse"] == wh_dir
    rounds = summary["rounds"]
    assert len(rounds) >= 1 and rounds[0]["fetched"] > 0

    # parity vs the simulator under the same cfg (the spec'd contract)
    import duckdb
    from twittercrawler_spark.frontier.simulator import CrawlConfig, simulate
    from twittercrawler_spark.functions.urls import canonicalize_url

    con = duckdb.connect()
    pages = {
        canonicalize_url(u): bytes(h)
        for u, h in con.sql(f"SELECT url, html FROM '{corpus}/pages.parquet'").fetchall()
    }
    seeds = [
        (u, float(p))
        for u, p in con.sql(f"SELECT url, priority FROM '{corpus}/seeds.parquet'").fetchall()
    ]
    robots = con.sql(
        f"SELECT host, disallow_prefix FROM '{corpus}/robots.parquet'"
    ).fetchall()
    sim = simulate(pages, seeds, robots, CrawlConfig(rounds=3, num_buckets=8))
    sim_per_round: dict[int, int] = {}
    for r in sim.fetch_log:
        sim_per_round[r["round"]] = sim_per_round.get(r["round"], 0) + 1
    assert {r["round"]: r["fetched"] for r in rounds} == sim_per_round


_SESSION_PROBE = """
import json
import zipimport

import pandas as pd

from twittercrawler_spark.session import get_spark

spark = get_spark("probe", cores=3)
conf = dict(spark.sparkContext.getConf().getAll())
conf.update(spark.conf.getAll)
conf["master"] = spark.sparkContext.master
print(json.dumps(conf), flush=True)


def module_of_invalidate_caches(batches):
    for _ in batches:
        pass
    yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})


m = spark.range(1).mapInPandas(module_of_invalidate_caches, "m string").first().m
print(json.dumps({"worker.invalidate_caches": m}))
spark.stop()
"""


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_get_spark_keeps_the_launch_conf(tmp_path):
    """Under spark-submit, ``get_spark`` keeps the launch's master and
    ``--conf`` values over its own (``cores`` and the shuffle default lose),
    still applies every engine default the launch left unset, and keeps the
    stock worker daemon because ``--py-files`` ships the engine."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_pyfiles import build

    script = tmp_path / "session_probe.py"
    script.write_text(_SESSION_PROBE)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["HOME"] = str(tmp_path)
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[2]",
        "--driver-memory", "1g",
        "--conf", "spark.sql.shuffle.partitions=5",
        "--py-files", build(str(tmp_path / "twittercrawler_spark.zip")),
        str(script),
    ]
    proc = subprocess.run(
        cmd, cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, proc.stderr[-4000:]
    conf = json.loads(lines[0])
    assert conf["master"] == "local[2]"
    assert conf["spark.sql.shuffle.partitions"] == "5"
    assert conf["spark.python.unix.domain.socket.enabled"] == "true"
    assert conf["spark.sql.autoBroadcastJoinThreshold"] == "67108864"
    assert conf["spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version"] == "2"
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.ui.enabled"] == "false"
    assert "spark.python.daemon.module" not in conf
    # a Python task runs on the stock daemon
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert json.loads(lines[1]) == {"worker.invalidate_caches": "zipimport"}


# every conf get_spark sets on a plain-python launch, at cores=4
_PLAIN_CONF = {
    "spark.app.name": "x",
    "spark.master": "local[4]",
    "spark.driver.memory": "1g",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    "spark.python.unix.domain.socket.enabled": "true",
    "spark.python.daemon.module": "twittercrawler_spark.worker_daemon",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
}


def test_get_spark_plain_python_conf():
    """A plain-python launch: master local[cores], shuffle partitions
    max(cores, 8), the engine daemon, and exactly the engine defaults."""
    script = (
        "import json, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from twittercrawler_spark.session import get_spark\n"
        "spark = get_spark('x', cores=4, extra_conf={'spark.driver.memory': '1g'})\n"
        "conf = dict(spark.sparkContext.getConf().getAll())\n"
        "conf.update(spark.conf.getAll)\n"
        "print(json.dumps(conf))\n"
        "spark.stop()\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    conf = json.loads([ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])
    log4j = os.path.join(REPO, "twittercrawler_spark", "resources", "log4j2-engine.properties")
    assert {k: conf.get(k) for k in _PLAIN_CONF} == _PLAIN_CONF
    assert conf["spark.driver.extraJavaOptions"] == f"-Dlog4j.configurationFile=file:{log4j}"


def test_log_filter_denies_only_gc_accumulator_noise(tmp_path):
    """The engine's log4j config must DENY exactly the benign GC'd-accumulator
    DAGScheduler message ("(Unknown class)" = AccumulatorContext weak ref
    cleared after its execution finished) while real accumulator failures —
    which log the accumulator's class name — still reach stderr. The bench
    tail is recorded by the driver, so this is the difference between a
    clean tail and masking a real error."""
    script = tmp_path / "logprobe.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from twittercrawler_spark.session import get_spark\n"
        "spark = get_spark('logprobe', cores=2, extra_conf={'spark.sql.shuffle.partitions': '2'})\n"
        "lg = spark._jvm.org.apache.logging.log4j.LogManager.getLogger(\n"
        "    'org.apache.spark.scheduler.DAGScheduler')\n"
        "lg.error('Failed to update accumulator 9357 (Unknown class) for task 0')\n"
        "lg.error('Failed to update accumulator 12 (PythonAccumulatorV2) for task 3')\n"
        "bm = spark._jvm.org.apache.logging.log4j.LogManager.getLogger(\n"
        "    'org.apache.spark.storage.BlockManager')\n"
        "bm.warn('Block rdd_70_0 already exists on this machine; not re-adding it')\n"
        "bm.warn('Failed to replicate block rdd_70_0 to any peer')\n"
        "spark.stop()\n"
    )
    env = dict(os.environ)
    proc = subprocess.run(
        [sys.executable, str(script)], env=env,
        capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "Unknown class" not in proc.stderr
    assert "PythonAccumulatorV2" in proc.stderr
    # the sidecar/main cached-frame putBlock race WARN is denied...
    assert "already exists on this machine" not in proc.stderr
    # ...while other BlockManager trouble still reaches the recorded tail
    assert "Failed to replicate block" in proc.stderr
