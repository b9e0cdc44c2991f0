"""Scaling-efficiency evidence: the SAME crawl round at several core counts.

The north rule requires ≥0.8 throughput scaling efficiency from N to 4N
executors, evidenced in this sandbox (BASELINE.md) by running the identical
job at `local[8]` (N) and `local[32]` (4N). This tool measures BOTH that
spec'd step and a `local[2]`→`local[8]` step, and reports the two honestly:

* **8→32 (the spec'd step)** is reported as-is. Note the box advertises 32
  vCPUs but they are shared/SMT: its own measured hardware curve (pure
  multiprocessing regex work, NO Spark) is only 0.77 efficient for 8→32
  processes — the bar is above the machine's ceiling for ANY job at that
  step, so the result is labeled met/unmet together with that ceiling.
* **2→8 (hardware proxy)** stays inside the box's real parallel capacity at
  both levels (hardware curve 0.84 for 2→8), so it is the honest stand-in
  for "adding executors adds real cores".

Methodology: deterministic corpus (seed=42), frontier seeded with every URL
so round 1 is a full fetch wave; warehouse bootstrapped once (unmetered) and
copied per trial; Python workers warmed before metering; each Spark-touching
step runs in its own subprocess launched via real `spark-submit --py-files
dist/twittercrawler_spark.zip --master local[<level>]` — the north rule's
launch mechanism at the level's own cluster size (one SparkContext per OS
process — the multi-context accumulator-channel flake is structurally
excluded and a crashed trial can't poison the run; plain-python fallback
via --no-submit); trials alternate across levels
(noisy-neighbor drift hits all levels equally) and each level takes its
minimum. An isolated scan→extract
measurement separates the compute path from the fixed per-round floor.

Writes BENCH/BASELINE.md and prints a JSON summary.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LEVELS = [2, 8, 32]
CYCLES = 3

# Host-regime gate (the 2026-08-21 addendum discipline, now enforced in
# code): a run is only admissible as 8→32 scaling EVIDENCE if the box's own
# pure-multiprocessing 8→32 ceiling — no Spark, no JVM, the same regex-work
# probe every run measures — clears this bar in the same window. Retained
# runs measured 0.773/0.808; the two rejected re-runs measured 0.581 with
# 45–62% steal+sys around the local[32] trials. A box that cannot scale
# plain multiprocessing past 8 workers cannot evidence ANY job's 8→32 step
# that day. The ceiling is probed BEFORE and AFTER the metered trials and
# the gate uses the worse of the two; a rejected run's report is written to
# BENCH/BASELINE.rejected.md (never over the retained evidence) and the
# JSON summary carries host_regime.status = "rejected".
HOST_CEILING_REJECT = 0.70

# Second admissibility criterion: per-trial steal+sys%. The ceiling probes
# bracket the run, but a resumed run can reuse trials metered in an earlier
# (worse) window, and a multi-hour run can cross regimes between probes —
# so the trials themselves must also testify. If the BEST (lowest-noise)
# trial at any level still carried more than this much steal+sys, no trial
# at that level saw an admissible window and the run is rejected.
TRIAL_NOISE_REJECT_PCT = 35.0


def _session(cores: int):
    """The level's session: its master comes from the launch (spark-submit's
    ``--master local[<cores>]``, or ``$SPARK_GRAFT_CPUS`` under
    --no-submit), so ``cores`` here only sizes the shuffle."""
    import bench
    from twittercrawler_spark.session import get_spark

    conf = dict(bench.BENCH_CONF)
    conf["spark.ui.showConsoleProgress"] = "false"
    conf["spark.sql.shuffle.partitions"] = str(cores)
    return get_spark(f"scaling_{cores}", extra_conf=conf)


def measure_extract_stage(corpus: str, cores: int, trials: int = 3) -> float:
    """Best wall time of the metered pipeline's COMPUTE path in isolation:
    scan → the fetch stage's crossing (udf_extract_text_canon_links: text +
    canonical out-links) → aggregate. Fresh plan per trial (defeats
    shuffle reuse). This isolates the fetch+dedup+extract compute from the
    fixed per-round floor and the shared-disk write wall."""
    from pyspark.sql import functions as F

    from twittercrawler_spark.functions.udfs import udf_extract_text_canon_links
    from twittercrawler_spark.session import page_row_scan

    spark = _session(cores)
    best = float("inf")
    # page_row_scan: this reads the RAW corpus (~28 KB rows, not our 16 MB
    # row groups), so the reader batch must be bounded here exactly as in
    # bootstrap — at 32 concurrent tasks the 4096-row default feeds ~115 MB
    # batches per task and kills the Python workers
    with page_row_scan(spark):
        for i in range(trials):
            pages = spark.read.parquet(f"{corpus}/pages.parquet")
            t0 = time.time()
            (
                pages.withColumn("_ex", udf_extract_text_canon_links("html", "url"))
                .select((F.length("_ex.text") + i).alias("L"))
                .agg(F.sum("L"))
                .collect()
            )
            best = min(best, time.time() - t0)
    spark.stop()
    return best


def measure_host_ceiling(workers: int, n_chunks: int = 256) -> float:
    """Pure-multiprocessing throughput (chunks/s) for regex work — NO Spark,
    no JVM: the box's own parallel capacity at this worker count, measured
    in the SAME run as the Spark numbers so the per-stage decomposition
    compares against a fresh ceiling, not a quoted one."""
    import multiprocessing as mp

    text = ("lorem ipsum dolor sit amet " * 2000) + "http://x.com/a?b=1 "
    with mp.Pool(workers) as pool:
        pool.map(_host_chunk, [text] * workers)  # warm
        t0 = time.time()
        pool.map(_host_chunk, [text] * n_chunks)
        dt = time.time() - t0
    return n_chunks / dt


def _host_chunk(text: str) -> int:
    import re

    n = 0
    for _ in range(20):
        n += len(re.findall(r"[a-z]+://[^\s]+|[a-z]{4,}", text))
    return n


def capture_stage_timings(cores: int, wh_base: str, cfg, trials: int = 2) -> dict:
    """Per-stage wall clock of the metered round, read from the stage laps
    its commit records (manifest ``stages``), min per stage across trials."""
    from twittercrawler_spark.frontier.crawl import run_round
    from twittercrawler_spark.sources.tables import Warehouse

    stages: dict[str, float] = {}
    spark = _session(cores)
    for _ in range(trials):
        trial = tempfile.mkdtemp(prefix=f"scale_stage_{cores}_")
        shutil.rmtree(trial)
        shutil.copytree(wh_base, trial)
        wh = Warehouse(trial)
        run_round(spark, wh, cfg, 1)
        for st, sec in wh.round_info(1)["metrics"]["stages"].items():
            stages[st] = min(stages.get(st, float("inf")), sec)
        shutil.rmtree(trial, ignore_errors=True)
        # both timing trials share ONE JVM (unlike the one-round-per-
        # process metered trials): nudge the driver GC so trial 1's
        # weak-ref-cleaned state (localCheckpoint blocks, broadcasts)
        # is actually freed before trial 2's page-row scans allocate —
        # observed OOM at local[32] on the 600k corpus without this
        spark._jvm.System.gc()
    spark.stop()
    return stages


def _cfg():
    import bench
    from twittercrawler_spark.frontier.simulator import CrawlConfig

    return CrawlConfig(per_host_per_round=bench.CRAWL_QUOTA, rounds=1, num_buckets=64)


def _write_json(path: str, obj: dict) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def _step_bootstrap(wh_base: str, corpus: str, out: str) -> None:
    from twittercrawler_spark.frontier.crawl import bootstrap
    from twittercrawler_spark.sources.tables import Warehouse

    shutil.rmtree(wh_base, ignore_errors=True)  # a crashed bootstrap's partial state
    spark = _session(8)
    wh = Warehouse(wh_base)
    t0 = time.time()
    bootstrap(
        spark,
        wh,
        f"{corpus}/pages.parquet",
        f"{corpus}/seeds_all.parquet",
        f"{corpus}/robots.parquet",
        _cfg(),
    )
    _write_json(out, {"bootstrap_sec": time.time() - t0,
                      "stages": wh.round_info(0)["metrics"]["stages"]})
    spark.stop()


def _step_trial(cores: int, wh_base: str, out: str) -> None:
    import bench
    from twittercrawler_spark.frontier.crawl import run_round
    from twittercrawler_spark.session import warm_python_workers
    from twittercrawler_spark.sources.tables import Warehouse

    spark = _session(cores)
    # fork the Python worker pool (one worker per slot) before metering
    warm_python_workers(spark)
    trial = tempfile.mkdtemp(prefix=f"scale_wh_{cores}_")
    shutil.rmtree(trial)
    shutil.copytree(wh_base, trial)
    wh = Warehouse(trial)
    t0 = time.time()
    with bench.HostNoise() as hn:
        run_round(spark, wh, _cfg(), 1)
    dt = time.time() - t0
    fetched = int(wh.round_info(1)["metrics"]["fetched"])
    shutil.rmtree(trial, ignore_errors=True)
    _write_json(out, {"sec": dt, "fetched": fetched, "noise": hn.steal_pct + hn.sys_pct})
    spark.stop()


_STEPS = {
    "bootstrap": lambda a: _step_bootstrap(a["wh"], a["corpus"], a["out"]),
    "trial": lambda a: _step_trial(int(a["cores"]), a["wh"], a["out"]),
    "stages": lambda a: _write_json(
        a["out"], capture_stage_timings(int(a["cores"]), a["wh"], _cfg())
    ),
    "extract": lambda a: _write_json(
        a["out"], {"sec": measure_extract_stage(a["corpus"], int(a["cores"]))}
    ),
}


def main() -> None:
    argv = sys.argv[1:]
    if "--step" in argv:
        # child mode: one step, ONE SparkContext, in a process of its own
        args = {argv[i].lstrip("-"): argv[i + 1] for i in range(0, len(argv), 2)}
        _STEPS[args["step"]](args)
        return

    import shutil as _sh
    import subprocess

    import bench
    from twittercrawler_spark.frontier.crawl import OVERLAPPED_STAGE

    corpus = bench.ensure_bench_corpus(bench.SCALE_PAGES, bench.SCALE_WORDS)

    # Launch every Spark-touching child through REAL `spark-submit
    # --py-files dist/twittercrawler_spark.zip --master local[<level>]` —
    # the north rule's launch mechanism, at the level's own "cluster size"
    # — unless spark-submit is missing or --no-submit is given (plain
    # python fallback, same session confs). JVM-launch-time settings
    # (driver memory, -Xms pre-touch, the engine log4j config) must ride
    # the submit command line: under spark-submit the driver JVM exists
    # before the builder runs, so builder-time copies of them are inert.
    # (Import isolation from the zip alone is pinned by tests/test_submit.py;
    # here the repo stays importable for the bench harness itself.)
    spark_submit = None if "--no-submit" in argv else _sh.which("spark-submit")
    pyfiles_zip = None
    if spark_submit:
        from make_pyfiles import build as _build_zip

        pyfiles_zip = _build_zip()
    # deterministic scratch: a crashed/killed run resumes from its completed
    # steps instead of re-paying bootstrap + every earlier metered trial
    # (delete the dir for a fully fresh measurement)
    scratch = os.path.join(tempfile.gettempdir(), "scale_steps_v2")
    os.makedirs(scratch, exist_ok=True)
    wh_base = os.path.join(scratch, "wh_base")

    # Every Spark-touching step runs in its OWN subprocess: one SparkContext
    # per OS process. The default multi-context-per-process pattern left the
    # pyspark accumulator channel (a single-threaded socket server whose
    # handler dies permanently on one failed handshake) flooding long runs
    # with DAGScheduler Broken-pipe stack traces; process isolation makes
    # that structurally impossible and any one trial's crash non-fatal.
    def run_step(step: str, key: str, **kw) -> dict:
        out = os.path.join(scratch, f"{key}.json")
        if not os.path.exists(out):
            step_args = ["--step", step, "--out", out + ".tmp"]
            for k, v in kw.items():
                step_args += [f"--{k}", str(v)]
            cores = int(kw.get("cores", 8))  # bootstrap pins local[8]
            env = None
            if spark_submit:
                mem = bench.DRIVER_MEM
                from twittercrawler_spark.session import _LOG4J_CONF

                java_opts = (
                    f"-Dlog4j.configurationFile=file:{_LOG4J_CONF} "
                    f"-Xms{mem} -XX:+AlwaysPreTouch"
                )
                cmd = [
                    spark_submit,
                    "--master", f"local[{cores}]",
                    "--py-files", pyfiles_zip,
                    "--conf", f"spark.driver.memory={mem}",
                    "--conf", f"spark.driver.extraJavaOptions={java_opts}",
                    # run from the repo root, the daemon module imports where
                    # the daemon starts: keep the engine daemon, which
                    # get_spark leaves out under --py-files
                    "--conf", "spark.python.daemon.module=twittercrawler_spark.worker_daemon",
                    os.path.abspath(__file__), *step_args,
                ]
            else:
                cmd = [sys.executable, os.path.abspath(__file__), *step_args]
                env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
            subprocess.run(cmd, check=True, env=env)
            os.replace(out + ".tmp", out)
        with open(out) as f:
            return json.load(f)

    # host-regime probe #1: the box's own 8→32 ceiling entering the run
    host_8_pre = measure_host_ceiling(8)
    host_32_pre = measure_host_ceiling(32)
    host_eff_pre = (host_32_pre / host_8_pre) / 4

    if os.path.exists(os.path.join(scratch, "bootstrap.json")) and not os.path.isdir(
        wh_base
    ):
        os.unlink(os.path.join(scratch, "bootstrap.json"))  # stale marker
    boot = run_step("bootstrap", "bootstrap", wh=wh_base, corpus=corpus)
    t_bootstrap = boot["bootstrap_sec"]
    boot_stages = boot.get("stages", {})

    times: dict[int, list[float]] = {c: [] for c in LEVELS}
    noise: dict[int, list[float]] = {c: [] for c in LEVELS}
    fetched = None
    for cycle in range(CYCLES):
        for cores in LEVELS:
            r = run_step("trial", f"trial_{cores}_{cycle}", cores=cores, wh=wh_base)
            times[cores].append(r["sec"])
            noise[cores].append(r["noise"])
            assert fetched is None or fetched == r["fetched"], "nondeterministic round"
            fetched = r["fetched"]

    # per-stage decomposition of the spec'd 8→32 step (written to STAGES.md).
    # Supporting evidence, not the headline: a crashed stages child (e.g. an
    # OOM in a bad host window) degrades to an empty decomposition instead
    # of losing the whole run's metered trials.
    def _try_step(step: str, key: str, **kw) -> dict:
        try:
            return run_step(step, key, **kw)
        except subprocess.CalledProcessError as e:
            print(f"WARN: step {key} failed ({e}); continuing without it",
                  file=sys.stderr)
            return {}

    stages_8 = _try_step("stages", "stages_8", cores=8, wh=wh_base)
    stages_32 = _try_step("stages", "stages_32", cores=32, wh=wh_base)

    # compute-path isolation at both steps
    ex_2 = run_step("extract", "extract_2", cores=2, corpus=corpus)["sec"]
    ex_8 = run_step("extract", "extract_8", cores=8, corpus=corpus)["sec"]
    ex_32 = run_step("extract", "extract_32", cores=32, corpus=corpus)["sec"]
    # completed: clear the scratch so the NEXT run measures fresh instead of
    # replaying this run's cached steps
    shutil.rmtree(scratch, ignore_errors=True)
    ex_eff = (ex_2 / ex_8) / 4
    ex_eff_32 = (ex_8 / ex_32) / 4

    # host-regime probe #2: the box's own parallel capacity leaving the run;
    # the admissibility gate takes the WORSE of the two probes
    host_8 = measure_host_ceiling(8)
    host_32 = measure_host_ceiling(32)
    host_eff_32 = (host_32 / host_8) / 4
    host_eff_gate = min(host_eff_pre, host_eff_32)
    worst_level_noise = max(min(noise[c]) for c in LEVELS)
    regime_ok = (
        host_eff_gate >= HOST_CEILING_REJECT
        and worst_level_noise <= TRIAL_NOISE_REJECT_PCT
    )

    best = {c: min(times[c]) for c in LEVELS}
    thru = {c: fetched / best[c] for c in LEVELS}
    eff_spec = (thru[32] / thru[8]) / 4  # the BASELINE.md-spec'd step
    eff_proxy = (thru[8] / thru[2]) / 4  # the hardware-honest step
    summary = {
        "urls": fetched,
        "throughput": {str(c): round(thru[c], 1) for c in LEVELS},
        "round_secs": {str(c): [round(t, 2) for t in times[c]] for c in LEVELS},
        # steal%+sys% of total cpu ticks sampled around each metered trial:
        # publishes the host weather WITH the numbers (oversubscribed VM)
        "host_noise_pct": {str(c): [round(n, 1) for n in noise[c]] for c in LEVELS},
        "spec_step_8_to_32_efficiency": round(eff_spec, 3),
        "proxy_step_2_to_8_efficiency": round(eff_proxy, 3),
        "extract_stage_sec_2": round(ex_2, 2),
        "extract_stage_sec_8": round(ex_8, 2),
        "extract_stage_sec_32": round(ex_32, 2),
        "extract_stage_2_to_8_efficiency": round(ex_eff, 3),
        "extract_stage_8_to_32_efficiency": round(ex_eff_32, 3),
        "host_ceiling_8_to_32_efficiency": round(host_eff_32, 3),
        "host_regime": {
            "ceiling_pre": round(host_eff_pre, 3),
            "ceiling_post": round(host_eff_32, 3),
            "gate": round(host_eff_gate, 3),
            "threshold": HOST_CEILING_REJECT,
            "worst_level_best_trial_noise_pct": round(worst_level_noise, 1),
            "trial_noise_threshold_pct": TRIAL_NOISE_REJECT_PCT,
            "status": "ok" if regime_ok else "rejected",
        },
        "stages_8": {k: round(v, 2) for k, v in stages_8.items()},
        "stages_32": {k: round(v, 2) for k, v in stages_32.items()},
        "bootstrap_sec": round(t_bootstrap, 2),
    }

    # STAGES.md: the 8→32 decomposition against the same-run host ceiling
    overlapped = {OVERLAPPED_STAGE, "join_seen_sidecar"}
    stage_rows = []
    for st in stages_8:
        t8, t32 = stages_8[st], stages_32.get(st)
        if t32 is None:
            continue
        eff = (t8 / t32) / 4 if t32 > 0 else float("nan")
        stage_rows.append((st, t8, t32, eff))
    reject_banner = (
        ""
        if regime_ok
        else (
            "> **REJECTED AS 8→32 SCALING EVIDENCE** — the box's own\n"
            f"> pure-multiprocessing 8→32 ceiling measured {host_eff_gate:.3f}\n"
            f"> (pre {host_eff_pre:.3f} / post {host_eff_32:.3f}) against the\n"
            f"> admissibility threshold {HOST_CEILING_REJECT}, and/or the best\n"
            f"> trial at some level still carried {worst_level_noise:.1f}%\n"
            f"> steal+sys (limit {TRIAL_NOISE_REJECT_PCT}%). A box in that state\n"
            "> cannot evidence any job's 8→32 step in this window; re-run in a\n"
            "> calmer window. The retained evidence files were NOT overwritten.\n\n"
        )
    )
    stages_name = "STAGES.md" if regime_ok else "STAGES.rejected.md"
    with open(os.path.join(REPO, "BENCH", stages_name), "w") as f_out:
        f_out.write(reject_banner)
        f_out.write(
            "# Crawl round — per-stage 8→32 decomposition (same run as "
            "BENCH/BASELINE.md)\n\n"
            "Read from the round's committed manifest (`stages`: wall-clock laps "
            "between the round's materialization points) on the scaling corpus, "
            "min of 2 trials per level. Stages marked *(overlapped)* run on a "
            "concurrent driver thread DURING the fetch stage: their span is "
            "wall time INCLUDING queueing behind fetch for task slots, so it "
            "tracks the fetch stage's duration and does not add to the round "
            "wall clock (round total ≈ schedule + fetch + expand + metrics).\n\n"
            "| stage | local[8] s | local[32] s | 8→32 efficiency |\n|---|---|---|---|\n"
        )
        for st, t8, t32, eff in stage_rows:
            mark = " *(overlapped)*" if st in overlapped else ""
            f_out.write(f"| {st}{mark} | {t8:.2f} | {t32:.2f} | {eff:.3f} |\n")
        if boot_stages:
            f_out.write(
                f"""
## Bootstrap decomposition (one-time, unmetered; local[8], this run)

Total {t_bootstrap:.1f} s. The dominant stage is the full-corpus
canonicalize + host_bucket-clustering shuffle + zstd write — real
corpus-proportional work (scan + shuffle + compress ~all corpus bytes
once), the bootstrap floor by design. Round 5 removed the second
corpus-wide canonicalize-UDF pass: the url-collision probe now runs on
the WRITTEN table (JVM-only column-pruned scan) instead of re-deriving
canonical urls from raw (stage 9.1 → 1.7 s on the 250k bench corpus),
and only a corpus WITH collisions pays a recompute+rewrite.

| bootstrap stage | s |
|---|---|
"""
            )
            for st, sec in boot_stages.items():
                f_out.write(f"| {st} | {sec:.2f} |\n")
        f_out.write(
            f"""
## The 8→32 step against the box's own capacity, measured in this run

* Host pure-multiprocessing ceiling (no Spark, no JVM): {host_8:,.1f}
  chunks/s @8 → {host_32:,.1f} @32 ⇒ efficiency **{host_eff_32:.3f}**.
  (The box advertises 32 vCPUs but they are shared/SMT and the ceiling
  swings with neighbor load — 0.59–1.04 across this round's runs.)
* Isolated compute path (scan → fused extract UDF, no writes):
  {ex_8:.1f} s @8 → {ex_32:.1f} s @32 ⇒ **{ex_eff_32:.3f}**.

Round 3 removed the ENGINE-side cause of the previously *inverted* step:
the vectorized parquet reader and the parquet writer both buffer a
fixed ROW COUNT / byte budget sized for numeric columns (4096-row
batches, 128 MB row groups) — on ~28 KB html/text rows that is ~115 MB
of contiguous heap per in-flight scan task and >4 GB of writer churn at
32 tasks, so the 32-core levels died in GC that 8 tasks survived
(pre-fix: fetch+extract+write 67 s @8 → 101 s @32, efficiency 0.166).
With both bounds sized for page rows — and, since round 4, SCOPED to
page-row tables only (sources/tables.py row_group_bytes=16 MB on
pages_canon/fetch_log, session.page_row_scan() around bootstrap's raw
corpus read; the global round-3 defaults had regressed every numeric
scan 3× and were reverted) — the heavy stages now track the host
ceiling, and what remains above it is the fixed per-round floor
(scheduler windows, broadcast build, ~7 job launches) plus one shared
local disk for every warehouse write — both constant per round,
amortized at production round sizes, and the disk is per-executor on a
real cluster.
"""
        )

    import bench as b

    spec_met = "MET" if eff_spec >= 0.8 else "NOT met on this box"
    proxy_met = "MET" if eff_proxy >= 0.8 else "NOT met"
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    baseline_name = "BASELINE.md" if regime_ok else "BASELINE.rejected.md"
    with open(os.path.join(REPO, "BENCH", baseline_name), "w") as f_out:
        f_out.write(reject_banner)
        f_out.write(
            f"""# BENCH/BASELINE — crawl throughput scaling evidence

Host regime this run: pure-multiprocessing 8→32 ceiling
pre {host_eff_pre:.3f} / post {host_eff_32:.3f} (gate {host_eff_gate:.3f},
admissibility threshold {HOST_CEILING_REJECT} — {"ok" if regime_ok else "REJECTED"}).

Job: one politeness-budgeted frontier round (schedule → broadcast
fetch-join → extract(text + CANONICAL links, one fused Arrow pandas UDF —
link canonicalization rides the fetch stage, so expansion downstream is
pure JVM) → seen-set + Bloom-sidecar commit (overlapped thread) → link
expansion → frontier merge → lineage metrics) over a deterministic
synthetic corpus
({b.SCALE_PAGES:,} pages, {b.CRAWL_HOSTS:,} hosts with a 50%-hot-host skew,
~{b.SCALE_WORDS} words/page, {b.CRAWL_LINKS} links/page), frontier seeded with
EVERY url so round 1 is a full fetch wave. Same input, same seed, each
metered trial in a FRESH OS process launched via real `spark-submit
--py-files dist/twittercrawler_spark.zip --master local[<level>]` — the
north rule's launch mechanism at the level's own cluster size (one
SparkContext per process, fully warmed before metering) — alternating
across levels so noisy-neighbor drift hits all levels equally; best of
{CYCLES} per level.

| parallelism | urls fetched | round secs (trials) | best | throughput (urls/s) | host steal+sys % (trials) |
|---|---|---|---|---|---|
| local[2] | {fetched:,} | {summary["round_secs"]["2"]} | {best[2]:.2f} | {thru[2]:,.0f} | {summary["host_noise_pct"]["2"]} |
| local[8] (N) | {fetched:,} | {summary["round_secs"]["8"]} | {best[8]:.2f} | {thru[8]:,.0f} | {summary["host_noise_pct"]["8"]} |
| local[32] (4N) | {fetched:,} | {summary["round_secs"]["32"]} | {best[32]:.2f} | {thru[32]:,.0f} | {summary["host_noise_pct"]["32"]} |

(host steal+sys %: /proc/stat sampled around each metered trial — the
sandbox VM shares an oversubscribed hypervisor, and publishing the noise
level with every trial separates engine behavior from host weather.)

## The spec'd step (BASELINE.md): local[8] → local[32]

**Efficiency (thru_32 / thru_8) / 4 = {eff_spec:.3f} — {spec_met}**
(target ≥ 0.8).

Context, not excuse — the loss is measured and decomposed (BENCH/STAGES.md):
the box's own pure-multiprocessing 8→32 ceiling measured in THIS run is
**{host_eff_32:.3f}** (shared/SMT vCPUs; the ceiling swings 0.59–1.04 with
neighbor load across this round's runs), and the engine's isolated
scan→extract compute path gets **{ex_eff_32:.3f}**
({ex_8:.1f} s @8 → {ex_32:.1f} s @32). Round 3 closed the engine-side gap
that used to INVERT this step (32 cores slower than 8 in absolute time):
the parquet reader/writer batch buffers are sized for numeric rows and
OOM/GC-thrashed at 32 concurrent tasks on page-sized rows; with both
bounded — and since round 4 SCOPED to page-row tables (sources/tables.py row_group_bytes, session.page_row_scan on raw-corpus scans) — the heavy stages scale at the host ceiling — measured
0.86 isolated-extract efficiency when the ceiling allowed it. What keeps
the FULL round below the ceiling is the fixed per-round floor (scheduler
windows, broadcast build, ~7 job launches) plus one shared local disk for
every warehouse write — both constant per round, so they amortize at
production round sizes (10^7–10^9 urls/round), and the disk is
per-executor on the deployment the rule describes. The 2→8 step below
stays inside the box's real parallel capacity at both levels, so it
remains the hardware-honest proxy.

## Hardware-honest proxy step: local[2] → local[8]

**Full-round efficiency (thru_8 / thru_2) / 4 = {eff_proxy:.3f} — {proxy_met}**
(the box's pure-multiprocessing reference point for 2→8 is ≈ 0.84; an
IO+JVM-mixed job can land above that proxy, and both numbers carry the
sandbox's ~±10% trial noise).

Compute-path isolation (scan → fused extract UDF, fresh plan per trial):
{ex_2:.1f} s @ local[2] → {ex_8:.1f} s @ local[8] ⇒ efficiency {ex_eff:.3f}.

Engineering that moved the full-round number (rounds 2–3):

1. the seen-table write + Bloom-sidecar update run on a concurrent driver
   thread overlapped with the fetch stage (they depend only on the
   checkpointed schedule slice) — ~2 s of serialized floor removed;
2. parquet file commits use the task-parallel v2 algorithm (the warehouse
   manifest provides atomic visibility, so the driver-serial v1 rename
   pass bought nothing);
3. per-round lineage metrics are one fused job (candidates come from the
   previous round's lineage instead of rescanning the frontier);
4. (round 3) the vectorized parquet READER batch is bounded at 512 rows
   on page-row scans — the 4096-row default reserves ~115 MB contiguous
   heap per in-flight task on ~28 KB page rows, OOMing at 32 tasks what
   8 survive; measured isolated-extract 8→32 efficiency 0.47 → 0.86 from
   this alone;
5. (round 3) the parquet WRITER row-group buffer is bounded at 16 MB on
   page-row tables — 128 MB of uncompressed column data per writing task
   degraded every warehouse write stage at 32 tasks (fetch+extract+write
   0.166 → 0.563 8→32 stage efficiency, same-run ceiling 0.726), and
   multi-row-group files let later scans split below file granularity;
6. (round 4) both bounds are SCOPED to where page-sized rows live —
   16 MB row groups on the crawl warehouse's wide tables only
   (sources/tables.py row_group_bytes on pages_canon/fetch_log; a reader
   batch never spans a row group, so later scans of those tables
   self-bound), plus session.page_row_scan() around the one scan of
   page rows not written by us (bootstrap's raw corpus read) — applied
   globally in round 3 they regressed every numeric/analytics scan
   (headline bench 26.5 s → 81.6 s; pricing_summary 11×), which round 4
   reverted while keeping the crawl-path win;
7. (round 4) the fixed per-round serial floor was cut ~17% (bench corpus
   round 5.0 → 4.2 s at local[32]): the global-sequence offsets'
   broadcast build derives its per-host count table from the gated
   candidates (min(quota, count) — provably the selected count) instead
   of re-executing both top-k window shuffles; every warehouse read
   passes the schema pinned at write time (_schema.json sidecar) so the
   driver never re-infers from footers on the round path; the Bloom-probe
   cogroup is checkpointed before its definite/maybe split (one bitset
   crossing per round, not two); and the fetch hit path coalesces to one
   task per slot before the extract UDF (same treatment the link path
   already had);
8. (round 5) the scheduled-but-absent (miss) split is routed through the
   schedule — corpus urls ∩ schedule via a broadcast semi-join on the
   column-pruned url scan, then a broadcast anti-join against that
   schedule-bounded set. The direct left_anti had planned a sort-merge
   join shuffling EVERY corpus url (the round's biggest shuffle at
   production frontier sizes); measured fetch-stage lap 5.2 → 3.4 s and
   full round 8.3 → 6.1 s on the 250k bench corpus at local[32]. Also
   bootstrap's canonical-collision probe moved AFTER the pages_canon
   write (probing the written table is a JVM-only pruned scan), so the
   optimistic path pays one corpus-wide canonicalize-UDF pass, not two
   (probe stage 9.1 → 1.7 s).

Remaining gap to 1.0 is the fixed per-round floor (scheduler windows,
broadcast build, ~7 job launches) plus the sandbox's single shared local
disk for warehouse writes — both constant per round, so they amortize at
production round sizes (10^7–10^9 urls/round at the 10^10-frontier design
point), and on a real cluster writes go to distributed storage whose
bandwidth scales WITH executors.

Bootstrap (corpus URL canonicalization + host-bucket clustering, one-time
unmetered indexing): {t_bootstrap:.1f} s at local[8]. This number rides
the host weather like every other absolute time here (round 3 recorded
116 s and 699 s for the SAME code on different days); it is outside the
metered round and excluded from every efficiency figure.

Reference baseline for context (BASELINE.md): the reference crawler is
politeness-bound at ≤ 50 tweets/s on a single process; this engine's round
throughput above is the same fetch+dedup+extract pipeline, distributed,
with the html bytes never shuffled (the schedule broadcasts to the data).

The per-round BENCH corpus (bench.py's 250k-page corpus — the number the
driver records each round) has its own 3-level table, direct serial-floor
measurement, and decomposition in BENCH/BENCH_CORPUS.md.
"""
        )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
