"""Crawl-engine benchmark: warm, oracle-checked passes of one workload.

    python3 perfbench/run.py --workload wave|hub --seed N --seconds S --trace 0|1

Run from the repository root. The engine is driven only through its public
API (``session.get_spark`` / ``warm_python_workers``,
``frontier.crawl.bootstrap`` / ``run_round``, ``sources.tables.Warehouse``) at
``local[<cores>]`` from this one driver process.

A pass is a bootstrap into a fresh warehouse followed by the workload's
rounds. Set-up (session start, Python-worker warm-up, and one JIT warm-up
pass over a small corpus from the same seed) runs before any measured pass;
measured passes then repeat for ``--seconds`` (at least one) and the
end-to-end metrics are their medians. After the first pass, every second
pass starts from a copy of the first pass's committed round 0 instead of
bootstrapping. Every pass is checked, outside its timing, against
``frontier.simulator.simulate`` on the same inputs (fetch order, seen
membership, text bytes per url, and the frontier the last round leaves); an
operation - bootstrap or a round - that raises or disagrees with the oracle
is failed, and so is a run that reaches its deadline with fewer measured
passes than it needs (one; two when traced).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` traces the
bootstrapping passes, follows each with an untraced pass from round 0, and
prints the per-layer metrics: spans recorded here around the calls into each
layer, Spark task metrics from the session's event log folded per span, and
driver-side unit costs of the layer functions. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it carries the host telemetry, the wall time of each phase of the run
and per-pass detail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import layers  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS, Inputs, load_inputs  # noqa: E402

from twittercrawler_spark.frontier.crawl import bootstrap, run_round  # noqa: E402
from twittercrawler_spark.session import get_spark, warm_python_workers  # noqa: E402
from twittercrawler_spark.sources.tables import Warehouse  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"  # fits a 15 GB box shared with other work; carries both workloads
MIN_PASSES = 1
# the JIT warm-up pass runs on a corpus this fraction of the workload's size,
# made from the same seed: a fresh JVM's first pass costs mostly class
# loading and the first compilation of each plan shape, which a small input
# pays in full
WARM_SCALE = 0.2
DEADLINE_S = 165.0  # the whole run must end within 180 s
# an untraced pass during which the hypervisor stole more than this share of
# the CPU ticks is measured again, once, and left out of the medians when a
# pass under the limit exists: steal is the host's load, not the engine's
# (0.1-2.5% in quiet runs, 6-15% in bursts)
STEAL_LIMIT_PCT = 4.0

E2E_UNITS = {
    "setup_s": "s",
    "bootstrap_s": "s",
    "crawl_s": "s",
    "urls_per_s": "1/s",
    "round_s_p50": "s",
    "peak_rss_mb": "MB",
    "bytes_per_url": "B",
}


def _env(work: str) -> None:
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def _start(work: str, traced: bool):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf)


def _stop_all(spark) -> None:
    """Stop the session, the gateway JVM and every process under them, and
    wait for each to end."""
    from pyspark import SparkContext

    procs = spans.descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    t0 = time.time()
    while any(os.path.exists(f"/proc/{p}") for p in procs) and time.time() - t0 < 20:
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class Pass:
    """One bootstrap + rounds into a fresh warehouse, timed, then checked.

    With ``round0`` the pass starts from a copy of that committed round-0
    warehouse instead of bootstrapping; with ``save_round0`` it copies its
    own round 0 there before round 1. Both copies are untimed."""

    def __init__(self, spark, wl, inp: Inputs, wh_dir: str, tracer=None,
                 round0: str | None = None, save_round0: str | None = None):
        self.spark, self.wl, self.inp, self.wh_dir = spark, wl, inp, wh_dir
        self.tracer = tracer
        self.round0, self.save_round0 = round0, save_round0
        self.bootstrap_s: float | None = None
        self.rounds: list[int] = []
        self.round_s: list[float] = []
        self.fetched = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.bytes = 0
        self.layer: dict | None = None  # per-layer values of a traced pass
        self.wall_s = 0.0
        self.steal_pct = 0.0

    def _op(self, fn, span: str, tag: str):
        """Run one operation; returns (ok, result, seconds)."""
        self.attempted += 1
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                out = fn()
            else:
                sc.setLocalProperty(spans.SPAN_PROP, tag)
                with self.tracer.span(span):
                    out = fn()
            return True, out, time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.failed += 1
            self.errors.append(f"{span}: {e!r}"[:300])
            return False, None, time.perf_counter() - t0
        finally:
            if self.tracer is not None:
                sc.setLocalProperty(spans.SPAN_PROP, None)

    def run(self) -> "Pass":
        t0 = time.perf_counter()
        ticks0 = spans.cpu_ticks()
        cfg, p = self.wl.cfg, self.inp.paths
        shutil.rmtree(self.wh_dir, ignore_errors=True)
        if self.round0 is not None:
            shutil.copytree(self.round0, self.wh_dir)
        if self.tracer is None:
            wh = Warehouse(self.wh_dir)
        else:
            wh = spans.TracedWarehouse(self.wh_dir, self.tracer, self.spark.sparkContext)
        ok = True
        if self.round0 is None:
            ok, _, self.bootstrap_s = self._op(
                lambda: bootstrap(self.spark, wh, p["pages"], p["seeds"], p["robots"], cfg),
                "bootstrap", "bootstrap",
            )
        if ok and self.save_round0 is not None:
            shutil.copytree(self.wh_dir, self.save_round0)
        for rnd in range(1, cfg.rounds + 1) if ok else ():
            ok, more, sec = self._op(
                lambda: run_round(self.spark, wh, cfg, rnd), f"round:{rnd}", "schedule"
            )
            if ok and wh.round_info(rnd) is not None:
                self.rounds.append(rnd)
                self.round_s.append(sec)
                self.fetched += int(wh.round_info(rnd)["metrics"]["fetched"])
            if not ok or not more:
                break
        bad = layers.check_against_oracle(
            self.wh_dir, self.inp, self.rounds, complete=self.failed == 0
        )
        self.failed += len(bad)
        self.errors += bad
        self.bytes = spans.dir_bytes(self.wh_dir)
        self.wall_s = time.perf_counter() - t0
        self.steal_pct = spans.host_noise(ticks0, spans.cpu_ticks())["host.steal_pct"]
        return self

    @property
    def crawl_s(self) -> float:
        return sum(self.round_s)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def run_workload(
    name: str, seed: int, seconds: float, traced: bool, scale: float = 1.0,
    min_passes: int | None = None,
) -> dict:
    """Everything one invocation does; returns the result and its detail.
    ``min_passes`` overrides the least number of measured passes."""
    t_start = time.time()
    wl = WORKLOADS[name]
    work = WORK
    _env(work)
    # before, and outside, all timing
    inp = load_inputs(work, wl, seed, scale)
    warm_inp = load_inputs(work, wl, seed, scale * WARM_SCALE)
    phases = {"inputs": time.time() - t_start}
    wh_root = os.path.join(work, "wh")
    if traced:
        shutil.rmtree(os.path.join(work, "eventlog"), ignore_errors=True)
        os.makedirs(os.path.join(work, "eventlog"))

    t0 = time.perf_counter()
    spark = _start(work, traced)
    t1 = time.perf_counter()
    warm_python_workers(spark)
    t2 = time.perf_counter()
    warm = Pass(spark, wl, warm_inp, os.path.join(wh_root, "warm")).run()
    t3 = time.perf_counter()
    setup = {"session.start_s": t1 - t0, "session.warm_workers_s": t2 - t1,
             "session.jit_warmup_s": t3 - t2}
    phases.update(start=t1 - t0, warm_workers=t2 - t1, warm_pass=t3 - t2)
    # a traced run traces its bootstrapping passes and follows each with an
    # untraced pass from round 0, whose rounds trace.overhead_s is taken
    # against
    if min_passes is None:
        min_passes = MIN_PASSES + 1 if traced else MIN_PASSES
    round0 = os.path.join(wh_root, "round0")
    done: list[Pass] = []
    ticks0 = spans.cpu_ticks()
    with spans.RssSampler() as rss:
        m0 = time.perf_counter()
        while True:
            n = len(done)
            calm = [p for p in done if p.tracer is None and p.steal_pct <= STEAL_LIMIT_PCT]
            if (n >= min_passes and time.perf_counter() - m0 >= seconds
                    and (traced or calm or n > min_passes)):
                break
            longest = max(p.wall_s for p in done or [warm])
            if time.time() - t_start + 1.5 * longest > DEADLINE_S:
                break
            wh_dir = os.path.join(wh_root, f"p{n}")
            # the first pass bootstraps and keeps its round 0; after it,
            # passes alternate between starting from that round 0 and
            # bootstrapping, so the rounds get two samples for each bootstrap
            # one. A pass repeating one over the steal limit bootstraps. A
            # traced run traces the bootstrapping passes. Without a round 0
            # (the first bootstrap failed) every pass bootstraps.
            boot = n % 2 == 0 or not (traced or calm)
            if boot or not os.path.isdir(round0):
                tr = spans.Tracer() if traced and boot else None
                save = round0 if n == 0 else None
                ps = Pass(spark, wl, inp, wh_dir, tr, save_round0=save).run()
                if tr is not None:
                    ps.layer = layers.pass_layers(ps, tr, wl)
            else:
                ps = Pass(spark, wl, inp, wh_dir, round0=round0).run()
            done.append(ps)
            shutil.rmtree(wh_dir, ignore_errors=True)
    noise = spans.host_noise(ticks0, spans.cpu_ticks())
    t4 = time.perf_counter()
    _stop_all(spark)
    shutil.rmtree(wh_root, ignore_errors=True)
    phases.update(measured=t4 - t3, stop=time.perf_counter() - t4)

    everything = [warm] + done
    untraced = [p for p in done if p.tracer is None]
    measured = [p for p in untraced if p.steal_pct <= STEAL_LIMIT_PCT] or untraced
    traced_passes = [p for p in done if p.tracer is not None]
    attempted = sum(p.attempted for p in everything)
    failed = sum(p.failed for p in everything)
    # too few measured passes before the deadline is a failed run, not a
    # median over nothing
    short = min_passes - len(done)
    if short > 0:
        attempted += short
        failed += short
    e2e = {
        "setup_s": sum(setup.values()),
        "bootstrap_s": _median([p.bootstrap_s for p in measured if p.bootstrap_s is not None]),
        "crawl_s": _median([p.crawl_s for p in measured]),
        "urls_per_s": _median([p.fetched / p.crawl_s for p in measured if p.crawl_s > 0]),
        "round_s_p50": _median([s for p in measured for s in p.round_s]),
        "peak_rss_mb": rss.peak / 1e6,
        "bytes_per_url": _median([p.bytes / p.fetched for p in measured if p.fetched]),
    }
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "detail": {
            "workload": name, "seed": seed, "scale": scale,
            "cores": len(os.sched_getaffinity(0)),
            **{k: round(v, 3) for k, v in noise.items()},
            "phase_s": {k: round(v, 2) for k, v in phases.items()},
            "passes": [[p.bootstrap_s and round(p.bootstrap_s, 3),
                        [round(s, 3) for s in p.round_s], p.fetched, round(p.steal_pct, 2)]
                       for p in everything],
            "passes_over_steal_limit": sum(p.steal_pct > STEAL_LIMIT_PCT for p in untraced),
            "errors": ([f"deadline: {len(untraced)} untraced, {len(traced_passes)} traced passes"]
                       if short > 0 else []) + [e for p in everything for e in p.errors][:10],
            "shape": inp.shape,
        },
        "passes": everything,
    }
    if traced:
        lay = layers.summarize(
            [p.layer for p in traced_passes],
            spans.fold_event_log(
                os.path.join(work, "eventlog"),
                ("bootstrap", "schedule", "fetch", "expand"),
                len(traced_passes),
            ),
        )
        lay.update(setup)
        lay.update(layers.function_costs(inp))
        lay.update(noise)
        lay["trace.overhead_s"] = (
            statistics.mean(p.crawl_s for p in traced_passes)
            - statistics.mean(p.crawl_s for p in measured)
        ) if traced_passes and measured else 0.0
        lay["failed_ratio"] = failed / max(attempted, 1)
        out["layers"] = lay
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="crawl-engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    res = run_workload(a.workload, a.seed, a.seconds, bool(a.trace))
    if a.trace:
        metrics = {k: {"value": v, "unit": layers.LAYER_UNITS[k]} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in res["e2e"].items()}
    print(json.dumps({"detail": res["detail"]}))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
