"""Tracing from outside the engine: spans around calls into each layer, Spark
task metrics folded per span, and process/host telemetry from /proc.

Spans are recorded by the benchmark's own code - around ``bootstrap`` and
``run_round``, and around ``Warehouse.write`` / ``write_rows`` / ``commit``
through a Warehouse subclass handed to the engine - tagged by thread (the
round's overlapped seen+sidecar work runs on its own driver thread). The
same wrapper stamps a ``perfbench.span`` local property on the main thread,
so the Spark event log attributes every job to the span that submitted it.
"""

from __future__ import annotations

import contextlib
import dataclasses
import glob
import json
import os
import statistics
import threading
import time

from twittercrawler_spark.sources.tables import Warehouse

SPAN_PROP = "perfbench.span"


@dataclasses.dataclass
class Span:
    name: str
    thread: str
    t0: float
    t1: float = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def _thread() -> str:
    return "main" if threading.current_thread() is threading.main_thread() else "side"


class Tracer:
    """In-memory span list; read after the traced pass ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, _thread(), time.perf_counter())
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            with self._lock:
                self.spans.append(s)

    def within(self, outer: Span) -> list[Span]:
        return [s for s in self.spans if s is not outer and outer.t0 <= s.t0 and s.t1 <= outer.t1]


def self_time(outer: Span, children: list[Span]) -> float:
    """``outer``'s duration minus the part covered by same-thread children."""
    covered, end = 0.0, outer.t0
    for s in sorted((c for c in children if c.thread == outer.thread), key=lambda c: c.t0):
        lo, hi = max(s.t0, end), min(s.t1, outer.t1)
        if hi > lo:
            covered += hi - lo
            end = hi
    return outer.dur - covered


class TracedWarehouse(Warehouse):
    """A Warehouse whose table writes and commits are spans. On the main
    thread of a round, jobs before the ``fetch_log`` write belong to the
    schedule, the write itself to fetch, everything up to the end of the
    ``frontier`` write to expand, and the rest to the round's tail."""

    # main-thread span tag during, and after, each round-path write
    _MAIN_TAGS = {"fetch_log": ("fetch", "expand"), "frontier": ("expand", "tail")}

    def __init__(self, root: str, tracer: Tracer, sc) -> None:
        super().__init__(root)
        self.tracer = tracer
        self.sc = sc

    def _tag(self, tag: str | None) -> None:
        self.sc.setLocalProperty(SPAN_PROP, tag)

    def write(self, name, df, rnd, row_group_bytes=None):
        # bootstrap writes round 0; only a round's main thread carries tags
        tags = self._MAIN_TAGS.get(name) if rnd > 0 and _thread() == "main" else None
        if tags:
            self._tag(tags[0])
        with self.tracer.span(f"write:{name}"):
            out = super().write(name, df, rnd, row_group_bytes)
        if tags:
            self._tag(tags[1])
        return out

    def write_rows(self, name, rnd, rows, schema):
        with self.tracer.span(f"write_rows:{name}"):
            return super().write_rows(name, rnd, rows, schema)

    def commit(self, rnd, metrics=None):
        with self.tracer.span("commit"):
            return super().commit(rnd, metrics)


# -- Spark event log ----------------------------------------------------------

_TASK_FIELDS = ("jobs", "tasks", "task_s", "gc_s", "shuffle_write_mb", "spill_mb", "task_skew")


def fold_event_log(log_dir: str, spans: tuple[str, ...], n_passes: int) -> dict[str, float]:
    """Per-span Spark task metrics, per traced pass: job and task counts,
    executor run time, JVM GC time, shuffle bytes written, memory+disk spill,
    and task skew (max / median task run time). Jobs are attributed by the
    ``perfbench.span`` property their submitting thread carried."""
    stage_tag: dict[int, str] = {}
    jobs: dict[str, int] = {s: 0 for s in spans}
    tasks: dict[str, list[tuple[float, float, float, float]]] = {s: [] for s in spans}
    # Spark 4 writes each application's log as a directory of rolled files
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get(SPAN_PROP)
                    if tag in jobs:
                        jobs[tag] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_tag.setdefault(sid, tag)
                elif kind == "SparkListenerTaskEnd":
                    tag = stage_tag.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if tag is None or not m:
                        continue
                    sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    spill = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    tasks[tag].append(
                        (m.get("Executor Run Time", 0) / 1e3, m.get("JVM GC Time", 0) / 1e3, sw, spill)
                    )
    out: dict[str, float] = {}
    n = max(n_passes, 1)
    for s in spans:
        ts = tasks[s]
        run = [t[0] for t in ts]
        vals = {
            "jobs": jobs[s] / n,
            "tasks": len(ts) / n,
            "task_s": sum(run) / n,
            "gc_s": sum(t[1] for t in ts) / n,
            "shuffle_write_mb": sum(t[2] for t in ts) / 1e6 / n,
            "spill_mb": sum(t[3] for t in ts) / 1e6 / n,
            "task_skew": max(run) / statistics.median(run) if run and statistics.median(run) > 0 else 0.0,
        }
        for k in _TASK_FIELDS:
            out[f"spark.{s}.{k}"] = vals[k]
    return out


# -- /proc telemetry ----------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process, the driver JVM (its direct child)
    and every Python worker, sampled from /proc while active. The live JVM
    is invisible to getrusage(RUSAGE_CHILDREN), hence the sampling. Other
    descendants are left out: the JVM forks short-lived helpers (Hadoop's
    local-filesystem shell calls) whose pre-exec RSS is the JVM's own. The
    process tree is re-listed once a second, the RSS read every 0.2 s."""

    INTERVAL_S = 0.2
    RELIST_EVERY = 5

    def __init__(self) -> None:
        self.peak = 0
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self, relist: bool) -> None:
        if relist:
            me = os.getpid()
            kids = _children_map()
            self._pids = sorted({me, *kids.get(me, [])} | {
                p for p in descendants(me) if _comm(p).startswith("python")
            })
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in self._pids))

    def _run(self) -> None:
        n = 0
        while not self._stop.wait(self.INTERVAL_S):
            n += 1
            self._sample(n % self.RELIST_EVERY == 0)

    def __enter__(self) -> "RssSampler":
        self._sample(True)
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()
        self._sample(True)


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_noise(t0: list[int], t1: list[int]) -> dict[str, float]:
    """steal% and sys% of all CPU ticks between two /proc/stat samples."""
    d = [b - a for a, b in zip(t0, t1)]
    tot = max(sum(d), 1)
    # fields: user nice system idle iowait irq softirq steal
    return {"host.steal_pct": 100.0 * d[7] / tot, "host.sys_pct": 100.0 * d[2] / tot}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
