"""Per-pass oracle check and per-layer metrics, read from a pass's committed
warehouse, the spans recorded around it, and driver-side unit costs.

Everything here runs after a pass's timing ends.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import spans
from workloads import Inputs, text_digest

from twittercrawler_spark.frontier.seen import NumpyBloom
from twittercrawler_spark.functions.text import extract_text
from twittercrawler_spark.functions.udfs import udf_extract_text_canon_links
from twittercrawler_spark.functions.urls import (
    canonicalize_url,
    host_bucket_of,
    host_of,
    pd_canonicalize,
    url_hash64,
)
from twittercrawler_spark.sources.tables import Warehouse

_ROUND_PARTS = ("schedule_s", "fetch_write_s", "expand_plan_s", "expand_write_s", "tail_s",
                "seen_thread_s", "main_span_share")
_TABLES = ("pages_canon", "fetch_log", "frontier", "seen", "seen_bloom")
_SPARK_SPANS = ("bootstrap", "schedule", "fetch", "expand")

LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_workers_s": "s",
    "session.jit_warmup_s": "s",
    "crawl.bootstrap.canon_write_s": "s",
    "crawl.bootstrap.rest_s": "s",
    **{f"crawl.round.{p}": "1" if p == "main_span_share" else "s" for p in _ROUND_PARTS},
    **{f"tables.{t}.write_mb": "MB" for t in _TABLES},
    "tables.fetch_log.write_mb_per_s": "MB/s",
    "tables.commit_s": "s",
    "functions.canonicalize_us_per_url": "us",
    "functions.extract_us_per_page": "us",
    "functions.extract_links_us_per_page": "us",
    "seen.bloom_add_ns_per_key": "ns",
    "seen.bloom_probe_ns_per_key": "ns",
    "seen.maybe_ratio": "1",
    "seen.fp_ratio": "1",
    "seen.rows": "count",
    "seen.sidecar_mb": "MB",
    "scheduler.candidates": "count",
    "scheduler.selected": "count",
    "scheduler.select_ratio": "1",
    "scheduler.bucket_skew": "1",
    "expand.link_rows": "count",
    "expand.distinct_links": "count",
    "expand.dup_ratio": "1",
    "expand.new_links": "count",
    "expand.useful_ratio": "1",
    "expand.bucket_skew": "1",
    **{
        f"spark.{s}.{k}": u
        for s in _SPARK_SPANS
        for k, u in (
            ("jobs", "count"), ("tasks", "count"), ("task_s", "s"), ("gc_s", "s"),
            ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "1"),
        )
    },
    "trace.overhead_s": "s",
    "failed_ratio": "1",
    "host.steal_pct": "%",
    "host.sys_pct": "%",
}


def _read(wh_dir: str, table: str, rnd: int, cols: list[str]):
    return pq.read_table(os.path.join(wh_dir, table, f"round={rnd}"), columns=cols)


def _frontier(wh_dir: str, rnd: int) -> dict[str, tuple[float, int]] | None:
    """url -> (priority, discovered_round) of a committed frontier; None if a
    url appears twice."""
    f = _read(wh_dir, "frontier", rnd, ["url", "priority", "discovered_round"]).to_pydict()
    out = {u: (p, d) for u, p, d in zip(f["url"], f["priority"], f["discovered_round"])}
    return out if len(out) == len(f["url"]) else None


def check_against_oracle(
    wh_dir: str, inp: Inputs, rounds: list[int], complete: bool
) -> list[str]:
    """One message per operation whose committed output disagrees with the
    simulator: bootstrap (round-0 frontier and page count), per round the
    (seq, url, host, status) order, the text bytes per url and the seen
    rows, and the frontier the last round committed - the output of link
    expansion and dedup. ``complete`` means no operation raised, so the
    engine must also have stopped exactly where the simulator did."""
    bad: list[str] = []
    if 0 in Warehouse(wh_dir).committed_rounds():
        f0 = _read(wh_dir, "frontier", 0, ["url", "priority"]).to_pydict()
        if dict(zip(f0["url"], f0["priority"])) != inp.expect_frontier0:
            bad.append("bootstrap: round-0 frontier differs from the canonical seeds")
        elif _read(wh_dir, "pages_canon", 0, ["url"]).num_rows != inp.n_pages:
            bad.append("bootstrap: pages_canon row count differs from the corpus")
    for r in rounds:
        if r > len(inp.expect_rounds):
            bad.append(f"round {r}: the simulator stopped after {len(inp.expect_rounds)} rounds")
            continue
        t = _read(wh_dir, "fetch_log", r, ["seq", "url", "host", "status", "text"]).to_pydict()
        got = sorted(
            (s, u, h, st, text_digest(x))
            for s, u, h, st, x in zip(t["seq"], t["url"], t["host"], t["status"], t["text"])
        )
        want = inp.expect_rounds[r - 1]
        seen = set(_read(wh_dir, "seen", r, ["url"]).column("url").to_pylist())
        if got != want:
            bad.append(f"round {r}: fetch order or text bytes differ from the simulator")
        elif seen != {row[1] for row in want}:
            bad.append(f"round {r}: seen rows differ from the simulator's fetched urls")
        elif r == len(inp.expect_rounds) and _frontier(wh_dir, r) != inp.expect_frontier:
            bad.append(f"round {r}: committed frontier differs from the simulator's pending set")
    last = rounds[-1] if rounds else 0
    if complete and last < len(inp.expect_rounds):
        bad.append(f"round {last + 1}: the engine stopped before the simulator did")
    return bad


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _skew(counts) -> float:
    counts = [c for c in counts if c > 0]
    return max(counts) / statistics.median(counts) if counts else 0.0


def _bucket(url: str, cfg) -> int:
    return host_bucket_of(host_of(url), url_hash64(url), cfg.num_buckets, cfg.salt_sub_buckets)


def _timed_ns(fn, n: int, reps: int = 5) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts) / max(n, 1) * 1e9


def _bloom_probe(wh_dir: str, rnd: int, links: set[str], prior: np.ndarray, cfg):
    """Replay the seen prefilter the round after ``rnd`` runs: probe round
    ``rnd``'s distinct links against the Bloom sidecar round ``rnd``
    committed, per host_bucket. ``prior`` holds the url_hash values seen up
    to and including the round. Returns (probes, "maybe" answers, false
    positives, links not in ``prior``)."""
    side = _read(wh_dir, "seen_bloom", rnd, ["host_bucket", "m_bits", "k", "bits"]).to_pylist()
    blooms = {s["host_bucket"]: NumpyBloom.from_bytes(s["m_bits"], s["k"], s["bits"]) for s in side}
    by_bucket: dict[int, list[int]] = {}
    for u in links:
        by_bucket.setdefault(_bucket(u, cfg), []).append(url_hash64(u))
    maybes = fps = misses = 0
    for b, hs in by_bucket.items():
        keys = np.array(hs, dtype=np.int64)
        bloom = blooms.get(b)
        flags = bloom.maybe_contains(keys) if bloom else np.zeros(len(keys), dtype=bool)
        member = np.isin(keys, prior)
        maybes += int(flags.sum())
        fps += int((flags & ~member).sum())
        misses += int((~member).sum())
    return len(links), maybes, fps, misses


def pass_layers(ps, tr: spans.Tracer, wl) -> dict:
    """Layer values of one traced pass. Round parts are lists (one entry per
    round); everything else is one number per pass."""
    cfg, wh_dir = wl.cfg, ps.wh_dir
    wh = Warehouse(wh_dir)
    out: dict = {f"crawl.round.{p}": [] for p in _ROUND_PARTS}

    boot = next(s for s in tr.spans if s.name == "bootstrap")
    kids = tr.within(boot)
    out["crawl.bootstrap.canon_write_s"] = sum(s.dur for s in kids if s.name == "write:pages_canon")
    out["crawl.bootstrap.rest_s"] = spans.self_time(boot, kids)
    fetch_total = 0.0
    for rs in (s for s in tr.spans if s.name.startswith("round:")):
        kids = tr.within(rs)
        main = {s.name: s for s in kids if s.thread == "main"}
        f, e = main.get("write:fetch_log"), main.get("write:frontier")
        if f is None or e is None:
            continue
        # main thread: schedule | fetch_log write | expansion plan-building
        # on the driver | frontier write | tail. main_span_share is the part
        # of the round that the four parts other than expand_plan cover.
        parts = {
            "schedule_s": f.t0 - rs.t0,
            "fetch_write_s": f.dur,
            "expand_plan_s": e.t0 - f.t1,
            "expand_write_s": e.dur,
            "tail_s": rs.t1 - e.t1,
            "seen_thread_s": sum(
                s.dur for s in kids
                if s.thread == "side" and s.name in ("write:seen", "write:seen_bloom")
            ),
        }
        parts["main_span_share"] = (
            parts["schedule_s"] + f.dur + e.dur + parts["tail_s"]
        ) / rs.dur
        for k, v in parts.items():
            out[f"crawl.round.{k}"].append(v)
        fetch_total += f.dur

    for t in _TABLES:
        out[f"tables.{t}.write_mb"] = spans.dir_bytes(os.path.join(wh_dir, t)) / 1e6
    out["tables.fetch_log.write_mb_per_s"] = (
        out["tables.fetch_log.write_mb"] / fetch_total if fetch_total else 0.0
    )
    out["tables.commit_s"] = sum(s.dur for s in tr.spans if s.name == "commit")

    rounds = ps.rounds
    cand, sel, sel_bucket = 0, 0, {}
    link_rows, distinct, new_links, link_bucket = 0, 0, 0, {}
    seen_hashes: list[int] = []
    bloom_counts = [0, 0, 0, 0]  # probes, maybes, false positives, misses
    for r in rounds:
        for row in wh.read_rows("metrics", r) or []:
            if row["stage"] == "candidates":
                cand += row["n"]
            elif row["stage"] == "selected":
                sel += row["n"]
                sel_bucket[row["host_bucket"]] = sel_bucket.get(row["host_bucket"], 0) + row["n"]
        new_links += int(wh.round_info(r)["metrics"].get("new_links", 0))
        fl = _read(wh_dir, "fetch_log", r, ["status", "links"]).to_pydict()
        round_links: set[str] = set()
        for st, links in zip(fl["status"], fl["links"]):
            if st == "ok" and links:
                link_rows += len(links)
                round_links.update(links)
                for u in links:
                    b = _bucket(u, cfg)
                    link_bucket[b] = link_bucket.get(b, 0) + 1
        distinct += len(round_links)
        seen_hashes += _read(wh_dir, "seen", r, ["url_hash"]).column("url_hash").to_pylist()
        probe = _bloom_probe(wh_dir, r, round_links, np.array(seen_hashes, dtype=np.int64), cfg)
        bloom_counts = [a + b for a, b in zip(bloom_counts, probe)]

    probes, maybes, fps, misses = bloom_counts
    out.update({
        "scheduler.candidates": cand,
        "scheduler.selected": sel,
        "scheduler.select_ratio": sel / cand if cand else 0.0,
        "scheduler.bucket_skew": _skew(sel_bucket.values()),
        "expand.link_rows": link_rows,
        "expand.distinct_links": distinct,
        "expand.dup_ratio": 1 - distinct / link_rows if link_rows else 0.0,
        "expand.new_links": new_links,
        "expand.useful_ratio": new_links / link_rows if link_rows else 0.0,
        "expand.bucket_skew": _skew(link_bucket.values()),
        "seen.maybe_ratio": maybes / probes if probes else 0.0,
        "seen.fp_ratio": fps / misses if misses else 0.0,
        "seen.rows": len(seen_hashes),
        "seen.sidecar_mb": (
            spans.dir_bytes(os.path.join(wh_dir, "seen_bloom", f"round={rounds[-1]}")) / 1e6
            if rounds else 0.0
        ),
    })
    keys = np.array(seen_hashes, dtype=np.int64)
    bloom = NumpyBloom.sized_for(len(keys))
    out["seen.bloom_add_ns_per_key"] = _timed_ns(lambda: bloom.add(keys), len(keys))
    out["seen.bloom_probe_ns_per_key"] = _timed_ns(lambda: bloom.maybe_contains(keys), len(keys))
    return out


def summarize(per_pass: list[dict], spark_metrics: dict[str, float]) -> dict[str, float]:
    """Medians across traced passes (round parts pooled over all rounds)."""
    out: dict[str, float] = {}
    for k in per_pass[0] if per_pass else ():
        vals = [p[k] for p in per_pass]
        out[k] = _median([v for vs in vals for v in vs] if isinstance(vals[0], list) else vals)
    out.update(spark_metrics)
    return out


def function_costs(inp: Inputs) -> dict[str, float]:
    """Driver-side unit costs of the layer functions on the workload's own
    urls and pages: canonicalize (bootstrap's crossing), extract_text, and
    the body of the fused fetch crossing (extract + canonicalize per href)."""
    urls = pd.Series(inp.raw_urls[:5_000])
    pages = inp.html_sample
    html = pd.Series(pages)
    bases = pd.Series([canonicalize_url(u) for u in inp.raw_urls[: len(pages)]])
    fused = udf_extract_text_canon_links.func  # the crossing's Python body

    return {
        "functions.canonicalize_us_per_url": _timed_ns(lambda: pd_canonicalize(urls), len(urls), 3) / 1e3,
        "functions.extract_us_per_page": _timed_ns(
            lambda: [extract_text(h) for h in pages], len(pages), 3) / 1e3,
        "functions.extract_links_us_per_page": _timed_ns(
            lambda: fused(html, bases), len(pages), 3) / 1e3,
    }
