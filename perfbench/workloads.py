"""Workload definitions, seeded input generation and the cached oracle.

Inputs and the simulator's expected answer depend only on (workload, seed,
scale). They are made once, before any timed or set-up section, and cached
under the benchmark's work directory, so neither generation nor the oracle
ever lands inside ``setup_s`` or a measured pass.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import pickle
import shutil
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq

from hubgen import generate_hub_corpus, link_shape
from twittercrawler_spark.frontier.simulator import CrawlConfig, simulate
from twittercrawler_spark.functions.urls import canonicalize_url
from twittercrawler_spark.sources.corpus import generate_corpus

# the cache key covers the generator and workload sources, so editing either
# regenerates the inputs and the oracle
_SOURCES = [os.path.join(os.path.dirname(os.path.abspath(__file__)), f)
            for f in ("workloads.py", "hubgen.py")]


def text_digest(text: str | None) -> bytes | None:
    return None if text is None else hashlib.blake2b(text.encode(), digest_size=16).digest()


def _wave_inputs(out: str, seed: int, scale: float) -> dict[str, str]:
    n_pages = int(1_500 * scale)
    paths = generate_corpus(
        out, n_pages=n_pages, n_hosts=2_000, n_seeds=10, links_per_page=4,
        words_per_page=1_000, seed=seed, n_files=16,
    )
    # every url is a seed; priority is written as DOUBLE (a DECIMAL literal
    # would make simulate() multiply Decimal by float)
    urls = pq.read_table(paths["pages"], columns=["url"]).column("url")
    pq.write_table(
        pa.table({"url": urls, "priority": pa.array([1.0] * len(urls), pa.float64())}),
        paths["seeds"],
    )
    return paths


def _hub_inputs(out: str, seed: int, scale: float) -> dict[str, str]:
    cfg = WORKLOADS["hub"].cfg
    return generate_hub_corpus(
        out, seed, n_pages=int(2_000 * scale), n_hosts=200,
        num_buckets=cfg.num_buckets, salt_sub_buckets=cfg.salt_sub_buckets,
    )


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    cfg: CrawlConfig
    make: Callable[[str, int, float], dict[str, str]]


WORKLOADS = {
    # one round fetches every seeded 7 KB page: the extract crossing and the
    # fetch_log write carry the work, the seen set is empty and links are few;
    # quota >= the largest host, so the single round is the whole corpus
    "wave": Workload(
        "wave",
        CrawlConfig(per_host_per_round=1_000_000, rounds=1, num_buckets=16),
        _wave_inputs,
    ),
    # one politeness-bound round over a duplicate-heavy link graph:
    # crawl-delay quotas and link expansion of ~28k link rows, most of them
    # cross-page duplicates into a hot set, with the hubs in one host_bucket
    "hub": Workload(
        "hub",
        CrawlConfig(per_host_per_round=40, rounds=1, num_buckets=16, round_seconds=100),
        _hub_inputs,
    ),
}


@dataclasses.dataclass
class Inputs:
    paths: dict[str, str]
    n_pages: int
    raw_urls: list[str]
    html_sample: list[bytes]
    # oracle: per round [(seq, url, host, status, text digest)], the round-0
    # frontier, and the frontier left after the last round
    # (url -> (priority, discovered_round))
    expect_rounds: list[list[tuple]]
    expect_frontier0: dict[str, float]
    expect_frontier: dict[str, tuple[float, int]]
    shape: dict[str, float]  # hubgen.link_shape of the corpus


def _delays(robots_path: str) -> dict[str, int]:
    t = pq.read_table(robots_path).to_pylist()
    out: dict[str, int] = {}
    for r in t:
        if r["crawl_delay"] is not None:
            out[r["host"]] = max(out.get(r["host"], 0), int(r["crawl_delay"]))
    return out


def _oracle(wl: Workload, paths: dict[str, str]):
    pages_t = pq.read_table(paths["pages"], columns=["url", "html"])
    pages = {
        canonicalize_url(u): h
        for u, h in zip(pages_t.column("url").to_pylist(), pages_t.column("html").to_pylist())
    }
    seeds = [
        (r["url"], r["priority"]) for r in pq.read_table(paths["seeds"]).to_pylist()
    ]
    robots = [
        (r["host"], r["disallow_prefix"]) for r in pq.read_table(paths["robots"]).to_pylist()
    ]
    delays = _delays(paths["robots"]) if wl.cfg.round_seconds > 0 else None
    sim = simulate(pages, seeds, robots, wl.cfg, delays=delays)
    rounds: list[list[tuple]] = [[] for _ in range(sim.rounds_run)]
    for r in sim.fetch_log:
        rounds[r["round"] - 1].append(
            (r["seq"], r["url"], r["host"], r["status"], text_digest(r["text"]))
        )
    frontier0: dict[str, float] = {}
    for u, p in seeds:
        cu = canonicalize_url(u)
        if cu is not None:
            frontier0[cu] = max(frontier0.get(cu, p), p)
    return rounds, frontier0, dict(sim.pending)


def load_inputs(work: str, wl: Workload, seed: int, scale: float) -> Inputs:
    """Generate (or reuse) the inputs and the oracle for (workload, seed, scale)."""
    h = hashlib.blake2b(digest_size=8)
    for src in _SOURCES:
        with open(src, "rb") as f:
            h.update(f.read())
    root = os.path.join(work, "inputs")
    key = f"{wl.name}-s{seed}-x{scale:g}-{h.hexdigest()}"
    d = os.path.join(root, key)
    done = os.path.join(d, "inputs.pkl")
    if os.path.exists(done):
        with open(done, "rb") as f:
            return pickle.load(f)
    # keep the cached input sets of one seed per workload: every run passes a
    # new seed
    for old in os.listdir(root) if os.path.isdir(root) else ():
        if old.startswith(f"{wl.name}-") and not old.startswith(f"{wl.name}-s{seed}-"):
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    paths = wl.make(os.path.join(d, "corpus"), seed, scale)
    rounds, frontier0, frontier = _oracle(wl, paths)
    pages_t = pq.read_table(paths["pages"], columns=["url", "html"])
    shape = link_shape(paths["pages"], wl.cfg.num_buckets, wl.cfg.salt_sub_buckets)
    inp = Inputs(
        paths=paths,
        n_pages=pages_t.num_rows,
        raw_urls=pages_t.column("url").to_pylist(),
        html_sample=pages_t.column("html").to_pylist()[:1_000],
        expect_rounds=rounds,
        expect_frontier0=frontier0,
        expect_frontier=frontier,
        shape=shape,
    )
    with open(done + ".tmp", "wb") as f:
        pickle.dump(inp, f)
    os.replace(done + ".tmp", done)
    return inp
