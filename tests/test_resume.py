"""Checkpoint/resume: a run interrupted mid-crawl resumes to the identical
final state (SURVEY.md §5.3) — the stronger replacement for the reference's
saving_period flush (pages/Crawler.py:51-52,127-146)."""

import shutil

import pytest

from twittercrawler_spark.frontier.crawl import fetch_log, run_crawl, run_round
from twittercrawler_spark.frontier.simulator import CrawlConfig
from twittercrawler_spark.sources.tables import Warehouse

CFG = CrawlConfig(per_host_per_round=2, rounds=4, num_buckets=8)


def _final_state(spark, wh):
    log = [
        (r["round"], r["seq"], r["url"]) for r in fetch_log(spark, wh).collect()
    ]
    seen = sorted(r["url"] for r in wh.read(spark, "seen").collect())
    return log, seen


def test_resume_equals_uninterrupted(spark, corpus_dir, tmp_path):
    paths = [f"{corpus_dir}/{n}.parquet" for n in ("pages", "seeds", "robots")]

    # uninterrupted run
    wh_full = run_crawl(spark, str(tmp_path / "full"), *paths, CFG)
    full_state = _final_state(spark, wh_full)

    # interrupted: run only 2 of 4 rounds, then resume via run_crawl
    part_cfg = CrawlConfig(**{**CFG.__dict__, "rounds": 2})
    wh_dir = str(tmp_path / "resumed")
    run_crawl(spark, wh_dir, *paths, part_cfg)
    wh_resumed = run_crawl(spark, wh_dir, *paths, CFG)
    assert _final_state(spark, wh_resumed) == full_state


def test_uncommitted_round_is_invisible_and_rerun(spark, corpus_dir, tmp_path):
    """Simulate a crash after data write but before commit: orphan round dirs
    are invisible; re-running the round overwrites them and converges."""
    paths = [f"{corpus_dir}/{n}.parquet" for n in ("pages", "seeds", "robots")]
    wh_dir = str(tmp_path / "crashy")
    cfg2 = CrawlConfig(**{**CFG.__dict__, "rounds": 2})
    wh = run_crawl(spark, wh_dir, *paths, cfg2)
    assert wh.last_round() == 2

    # "crash" while writing round 3: data present, commit absent
    run_round(spark, wh, CFG, 3)
    manifest_rounds = wh.committed_rounds()
    wh_crashed = Warehouse(wh_dir)
    # roll back the manifest to simulate dying before commit(3)
    import json, os

    m = wh_crashed._load_manifest()
    m["rounds"] = [r for r in m["rounds"] if r["round"] <= 2]
    with open(wh_crashed._manifest_path, "w") as f:
        json.dump(m, f)
    assert wh_crashed.last_round() == 2
    assert wh_crashed.read(spark, "fetch_log").filter("round = 3").count() == 0

    # resume re-runs round 3 and 4; compare with clean run
    wh_resumed = run_crawl(spark, wh_dir, *paths, CFG)
    wh_clean = run_crawl(spark, str(tmp_path / "clean"), *paths, CFG)
    assert _final_state(spark, wh_resumed) == _final_state(spark, wh_clean)


def test_main_path_failure_joins_sidecar_thread_and_aborts_round(
    spark, corpus_dir, tmp_path
):
    """A failure on the round's main path must propagate promptly (bounded
    join of the overlapped seen+sidecar thread), and the failed round must
    stay INVISIBLE — resume re-runs it cleanly (atomic commit contract)."""
    import time as _time

    import pytest

    from twittercrawler_spark.frontier.crawl import run_crawl, run_round
    from twittercrawler_spark.frontier.simulator import CrawlConfig
    from twittercrawler_spark.sources.tables import Warehouse

    cfg = CrawlConfig(per_host_per_round=2, rounds=1, num_buckets=8)
    paths = [f"{corpus_dir}/{n}.parquet" for n in ("pages", "seeds", "robots")]
    wh = run_crawl(spark, str(tmp_path / "wh"), *paths, cfg)
    assert wh.last_round() == 1

    orig_write = Warehouse.write

    def failing_write(self, name, df, rnd, **kw):
        if name == "fetch_log":
            raise RuntimeError("injected fetch_log failure")
        return orig_write(self, name, df, rnd, **kw)

    Warehouse.write = failing_write
    try:
        t0 = _time.time()
        with pytest.raises(RuntimeError, match="injected fetch_log failure"):
            run_round(spark, wh, cfg, 2)
        assert _time.time() - t0 < 120, "failure path must not hang on the thread"
    finally:
        Warehouse.write = orig_write
    assert wh.last_round() == 1  # round 2 never became visible

    # exact resume: the crashed round re-runs from committed state
    cfg2 = CrawlConfig(per_host_per_round=2, rounds=2, num_buckets=8)
    wh2 = run_crawl(spark, str(tmp_path / "wh"), *paths, cfg2)
    assert wh2.last_round() == 2


def test_committed_rounds_record_stage_laps(spark, corpus_dir, tmp_path):
    """Every commit, bootstrap included, carries its stage laps as manifest
    data; a round's main-path laps fit inside its measured wall time."""
    import time as _time

    from twittercrawler_spark.frontier.crawl import OVERLAPPED_STAGE

    paths = [f"{corpus_dir}/{n}.parquet" for n in ("pages", "seeds", "robots")]
    wh = run_crawl(spark, str(tmp_path / "wh"), *paths,
                   CrawlConfig(**{**CFG.__dict__, "rounds": 1}))
    t0 = _time.time()
    assert run_round(spark, wh, CFG, 2)
    wall = _time.time() - t0

    assert wh.committed_rounds() == [0, 1, 2]
    boot = wh.round_info(0)["metrics"]["stages"]
    assert {"canonicalize+cluster+write", "seed_frontier_write"} <= set(boot)
    for rnd in (1, 2):
        stages = wh.round_info(rnd)["metrics"]["stages"]
        main = {k: v for k, v in stages.items() if k != OVERLAPPED_STAGE}
        assert set(main) == {"schedule", "fetch+extract+write", "expand+frontier_write",
                             "join_seen_sidecar", "metrics_collect"}
        assert stages[OVERLAPPED_STAGE] > 0
        assert all(v >= 0 for v in stages.values())
    main_2 = [v for k, v in wh.round_info(2)["metrics"]["stages"].items()
              if k != OVERLAPPED_STAGE]
    assert sum(main_2) <= wall


def test_resume_into_round_after_an_empty_round(spark, corpus_dir, tmp_path):
    """Every host's crawl-delay exceeds round_seconds, so every quota is 0:
    round 1 selects nothing and commits an empty seen table with empty
    bloom_meta. A second run_crawl resumes into round 2 from that state and
    still matches the simulator."""
    from tests.test_crawl_parity import _load_sim_inputs
    from twittercrawler_spark.frontier.simulator import simulate
    from twittercrawler_spark.functions.urls import host_of

    pages, seeds, _ = _load_sim_inputs(corpus_dir)
    delays = {host_of(u): 5 for u in pages}
    robots_path = str(tmp_path / "robots.parquet")
    spark.createDataFrame(
        [(h, None, d) for h, d in sorted(delays.items())],
        "host string, disallow_prefix string, crawl_delay int",
    ).write.parquet(robots_path)
    paths = [f"{corpus_dir}/pages.parquet", f"{corpus_dir}/seeds.parquet", robots_path]
    cfg = CrawlConfig(per_host_per_round=2, rounds=2, num_buckets=8, round_seconds=3)

    wh_dir = str(tmp_path / "wh")
    wh = run_crawl(spark, wh_dir, *paths, cfg)
    assert wh.last_round() == 1  # the empty round ends the first call
    assert wh.round_info(1)["metrics"]["bloom_meta"] == {}
    wh = run_crawl(spark, wh_dir, *paths, cfg)
    assert wh.last_round() == 2

    sim = simulate(pages, seeds, [], cfg, delays=delays)
    log, seen = _final_state(spark, wh)
    assert log == [(r["round"], r["seq"], r["url"]) for r in sim.fetch_log]
    assert seen == sorted(sim.seen)
    frontier = {
        r["url"]: (r["priority"], r["discovered_round"])
        for r in wh.read_round(spark, "frontier", 2).collect()
    }
    assert frontier == sim.pending


def _collision_corpus(corpus_dir, tmp_path):
    """The shared corpus plus a second file that re-spells every 25th page's
    url (``HTTP://``, same canonical url) with an earlier or later warc_ts
    and link-free html, so bootstrap runs its dedup rewrite and the
    surviving spelling shapes the crawl."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pages = pq.read_table(f"{corpus_dir}/pages.parquet")
    copies = pages.take(list(range(0, pages.num_rows, 25)))
    shift = [datetime.timedelta(seconds=-1 if i % 2 else 1) for i in range(copies.num_rows)]
    ts = [t + s for t, s in zip(copies["warc_ts"].to_pylist(), shift)]
    copies = (
        copies.set_column(0, "url", pc.replace_substring(copies["url"], "http://", "HTTP://"))
        .set_column(1, "warc_ts", pa.array(ts, copies.schema.field("warc_ts").type))
        .set_column(2, "html", pa.array([b"<p>respelled</p>"] * copies.num_rows))
    )
    d = tmp_path / "pages.parquet"
    os.makedirs(d)
    pq.write_table(pages, str(d / "part-0.parquet"))
    pq.write_table(copies, str(d / "part-1.parquet"))
    return [str(d), f"{corpus_dir}/seeds.parquet", f"{corpus_dir}/robots.parquet"]


# Bootstrap crash points: (what fails, which call of it). Each failing write
# lands its data first, so the orphan round-0 files are what a resumed
# bootstrap must overwrite.
_BOOTSTRAP_CRASHES = [
    ("pages_canon", 1),  # the optimistic write
    ("pages_canon", 2),  # the dedup rewrite
    ("frontier", 1),
    ("robots", 1),
    ("metrics", 1),  # write_rows
    ("manifest", 1),  # between the manifest tmp write and os.replace
]


@pytest.fixture(scope="module")
def collision_run(spark, corpus_dir, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("collision")
    paths = _collision_corpus(corpus_dir, tmp)
    cfg = CrawlConfig(**{**CFG.__dict__, "rounds": 2})
    wh = run_crawl(spark, str(tmp / "full"), *paths, cfg)
    return paths, cfg, _final_state(spark, wh)


@pytest.mark.parametrize(
    "target, nth", _BOOTSTRAP_CRASHES, ids=[f"{t}{n}" for t, n in _BOOTSTRAP_CRASHES]
)
def test_bootstrap_crash_anywhere_resumes_exactly(
    spark, collision_run, tmp_path, monkeypatch, target, nth
):
    """A crash at any bootstrap write leaves no committed round, and the
    next run_crawl bootstraps again and ends in the uninterrupted run's
    state: same fetch log, same seen set."""
    import os

    from twittercrawler_spark.sources import tables

    paths, cfg, full_state = collision_run
    calls = []

    def crash_after(name, write):
        def wrapped(self, table, *a, **kw):
            out = write(self, table, *a, **kw)
            if table == name:
                calls.append(table)
                if len(calls) == nth:
                    raise RuntimeError(f"injected crash after {table} #{nth}")
            return out

        return wrapped

    if target == "manifest":
        replace = os.replace

        def crash_replace(src, dst):
            if dst.endswith("_commits.json"):
                raise RuntimeError("injected crash before os.replace")
            return replace(src, dst)

        monkeypatch.setattr(tables.os, "replace", crash_replace)
    elif target == "metrics":
        monkeypatch.setattr(Warehouse, "write_rows", crash_after(target, Warehouse.write_rows))
    else:
        monkeypatch.setattr(Warehouse, "write", crash_after(target, Warehouse.write))

    wh_dir = str(tmp_path / "wh")
    with pytest.raises(RuntimeError, match="injected crash"):
        run_crawl(spark, wh_dir, *paths, cfg)
    assert Warehouse(wh_dir).last_round() is None
    monkeypatch.undo()

    assert _final_state(spark, run_crawl(spark, wh_dir, *paths, cfg)) == full_state
