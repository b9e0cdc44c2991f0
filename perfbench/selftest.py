"""Benchmark self-test: a reduced-size untraced and traced run of every
workload.

    python3 perfbench/selftest.py [workload 0|1]

Asserts, per workload, that every metric BENCHMARK.json names is reported
with its unit, that the oracle check is green on every pass, that the
counts (fetched urls, link rows, new links, selected urls) repeat exactly
from pass to pass, that every round's main-thread write spans are found
in order, and that the hub graph really is skewed and its links, probed
against the committed seen sidecar, answer "maybe" for urls already
fetched. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import run
from layers import LAYER_UNITS

SCALE = 0.5
COUNTS = ("expand.link_rows", "expand.new_links", "scheduler.selected")


def check(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selftest FAILED: {what}")


def check_workload(spec: dict, name: str, traced: bool) -> None:
    # traced: four passes, two of them traced, to compare their counts
    res = run.run_workload(name, seed=7, seconds=0, traced=traced, scale=SCALE,
                           min_passes=4 if traced else 2)
    check(res["correct"] and res["failed"] == 0, f"{name}: oracle check {res['detail']['errors']}")
    passes = res["passes"][1:]  # the first is the warm-up, on a smaller corpus
    check(len({p.fetched for p in passes}) == 1, f"{name}: fetched differs across passes")
    if not traced:
        for m in spec["end_to_end"]:
            v = res["e2e"].get(m["name"])
            check(run.E2E_UNITS.get(m["name"]) == m["unit"], f"{name}: unit of {m['name']}")
            check(isinstance(v, float) and v > 0, f"{name}: {m['name']} = {v}")
        print(f"selftest ok: {name} untraced {json.dumps(res['detail'])}", flush=True)
        return
    for m in spec["per_layer"]:
        check(LAYER_UNITS.get(m["name"]) == m["unit"], f"{name}: unit of {m['name']}")
        check(m["name"] in res["layers"], f"{name}: {m['name']} missing")
    traced_layers = [p.layer for p in passes if p.layer is not None]
    check(len(traced_layers) >= 2, f"{name}: fewer than two traced passes")
    for k in COUNTS:
        check(len({t[k] for t in traced_layers}) == 1, f"{name}: {k} differs across passes")
    # every round has both write spans on its main thread, in order
    parts = [t[f"crawl.round.{k}"] for t in traced_layers
             for k in ("schedule_s", "expand_plan_s", "tail_s")]
    check(all(len(p) == run.WORKLOADS[name].cfg.rounds for p in parts)
          and all(v >= 0 for p in parts for v in p), f"{name}: round spans {parts}")
    if name == "hub":
        shape = res["detail"]["shape"]
        check(shape["top5_share"] >= 0.03 and shape["bucket_max_over_median"] >= 1.5,
              f"hub: link graph not skewed {shape}")
        # links into the fetched hot set answer "maybe" from the sidecar
        check(res["layers"]["seen.maybe_ratio"] > 0, "hub: no Bloom probe answered maybe")
    print(f"selftest ok: {name} traced {json.dumps(res['detail'])}", flush=True)


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if len(sys.argv) > 2:
        check_workload(spec, sys.argv[1], sys.argv[2] == "1")
        return 0
    # one process per run: the engine's UDFs bind to the first JVM a
    # process starts, so a session cannot be restarted in-process
    for w in spec["workloads"]:
        for traced in ("0", "1"):
            if subprocess.run([sys.executable, __file__, w["name"], traced]).returncode != 0:
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
