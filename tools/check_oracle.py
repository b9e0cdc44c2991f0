"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf directory, then compares row count, column names,
and order-insensitive values (columns sorted by name, rows sorted, values
normalized to strings with float rounding). Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return sorted(c for c in cols), out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from twittercrawler_spark.session import get_spark

    qs, oracles = e.queries(), e.oracle_sql()
    names = [n for n in qs if not only or n in only]

    con = duckdb.connect()
    for tname in TABLES:
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{sf_dir}/{tname}.parquet')"
        )

    spark = get_spark("check_oracle")
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only ({len(srows)} rows) [{time.time()-t0:.1f}s]")
            if len(srows) == 0 and not name.startswith("dedup_embedding"):
                print(f"      WARNING: {name} returned 0 rows")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        sc, sr = _normalize(srows, scols)
        oc, orr = _normalize(orows, ocols)
        if sc != oc:
            failures.append(name)
            print(f"FAIL  {name}: columns {sc} vs {oc}")
        elif len(sr) != len(orr):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(sr)} vs {len(orr)}")
        elif sr != orr:
            failures.append(name)
            diff = [(a, b) for a, b in zip(sr, orr) if a != b][:3]
            print(f"FAIL  {name}: values differ, first diffs: {diff}")
        else:
            print(f"ok    {name}: {len(sr)} rows match [{time.time()-t0:.1f}s]")
    spark.stop()
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
