#!/usr/bin/env python
"""spark-submit entry point for the crawl engine (the north-rule launch path).

Cluster:

    python tools/make_pyfiles.py                     # -> dist/twittercrawler_spark.zip
    spark-submit \
        --master <yarn|k8s://...|spark://...> \
        --deploy-mode client \
        --py-files dist/twittercrawler_spark.zip \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        tools/submit_crawl.py \
        --pages s3://.../pages --seeds s3://.../seeds.parquet \
        --robots s3://.../robots.parquet --warehouse s3://.../warehouse \
        --rounds 5 --num-buckets 4096

Local smoke (same mechanism, exercised by tests/test_submit.py):

    spark-submit --master 'local[8]' --py-files dist/twittercrawler_spark.zip \
        tools/submit_crawl.py --pages ... --seeds ... --robots ... --warehouse ...

The session comes from the engine's one factory, ``get_spark``: master,
executor counts/memory and any ``--conf`` come from spark-submit and win over
the engine defaults, which fill in everything the launch left unset.
JVM-launch settings (driver memory, the engine log4j filter in
``spark.driver.extraJavaOptions``) belong on the submit line. Re-running
with the same --warehouse resumes from the last committed round (exact
resume per the checkpoint contract; tests/test_resume.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--pages", required=True, help="parquet path: corpus pages (url, warc_ts, html, text, lang)")
    p.add_argument("--seeds", required=True, help="parquet path: seed urls (url, priority)")
    p.add_argument("--robots", required=True, help="parquet path: robots table, either (host, disallow_prefix[, crawl_delay]) "
                   "or parse_robots rules (host, prefix, allow, crawl_delay)")
    p.add_argument("--warehouse", required=True, help="warehouse dir (created; re-run to resume)")
    p.add_argument("--rounds", type=int, default=5)
    p.add_argument("--per-host-per-round", type=int, default=2)
    p.add_argument("--priority-decay", type=float, default=0.8)
    p.add_argument("--num-buckets", type=int, default=32, help="host_bucket partition count (the Iceberg partition-spec analog; size to ~2-3x total executor cores)")
    p.add_argument("--salt-sub-buckets", type=int, default=8, help="per-host salt spread (hot-host skew defusal)")
    p.add_argument("--round-seconds", type=int, default=0, help="> 0 enables robots crawl-delay quotas")
    args = p.parse_args(argv)

    from twittercrawler_spark.frontier.crawl import run_crawl
    from twittercrawler_spark.frontier.simulator import CrawlConfig
    from twittercrawler_spark.session import get_spark

    spark = get_spark("twittercrawler-spark-crawl")

    cfg = CrawlConfig(
        per_host_per_round=args.per_host_per_round,
        rounds=args.rounds,
        priority_decay=args.priority_decay,
        num_buckets=args.num_buckets,
        salt_sub_buckets=args.salt_sub_buckets,
        round_seconds=args.round_seconds,
    )
    wh = run_crawl(spark, args.warehouse, args.pages, args.seeds, args.robots, cfg)

    summary = []
    for rnd in wh.committed_rounds():
        if rnd == 0:
            continue
        m = (wh.round_info(rnd) or {}).get("metrics", {})
        summary.append(
            {
                "round": rnd,
                "fetched": int(m.get("fetched", 0)),
                "new_links": int(m.get("new_links", 0)),
                "frontier_size": int(m.get("frontier_size", 0)),
            }
        )
    print(json.dumps({"warehouse": args.warehouse, "rounds": summary}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
