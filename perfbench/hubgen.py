"""Seeded duplicate-heavy link-graph corpus: the ``hub`` workload's input.

Same tables and schema as ``twittercrawler_spark.sources.corpus.generate_corpus``
(pages / seeds / robots), with ground-truth ``text`` from the engine's own
``extract_text``. The shape differs where the hub workload needs it:

* thin pages (a short paragraph) with 16-48 out-links each;
* 60% of links point into a hot set of 100 urls, so the exploded link rows
  are mostly cross-page duplicates;
* 30% of pages also link all 5 hub urls, which sit on one host and are
  chosen so that they share ONE salted host_bucket - a single hot partition
  for link expansion;
* every second url is a seed; a sixth of the hosts declare a crawl-delay,
  so each round is politeness-bound.

``link_shape`` measures a corpus's link graph (link rows, distinct targets,
hub share, max/median links per bucket); the benchmark prints it beside
every run and the self-test asserts the hub skew, so it is checked, not
assumed.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

from twittercrawler_spark.functions.text import extract_links, extract_text
from twittercrawler_spark.functions.urls import (
    canonicalize_url,
    host_bucket_of,
    host_of,
    url_hash64,
)

PAGE_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
_BASE_TS = dt.datetime(2023, 3, 1)
_LANGS = ["tr", "en", "de"]
_WORDS = (
    "hub link anchor crawl frontier spark queue robots politeness bloom "
    "shard bucket host page text body title sample web corpus"
).split()
HOT_SET, N_HUBS, HUB_PAGE_SHARE, HOT_LINK_SHARE = 100, 5, 0.3, 0.6
WORDS_PER_PAGE, N_FILES = 40, 16


def _host(h: int) -> str:
    return f"hub{h}.example.net"


def _raw_url(h: int, i: int, rng: random.Random) -> str:
    """A messy spelling of page i's url: case, default port, query order,
    fragment - so canonicalization has real work on every href."""
    host = _host(h)
    style = rng.randrange(4)
    host = host.upper() if style == 0 else host + ":80" if style == 1 else host
    url = f"http://{host}/h/{i}"
    if rng.random() < 0.3:
        url += "?z=1&a=2"
    if rng.random() < 0.2:
        url += "#top"
    return url


def _apportion(weights: list[float], total: int) -> list[int]:
    """Integer counts proportional to ``weights`` summing to ``total``
    (largest remainder)."""
    w = sum(weights)
    exact = [total * x / w for x in weights]
    counts = [int(e) for e in exact]
    for i in sorted(range(len(exact)), key=lambda i: counts[i] - exact[i])[: total - sum(counts)]:
        counts[i] += 1
    return counts


def generate_hub_corpus(
    out_dir: str,
    seed: int,
    n_pages: int,
    n_hosts: int,
    num_buckets: int,
    salt_sub_buckets: int,
) -> dict[str, str]:
    """Write pages/seeds/robots parquet under ``out_dir``; return the paths.

    Every row depends only on (seed, page index); ``num_buckets`` and
    ``salt_sub_buckets`` must match the crawl config, because the hubs are
    picked to share one host_bucket under them."""
    rng = random.Random(f"hub:{seed}")
    # Zipf-ish host sizes, so per-host quotas bind on the big hosts. The
    # sizes are fixed and only the placement is seeded, separately for seeds
    # (even pages) and the rest, so every seed schedules the same amount.
    weights = [1.0 / (h + 1) ** 0.8 for h in range(n_hosts)]
    hosts = [0] * n_pages
    for parity in (0, 1):
        slots = range(parity, n_pages, 2)
        placed = [h for h, n in enumerate(_apportion(weights, len(slots))) for _ in range(n)]
        rng.shuffle(placed)
        for i, h in zip(slots, placed):
            hosts[i] = h
    raw = [_raw_url(hosts[i], i, random.Random(f"{seed}:u:{i}")) for i in range(n_pages)]
    canon = [canonicalize_url(u) for u in raw]

    def bucket(i: int) -> int:
        return host_bucket_of(
            host_of(canon[i]), url_hash64(canon[i]), num_buckets, salt_sub_buckets
        )

    # hubs: pages of the busiest host that land in one common bucket
    on_top = [i for i in range(n_pages) if hosts[i] == 0]
    by_bucket: dict[int, list[int]] = {}
    for i in on_top:
        by_bucket.setdefault(bucket(i), []).append(i)
    hubs = max(by_bucket.values(), key=len)[:N_HUBS]
    if len(hubs) < N_HUBS:
        raise ValueError("too few pages on the hub host for one hub bucket")
    hot = rng.sample(range(n_pages), HOT_SET)

    os.makedirs(out_dir, exist_ok=True)
    pages_path = os.path.join(out_dir, "pages.parquet")
    os.makedirs(pages_path, exist_ok=True)
    per_file = -(-n_pages // N_FILES)
    for f, lo in enumerate(range(0, n_pages, per_file)):
        cols: dict[str, list] = {k: [] for k in PAGE_SCHEMA.names}
        for i in range(lo, min(lo + per_file, n_pages)):
            prng = random.Random(f"{seed}:p:{i}")
            targets = [
                prng.choice(hot) if prng.random() < HOT_LINK_SHARE else prng.randrange(n_pages)
                for _ in range(prng.randint(16, 48))
            ]
            if prng.random() < HUB_PAGE_SHARE:
                targets += hubs
            anchors = "".join(
                # a third relative, to exercise urljoin against the page url
                f'<a href="/h/{t}">r{t}</a>' if hosts[t] == hosts[i] and prng.random() < 0.33
                else f'<a href="{raw[t]}">a{t}</a>'
                for t in targets
            )
            words = " ".join(prng.choices(_WORDS, k=WORDS_PER_PAGE))
            html = (
                f"<html><head><title>Hub page {i}</title></head><body>"
                f"<p>{words}\n&amp; tail</p>{anchors}</body></html>"
            )
            cols["url"].append(raw[i])
            cols["warc_ts"].append(_BASE_TS + dt.timedelta(seconds=i))
            cols["html"].append(html.encode())
            cols["text"].append(extract_text(html))
            cols["lang"].append(_LANGS[hosts[i] % 3])
        pq.write_table(
            pa.table(cols, schema=PAGE_SCHEMA),
            os.path.join(pages_path, f"part-{f:05d}.parquet"),
        )

    seeds_path = os.path.join(out_dir, "seeds.parquet")
    pq.write_table(
        pa.table(
            {
                "url": pa.array(raw[::2], pa.string()),
                "priority": pa.array(
                    [1.0 + (i % 7) / 8 for i in range(0, n_pages, 2)], pa.float64()
                ),
            }
        ),
        seeds_path,
    )
    r_hosts, r_prefixes, r_delays = [], [], []
    for h in range(n_hosts):
        if h % 6 == 1:
            r_hosts.append(_host(h))
            r_prefixes.append(None)
            r_delays.append(2 + h % 4)
        if h % 9 == 4:
            r_hosts.append(_host(h))
            r_prefixes.append("/h/9")
            r_delays.append(None)
    robots_path = os.path.join(out_dir, "robots.parquet")
    pq.write_table(
        pa.table(
            {
                "host": pa.array(r_hosts, pa.string()),
                "disallow_prefix": pa.array(r_prefixes, pa.string()),
                "crawl_delay": pa.array(r_delays, pa.int32()),
            }
        ),
        robots_path,
    )
    return {"pages": pages_path, "seeds": seeds_path, "robots": robots_path}


def link_shape(
    pages_path: str, num_buckets: int, salt_sub_buckets: int
) -> dict[str, float]:
    """Shape of the whole-corpus link graph after per-page dedup, as the
    engine's fetch crossing emits it: rows, distinct targets, the share of
    rows that hit the busiest bucket's top-5 urls, and per-bucket skew."""
    table = pq.read_table(pages_path, columns=["url", "html"])
    per_url: dict[str, int] = {}
    per_bucket: dict[int, int] = {}
    rows = 0
    for u, html in zip(table.column("url").to_pylist(), table.column("html").to_pylist()):
        base = canonicalize_url(u)
        links = {canonicalize_url(h, base) for h in extract_links(html)} - {None}
        rows += len(links)
        for cu in links:
            per_url[cu] = per_url.get(cu, 0) + 1
            b = host_bucket_of(host_of(cu), url_hash64(cu), num_buckets, salt_sub_buckets)
            per_bucket[b] = per_bucket.get(b, 0) + 1
    top5 = sorted(per_url.values(), reverse=True)[:N_HUBS]
    counts = [per_bucket.get(b, 0) for b in range(num_buckets)]
    return {
        "link_rows": rows,
        "distinct_targets": len(per_url),
        "top5_share": round(sum(top5) / max(rows, 1), 4),
        "bucket_max_over_median": round(max(counts) / max(statistics.median(counts), 1), 3),
    }
