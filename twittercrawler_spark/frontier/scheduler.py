"""Politeness scheduler: salted per-host top-k + deterministic global order.

Maps the reference's rate budget — fixed topic order, ``max_count`` results
per topic per round, sleep-to-budget pacing (pages/Crawler.py:70,80,148-153)
— onto a distributed frontier:

* per-host quota ``k`` per round = the politeness budget;
* selection order INSIDE a host: priority desc, then url_hash asc, then url
  asc — a computed total order, never task order (SURVEY.md §7.4);
* global fetch order ACROSS hosts: host asc, then the per-host selection
  order — the analog of the reference's fixed topic-list round-robin;
* hot-host skew (one host owning ~50% of the frontier) is defused by a
  TWO-PHASE top-k: phase 1 takes top-k within (host, salt_sub_bucket) —
  bounded per-task work even for the hottest host — phase 2 takes the final
  top-k from the ≤ k·S per-host survivors. The global per-host quota stays
  exact (SURVEY.md §7.4 "Hot-host skew").

Phase 2 runs on ONE range exchange on host: it clusters each host for the
rank window AND orders hosts across partitions (AQE coalescing only merges
neighbours). Sorted by (host, host_rank) within each partition, a row's
global rank is the row count of earlier partitions plus its index in its
own — the driver collects one count per partition, never per host or row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# monotonically_increasing_id() = (partition index << 33) + row index
_ROW_BITS = 33


def order_cols() -> list[Column]:
    """The within-host selection total order (parity-critical)."""
    return [F.col("priority").desc(), F.col("url_hash").asc(), F.col("url").asc()]


def ranked_slice(
    candidates: DataFrame,
    k: int,
    salt_sub_buckets: int = 8,
    quotas: DataFrame | None = None,
) -> DataFrame:
    """The per-host top-k rows with ``host_rank`` and a position tag
    ``_id`` — the plan :func:`schedule` checkpoints.

    ``quotas`` (host, _quota), broadcast, tightens a host's budget below
    ``k`` (robots crawl-delay); absent hosts keep ``k`` and a quota above
    ``k`` is clamped to it, so phase 1's prune at ``k`` stays valid. A 0
    quota starves the host for the round — the reference's sleep-to-budget
    when the budget is smaller than one fetch.

    ``_id`` is evaluated directly above the local (host, host_rank) sort,
    with no exchange between them, so its row index follows that order.
    """
    sub = F.pmod(F.col("url_hash"), F.lit(salt_sub_buckets))
    w1 = Window.partitionBy("host", sub).orderBy(*order_cols())
    phase1 = candidates.withColumn("_rn1", F.row_number().over(w1)).filter(
        F.col("_rn1") <= k
    )
    budget = F.lit(k)
    if quotas is not None:
        phase1 = phase1.join(F.broadcast(quotas), "host", "left")
        budget = F.least(F.coalesce(F.col("_quota"), budget), budget)
    w2 = Window.partitionBy("host").orderBy(*order_cols())
    return (
        phase1.repartitionByRange("host")
        .withColumn("host_rank", F.row_number().over(w2))
        .filter(F.col("host_rank") <= budget)
        .sortWithinPartitions("host", "host_rank")
        .select(*candidates.columns, "host_rank",
                F.monotonically_increasing_id().alias("_id"))
    )


def schedule(
    candidates: DataFrame,
    k: int,
    start_at: int,
    salt_sub_buckets: int = 8,
    quotas: DataFrame | None = None,
) -> DataFrame:
    """The round's checkpointed schedule slice: :func:`ranked_slice` plus
    ``seq`` = start_at + 1, 2, … in (host asc, host_rank asc) order. The
    eager checkpoint fixes each ``_id`` before the partition counts are read.
    """
    ranked = ranked_slice(candidates, k, salt_sub_buckets, quotas)
    ranked = ranked.localCheckpoint(eager=True)
    part = F.shiftright("_id", _ROW_BITS)
    bases, total = [], start_at
    for p, n in sorted(tuple(r) for r in ranked.groupBy(part).count().collect()):
        bases += [F.lit(p).cast("long"), F.lit(total).cast("long")]
        total += n
    base = F.element_at(F.create_map(*bases), part) if bases else F.lit(start_at)
    local = F.col("_id").bitwiseAND(F.lit((1 << _ROW_BITS) - 1))
    return ranked.withColumn("seq", (base + local + 1).cast("long")).drop("_id")
