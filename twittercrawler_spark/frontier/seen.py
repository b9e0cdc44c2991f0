"""URL-seen set: distributed per-bucket Bloom sidecar + exact anti-join.

Replaces the reference's per-row membership probes — the O(n) Python-list
scan (pages/Preprocess_scripts/GenerateUserUseridDict.py:53) and the
one-Redis-RTT-per-row probe
(pages/Postprocess_scripts/Cansin_Location_Detection.py:107-109) — with the
north rule's design:

* EXACTNESS is always decided by a ``left_anti`` join on the canonical URL
  string against the committed seen table (hash/Bloom false positives can
  never corrupt membership);
* a per-``host_bucket`` Bloom sidecar TABLE over the 60-bit url_hash acts as
  a shuffle-avoiding prefilter: candidate links that are DEFINITE misses
  skip the anti-join entirely (at 10^10-frontier scale the overwhelming
  majority of new links are definite misses, so the expensive shuffle only
  sees the "maybe" set).

Everything is distributed — no driver-side collect of hash data, ever:

* the sidecar is BUILT incrementally by a per-bucket cogrouped
  ``applyInPandas``: each round ORs only that round's new hashes into the
  previous round's bitset (vectorized numpy inside the group function).
  A bucket whose item count outgrows its sized capacity is REBUILT from a
  bucket-filtered scan of the full seen table with doubled capacity —
  amortized O(total hashes) over the whole crawl, and only the overflowing
  buckets are ever rescanned;
* the overflow decision needs only per-bucket ``(n_items, cap)`` counters,
  which ride in the round's commit manifest (``bloom_meta``) — metadata
  scale, no extra Spark job. On a real cluster these live as Iceberg
  snapshot properties of the sidecar table;
* the PROBE is a per-bucket cogroup of candidates against the sidecar: one
  bitset crosses per bucket-partition (never one copy per row), and the
  candidate shuffle is on host_bucket — the same key the frontier table is
  clustered on.

Double hashing h_i = h1 + i*h2 (Kirsch–Mitzenmacher, public construction)
over the already-uniform md5-derived url_hash.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: fresh/rebuilt buckets are sized for GROWTH× their current item count, so
#: rebuilds halve in frequency as a bucket grows (amortized-linear total work)
MIN_CAP = 4096
GROWTH = 2
FPP = 0.01

SIDECAR_SCHEMA = T.StructType(
    [
        T.StructField("host_bucket", T.IntegerType()),
        T.StructField("m_bits", T.LongType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("cap", T.LongType()),
        T.StructField("n_items", T.LongType()),
        T.StructField("bits", T.BinaryType()),
    ]
)


class NumpyBloom:
    """Vectorized Bloom filter over int64 keys (bits stored as uint8 array)."""

    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None):
        self.m = int(m_bits)
        self.k = int(k)
        self.bits = bits if bits is not None else np.zeros((self.m + 7) // 8, dtype=np.uint8)

    @classmethod
    def sized_for(cls, n_items: int, fpp: float = FPP) -> "NumpyBloom":
        n = max(n_items, 1)
        m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2)))
        return cls(m, min(k, 8))

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        h1 = keys.astype(np.uint64)
        h2 = (h1 >> np.uint64(29)) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.m)).astype(np.int64)

    def add(self, keys: np.ndarray) -> None:
        pos = self._positions(np.asarray(keys, dtype=np.int64)).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def maybe_contains(self, keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys, dtype=np.int64)
        if keys.size == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        hit = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return hit.all(axis=0).astype(bool)

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, m_bits: int, k: int, blob: bytes) -> "NumpyBloom":
        return cls(m_bits, k, np.frombuffer(bytes(blob), dtype=np.uint8).copy())


def _cap_for(n_items: int) -> int:
    return max(MIN_CAP, GROWTH * int(n_items))


def plan_update(
    prev_meta: dict[int, tuple[int, int]] | None, n_new: dict[int, int]
) -> tuple[dict[int, tuple[int, int]], list[int]]:
    """Pure-metadata twin of the distributed update: next per-bucket
    ``(n_items, cap)`` counters and the overflow buckets to rebuild.

    ``prev_meta``: {bucket: (n_items, cap)} from the previous round's commit
    manifest (or None/{} before the first round). ``n_new``: this round's
    per-bucket new-hash counts (already computed by the round's lineage
    metrics job). The cap formulas here and in :func:`update_bloom_sidecar`
    MUST stay identical — a test pins manifest meta == sidecar table.
    """
    prev_meta = prev_meta or {}
    nxt: dict[int, tuple[int, int]] = dict(prev_meta)
    overflow: list[int] = []
    for b, n in n_new.items():
        if n == 0:
            continue
        if b not in prev_meta:
            nxt[b] = (n, _cap_for(n))
        else:
            pn, pcap = prev_meta[b]
            total = pn + n
            if total > pcap:
                overflow.append(b)
                nxt[b] = (total, _cap_for(total))
            else:
                nxt[b] = (total, pcap)
    return nxt, sorted(overflow)


def update_bloom_sidecar(
    new_hashes: DataFrame,
    prev_sidecar: DataFrame | None,
    overflow_buckets: Iterable[int] = (),
    full_hashes: DataFrame | None = None,
    fpp: float = FPP,
    min_cap: int = MIN_CAP,
) -> DataFrame:
    """Next sidecar state: prev ∪ this round's hashes, per bucket, distributed.

    * ``new_hashes``/``full_hashes``: (host_bucket, url_hash) rows —
      round-sized and crawl-sized respectively; ``full_hashes`` is only
      SCANNED for the buckets in ``overflow_buckets`` (bucket-filtered).
    * Buckets untouched this round carry forward unchanged (cogroup
      right-only groups). Incremental buckets OR the new keys into the
      existing bitset — no false negatives, by Bloom algebra. Overflow
      buckets rebuild fresh at the doubled capacity.
    """
    overflow = sorted(int(b) for b in overflow_buckets)

    def _h(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("host_bucket").cast("int").alias("host_bucket"), "url_hash"
        )

    hashes = _h(new_hashes)
    if overflow:
        assert full_hashes is not None, "overflow rebuild needs the full seen hashes"
        hashes = (
            hashes.filter(~F.col("host_bucket").isin(overflow))
            .withColumn("is_full", F.lit(False))
            .unionByName(
                _h(full_hashes)
                .filter(F.col("host_bucket").isin(overflow))
                .withColumn("is_full", F.lit(True))
            )
        )
    else:
        hashes = hashes.withColumn("is_full", F.lit(False))

    def build(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:  # untouched bucket: carry the previous state
            return right
        keys = left["url_hash"].to_numpy(dtype=np.int64)
        bucket = int(left["host_bucket"].iloc[0])
        rebuild = bool(left["is_full"].iloc[0]) or len(right) == 0
        if rebuild:
            cap = max(min_cap, GROWTH * len(keys))
            bloom = NumpyBloom.sized_for(cap, fpp)
            n_items = len(keys)
        else:
            r = right.iloc[0]
            bloom = NumpyBloom.from_bytes(int(r["m_bits"]), int(r["k"]), r["bits"])
            cap = int(r["cap"])
            n_items = int(r["n_items"]) + len(keys)
        bloom.add(keys)
        return pd.DataFrame(
            {
                "host_bucket": [bucket],
                "m_bits": [bloom.m],
                "k": [bloom.k],
                "cap": [cap],
                "n_items": [n_items],
                "bits": [bloom.to_bytes()],
            }
        )

    if prev_sidecar is None:  # built JVM-side: no Python task for an empty side
        prev_sidecar = new_hashes.sparkSession.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in SIDECAR_SCHEMA.fields]
        )
    else:  # trim e.g. the warehouse's round partition column
        prev_sidecar = prev_sidecar.select(*[f.name for f in SIDECAR_SCHEMA.fields])
    return (
        hashes.groupby("host_bucket")
        .cogroup(prev_sidecar.groupby("host_bucket"))
        .applyInPandas(build, SIDECAR_SCHEMA)
    )


def filter_unseen(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame | None,
    sidecar: DataFrame,
) -> DataFrame:
    """Rows of ``candidates`` whose url is NOT in ``seen`` (exact).

    candidates must carry (url, url_hash, host_bucket). With a Bloom sidecar,
    definite misses bypass the anti-join shuffle; "maybe" rows go through the
    exact ``left_anti`` join. The probe cogroups the candidate rows with the
    sidecar on host_bucket — one bitset per bucket-partition crosses to
    Python and flags every row in place, so definite misses flow STRAIGHT
    through a filter (no join back at all) and only the "maybe" rows — a
    Bloom-fpp-sized sliver of the round — ever shuffle into the exact
    anti-join against the seen table. The candidates are consumed exactly
    once, and when the caller has already clustered them on host_bucket the
    cogroup inserts no exchange of its own. Probe parallelism is one task
    per host_bucket — the bucket count is the deployment's partitioning
    knob and scales with the cluster, so a hot bucket means the bucketing
    constant is wrong, not this operator.
    """
    if seen is None:
        return candidates

    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("_maybe_seen", T.BooleanType())]
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) and len(right):
            r = right.iloc[0]
            bloom = NumpyBloom.from_bytes(int(r["m_bits"]), int(r["k"]), r["bits"])
            flags = bloom.maybe_contains(left["url_hash"].to_numpy(dtype=np.int64))
        else:  # no sidecar state for the bucket ⇒ nothing seen there
            flags = np.zeros(len(left), dtype=bool)
        left = left.copy()
        left["_maybe_seen"] = flags
        return left

    side = sidecar.withColumn(
        "host_bucket",
        F.col("host_bucket").cast(candidates.schema["host_bucket"].dataType),
    )
    flagged = (
        candidates.groupby("host_bucket")
        .cogroup(side.groupby("host_bucket"))
        .applyInPandas(probe, out_schema)
    )
    # two consumers below (definite/maybe branches of one union) — without a
    # checkpoint the union re-executes the cogroup subtree, i.e. a second
    # host_bucket shuffle + a second bitset Python crossing per round. The
    # flagged rows are narrow (url columns + bool) and round-sized — the
    # same holding rationale the caller used to need for its link frame.
    flagged = flagged.localCheckpoint(eager=False)
    cols = [f.name for f in candidates.schema.fields]
    definite_new = flagged.filter(~F.col("_maybe_seen")).select(*cols)
    maybes = flagged.filter(F.col("_maybe_seen")).select(*cols)
    verified_new = maybes.join(seen.select("url"), "url", "left_anti")
    return definite_new.unionByName(verified_new)
