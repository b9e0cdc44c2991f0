"""LSH coarseness observability (VERDICT r2 item 1): for each bucketed
candidate-generation path, report the bucket-space size, the realized
candidate-pair count, and the all-pairs count it replaced — so "bucketed,
not all-pairs" is a measured fact, not a claim.

Usage:  python tools/lsh_stats.py [sf_dir]      (default /root/testdata/sf0.1)

Prints one JSON line; the numbers are recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))



def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from twittercrawler_spark.analytics import dedup, similarity
    from twittercrawler_spark.analytics._util import t
    from twittercrawler_spark.session import get_spark

    spark = get_spark("lsh_stats")
    n_docs = t(spark, sf, "documents").count()
    n_vecs = t(spark, sf, "embeddings").count()
    out: dict = {"sf_dir": sf, "n_docs": n_docs, "n_vecs": n_vecs}

    def pairs_of(cand_df) -> int:
        return cand_df.count()

    # SimHash: 4 chunk positions x 2^16 chunk values; the candidate stage is
    # the QUERY's own builder (dedup.simhash_chunks), so this measurement
    # cannot drift from the pipeline it claims to observe
    simhash_cand = dedup.distinct_bucket_pairs(
        dedup.simhash_chunks(spark, sf), ["k", "chunk"]
    )
    out["simhash"] = {
        "bucket_keys": 4 * 65536,
        "candidate_pairs": pairs_of(simhash_cand),
        "all_pairs": n_docs * (n_docs - 1) // 2,
    }

    for label, tables in (("ann", similarity.AN_TABLES), ("embedding_nd", similarity.ND_TABLES)):
        planes = similarity.srp_planes(n_vecs)
        cand = dedup.distinct_bucket_pairs(
            similarity._srp_buckets(spark, sf, tables), ["t", "bucket"], id_col="vec_id"
        )
        out[label] = {
            "tables": tables,
            "planes": planes,
            "bucket_keys": tables * (2 ** planes),
            "candidate_pairs": pairs_of(cand),
            "all_pairs": n_vecs * (n_vecs - 1) // 2,
        }

    # MinHash-LSH: band keys are (band, 4-minima signature); minima + band
    # builders are shared with dedup_minhash_lsh
    hs = dedup._shingle_hashes(spark, sf)
    bands = dedup.minhash_bands(hs.groupBy("doc_id").agg(*dedup.minhash_min_cols()))
    mh_cand = dedup.distinct_bucket_pairs(bands, ["band", "sig"])
    out["minhash"] = {
        "bands": dedup.MINHASH_K // dedup.MINHASH_BAND,
        "distinct_band_keys": bands.select("band", "sig").distinct().count(),
        "candidate_pairs": pairs_of(mh_cand),
        "all_pairs": n_docs * (n_docs - 1) // 2,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
