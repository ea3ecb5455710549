#!/usr/bin/env python
"""Adversarial mega-bucket scaling artifact (round-5 ask #4): one
boilerplate caption duplicated N_DUP times (default 100k) plus N_UNIQ
unique docs, pushed through the full minhash-LSH chain + connected
components. Records, via the operator's own Observation metrics, that
star-routing emits O(n) candidates (never the ~n^2/2 in-bucket
expansion — 5e9 pairs at 100k copies) and that the chain completes in
bounded wall-clock with the full cluster recovered.

    python tools/run_megabucket.py [--n-dup 100000] [--n-uniq 10000] \
        [--out BENCH_MEGABUCKET.json]

Writes one JSON object with the corpus shape, routing metrics, pair and
cluster counts, invariant checks, and wall-clock per phase.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metacheck_spark.session import default_cpus  # noqa: E402

BOILER = (
    "all images on this site are provided as is without warranty of any "
    "kind contact the site administrator to request removal or takedown"
)
BANDS = 16


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-dup", type=int, default=100_000)
    ap.add_argument("--n-uniq", type=int, default=10_000)
    ap.add_argument("--cpus", type=int, default=int(default_cpus()))
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_MEGABUCKET.json"))
    args = ap.parse_args(argv)

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from metacheck_spark import get_spark
    from metacheck_spark.caching import CacheRegistry
    from metacheck_spark.operators import dedup as D

    spark = get_spark(master=f"local[{args.cpus}]", app_name="megabucket")
    spark.sparkContext.setLogLevel("WARN")

    boiler = spark.range(0, args.n_dup, 1, args.cpus).select(
        F.col("id").alias("doc_id"), F.lit(BOILER).alias("text")
    )
    uniq = spark.range(10_000_000, 10_000_000 + args.n_uniq, 1, args.cpus).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit(f"tok{j}x"),
                    F.pmod(F.col("id") * F.lit(31 + 7 * j), F.lit(1000003)),
                )
                for j in range(10)
            ],
        ).alias("text"),
    )
    docs = boiler.unionAll(uniq)

    obs = Observation()
    t0 = time.perf_counter()
    with CacheRegistry() as caches:
        pairs = D.minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.8,
            num_partitions="auto", caches=caches, observation=obs,
        )
        n_pairs = pairs.count()
        t_pairs = time.perf_counter() - t0
        metrics = dict(obs.get)

        t1 = time.perf_counter()
        clusters = D.dedup_clusters(pairs, caches=caches)
        agg = clusters.groupBy("cluster_id").count().collect()
        t_chain = time.perf_counter() - t1

    sizes = sorted((int(r["count"]) for r in agg), reverse=True)
    expected_star = BANDS * (args.n_dup - 1)
    result = {
        "metric": "megabucket_star_routing",
        "n_dup": args.n_dup,
        "n_uniq": args.n_uniq,
        "cpus": args.cpus,
        "bands": BANDS,
        "quadratic_pairs_avoided": args.n_dup * (args.n_dup - 1) // 2,
        "observed": metrics,
        "verified_pairs": n_pairs,
        "n_clusters": len(sizes),
        "largest_cluster": sizes[0] if sizes else 0,
        "pairs_sec": round(t_pairs, 2),
        "clusters_sec": round(t_chain, 2),
        "invariants": {
            "max_bucket_is_dup_set": metrics["max_bucket_size"] == args.n_dup,
            "star_routed_all_non_hubs":
                metrics["star_routed_ids"] == expected_star,
            "candidates_linear": n_pairs == args.n_dup - 1,
            "full_cluster_recovered":
                sizes[:1] == [args.n_dup] and len(sizes) == 1,
        },
    }
    print(json.dumps(result))
    ok = all(result["invariants"].values())
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    spark.stop()
    if not ok:
        raise SystemExit(f"megabucket invariants FAILED: {result['invariants']}")


if __name__ == "__main__":
    main(sys.argv[1:])
