#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the host's cores) and prints ONE JSON line

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline workload is the full quality-filter pipeline (SURVEY.md §7.1)
over a synthesized `images` table (BASELINE.json input_hint schema) — the
table is generated distributed (mapInPandas over spark.range) and cached as
parquet under .bench/ so repeated runs time the queries, not the generator.

Usage:
  python bench.py                   # full battery, one JSON line to stdout

Each query reports the min of 3 passes (the first pass also warms plan,
codegen and the Python worker pools), and every pass is recorded under
`observations`. This script is the driver-contract timing; the
benchmark of record, with bounds and per-layer metrics, is perfbench/.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
from metacheck_spark.session import default_cpus  # noqa: E402

CPUS = default_cpus()
IMAGES_ROWS = 60_000
# Fixed input-split count for the images scan at every parallelism level
# (same input, same splits — only the compute resources vary): one file
# per split, with file packing disabled in ensure_images.
SPLITS = 64
CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def ensure_images(spark, n: int) -> str:
    """Generate (once) and return the path of the cached bench images table."""
    from metacheck_spark.fixtures.gen_images import gen_images_df, url_status_rows
    from metacheck_spark.schemas import URL_STATUS_SCHEMA

    path = os.path.join(CACHE_DIR, f"images_{n}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        log(f"[bench] generating images table n={n} -> {path}")
        gen_images_df(spark, n, partitions=SPLITS).write.mode(
            "overwrite"
        ).parquet(path)
    us_path = os.path.join(CACHE_DIR, "url_status")
    if not os.path.exists(os.path.join(us_path, "_SUCCESS")):
        spark.createDataFrame(url_status_rows(), URL_STATUS_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(us_path)
    # One file = one input split, at every local[N]: a handful of
    # single-row-group files would cap parallelism below N, while
    # hundreds of tiny splits drown the measurement in the per-task
    # Python-runner handshake (~10 ms, serialized through the worker
    # daemon — noise on a real cluster where tasks run for seconds, but
    # dominant here). Sizing the split cap just under the file size and
    # raising the open cost disables file packing exactly.
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    per_file = max(4 * 1024 * 1024, total // SPLITS)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(per_file))
    spark.conf.set("spark.sql.files.openCostInBytes", str(per_file))
    return path


def run_noop(df) -> int:
    """Force full computation without a materialization sink."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def timed(fn, spark=None) -> float:
    # Clear the DF cache first: dedup operators persist() their candidate
    # frames, and across repeated passes the CacheManager would otherwise
    # match the identical plan ("already cached" warnings) and serve the
    # second pass from cache — measuring a cache hit, not the operator.
    if spark is not None:
        spark.catalog.clearCache()
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def min_of_3(fn, spark) -> tuple[float, list[float]]:
    """Min over 3 timed passes, plus every pass."""
    obs = [timed(fn, spark) for _ in range(3)]
    return min(obs), obs


def bench_pipeline(spark) -> tuple[float, list[float], int]:
    """The flagship: full quality-filter pipeline (sanity + text rules +
    decode UDF + fused langid/ppl/URL/scrub caption UDF + audit)."""
    from metacheck_spark.pipeline import run_pipeline

    img_path = ensure_images(spark, IMAGES_ROWS)
    images = spark.read.parquet(img_path)
    url_status = spark.read.parquet(os.path.join(CACHE_DIR, "url_status"))

    audit = run_pipeline(spark, images, url_status)
    # Warm with one FULL pass: the first execution pays python worker
    # forks + numpy/pandas imports + JVM JIT — one-time costs a cluster
    # job amortizes over 10^12 rows. Then min-of-3: the min absorbs
    # bursty host stalls.
    run_noop(audit)
    sec, obs = min_of_3(lambda: run_noop(audit), spark)
    return sec, obs, IMAGES_ROWS


def main() -> None:
    from metacheck_spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", app_name="metacheck_bench")
    sf = _sf_from_dir(SF_DIR)
    queries: dict[str, float] = {}
    observations: dict[str, list[float]] = {}

    # Warm up the JVM + python workers so the first timed query isn't
    # paying session start-up costs.
    spark.range(1000).selectExpr("sum(id)").collect()

    psec, pobs, prows = bench_pipeline(spark)
    queries["quality_pipeline"] = psec
    observations["quality_pipeline"] = pobs

    import __spark_entry__ as E
    from metacheck_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    battery = {
        "rule_flags": lambda: run_noop(E.q_rule_flags(spark, SF_DIR)),
        "rule_counts": lambda: E.q_rule_counts(spark, SF_DIR).collect(),
        "agg_pricing": lambda: E.q_agg_pricing(spark, SF_DIR).collect(),
        "join_revenue": lambda: E.q_join_revenue(spark, SF_DIR).collect(),
        "topk_per_group": lambda: run_noop(E.q_topk_per_group(spark, SF_DIR)),
        "events_json": lambda: E.q_events_json(spark, SF_DIR).collect(),
        "events_daily": lambda: E.q_events_daily(spark, SF_DIR).collect(),
        "text_quality": lambda: run_noop(E.q_text_quality(spark, SF_DIR)),
        "exact_dedup": lambda: run_noop(
            D.exact_dedup(docs, "text", "doc_id")
        ),
        # num_partitions="auto": the bench corpus is a handful of parquet
        # splits, so the ~100x-per-row shingle/signature stages need the
        # explicit fan-out (the operators no longer repartition by default
        # — a production table arrives well-partitioned).
        "minhash_dedup": lambda: run_noop(
            D.minhash_dedup_pairs(
                docs, "text", "doc_id", threshold=0.8, num_partitions="auto"
            )
        ),
        "simhash_dedup": lambda: run_noop(
            D.simhash_dup_pairs(docs, "text", "doc_id", num_partitions="auto")
        ),
        # min_shared high enough to discriminate on the synthetic corpus
        # (template overlap shares a handful of fps; real near-dups share
        # dozens) — mirrors the driver gate's winnow_pairs setting.
        # max_doc_freq: the MOSS boilerplate cutoff; without it the
        # corpus's template fingerprints form thousands of ~1000-doc
        # buckets whose quadratic expansion is the whole job (~29s).
        "winnow_dedup": lambda: run_noop(
            D.winnow_overlap_pairs(
                docs, "text", "doc_id", min_shared=20, max_doc_freq=50,
                num_partitions="auto",
            )
        ),
        "cosine_topk": lambda: E.q_cosine_topk(spark, SF_DIR).collect(),
        "lsh_topk": lambda: E.q_lsh_topk(spark, SF_DIR).collect(),
        "ivf_topk": lambda: E.q_ivf_topk(spark, SF_DIR).collect(),
    }
    for name, fn in battery.items():
        sec, obs = min_of_3(fn, spark)
        queries[name] = sec
        observations[name] = obs
        log(f"[bench] {name}: {sec}s")

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": int(CPUS),
        "images_rows": prows,
        "pipeline_rows_per_sec": round(prows / psec, 1),
        "observations": observations,
    }
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
