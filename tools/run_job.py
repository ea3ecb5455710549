#!/usr/bin/env python
"""Production entrypoint for the quality-filter pipeline — the script you
hand to spark-submit:

    python tools/make_pyfiles.py                      # -> dist/metacheck_spark.zip
    spark-submit --py-files dist/metacheck_spark.zip \
        tools/run_job.py --images <path> --url-status <path> \
        --audit <path> --kept <path> [--buckets 32] [--salt 8] \
        [--run-ts 2026-01-01T00:00:00Z] [--summary <file>]

Resumable by construction: before processing, the committed buckets in the
audit table are read back (the bucket-partition dirs ARE the ledger) and
already-committed rows are dropped from the input (pipeline.resume_filter).
Re-running after a mid-job failure processes only the remaining buckets, and
the kept table is reconciled FROM the audit table (anti-join backfill,
pipeline.reconcile_kept) so a crash between the audit commit and the kept
write converges to exactly-once output on rerun instead of losing rows.

On a cluster nothing changes except the master/deploy-mode flags; in the
sandbox the same script runs under local[N].
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True)
    ap.add_argument("--url-status", required=True)
    ap.add_argument("--audit", required=True)
    ap.add_argument("--kept", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--salt", type=int, default=8)
    ap.add_argument("--run-ts", default="1970-01-01T00:00:00Z")
    ap.add_argument("--summary", default=None)
    args = ap.parse_args(argv)

    # SparkSession comes from spark-submit's conf (master, executors, ...);
    # getOrCreate here neither forces local mode nor overrides the cluster.
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("metacheck-quality-filter").getOrCreate()

    from metacheck_spark.pipeline import (
        assemble_flags,
        audit_frame,
        completed_buckets,
        reconcile_kept,
        resume_filter,
        with_labels,
        write_audit,
    )
    from metacheck_spark.sources.readers import read_images, read_url_status

    images = read_images(spark, args.images)
    url_status = read_url_status(spark, args.url_status)

    done = completed_buckets(spark, args.audit)
    if done:
        print(f"[resume] {len(done)} buckets already committed: {sorted(done)}")
    todo = resume_filter(images, done, args.buckets)

    labeled = with_labels(assemble_flags(todo, url_status))
    audit = audit_frame(labeled, args.run_ts, args.buckets)
    write_audit(audit, args.audit, args.buckets)
    n_kept = reconcile_kept(spark, args.audit, args.kept, args.salt)
    print(f"[kept] reconciled {n_kept} rows into {args.kept}")

    if args.summary:
        from metacheck_spark.sources.sinks import write_summary

        s = write_summary(spark.read.parquet(args.audit), args.summary)
        print(
            f"[summary] total={s['summary']['total_rows']} "
            f"kept={s['summary']['kept_rows']} "
            f"flagged={s['summary']['flagged_rows']}"
        )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
