"""Sources (PERMISSIVE scan isolation, S1-S3 analogs) + the summary sink
+ Structured Streaming incremental path."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from metacheck_spark.fixtures.gen_images import gen_rows, url_status_rows
from metacheck_spark.schemas import IMAGES_SCHEMA, URL_STATUS_SCHEMA
from metacheck_spark.sources.readers import corrupt_records, read_json_dir
from metacheck_spark.sources.sinks import summary_dict
from metacheck_spark.streaming.incremental import (
    run_available_now,
    stateful_stream_dedup,
    windowed_hit_counts,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def test_read_json_dir_isolates_corrupt_records(spark, tmp_path):
    p = tmp_path / "docs"
    p.mkdir()
    (p / "good.json").write_text(
        '{"doc_id": 1, "text": "alpha"}\n{"doc_id": 2, "text": "beta"}\n'
    )
    (p / "bad.json").write_text('{"doc_id": 3, "text": "gamma"\nNOT JSON AT ALL\n')
    good = read_json_dir(spark, str(p), DOC_SCHEMA)
    assert sorted(r.doc_id for r in good.collect()) == [1, 2]
    bad = corrupt_records(spark, str(p), DOC_SCHEMA)
    assert bad.count() == 2  # the unterminated line and the garbage line


def _audit_df(spark, images_dir):
    from metacheck_spark.pipeline import run_pipeline

    images = spark.read.schema(IMAGES_SCHEMA).parquet(f"{images_dir}/images.parquet")
    url_status = spark.read.schema(URL_STATUS_SCHEMA).parquet(
        f"{images_dir}/url_status.parquet"
    )
    return run_pipeline(spark, images, url_status)


def test_summary_sink(spark, images_dir):
    audit = _audit_df(spark, images_dir).cache()
    n_flagged = audit.filter(F.size("rule_hits") > 0).count()
    s = summary_dict(audit)
    assert s["summary"]["total_rows"] == 600
    assert s["summary"]["flagged_rows"] == n_flagged
    by_code = {r["code"]: r["count"] for r in s["pitfalls & warnings"]}
    assert sum(by_code.values()) == s["summary"]["total_pitfalls"] + s["summary"]["total_warnings"]
    audit.unpersist()


def test_available_now_is_incremental(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "stream_in"
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def write_batch(name, rows):
        t = pa.table(
            {
                "image_id": [r["image_id"] for r in rows],
                "bytes": pa.array([r["bytes"] for r in rows], type=pa.binary()),
                "w": pa.array([r["w"] for r in rows], type=pa.int32()),
                "h": pa.array([r["h"] for r in rows], type=pa.int32()),
                "fmt": [r["fmt"] for r in rows],
                "caption": [r["caption"] for r in rows],
                "phash": pa.array([r["phash"] for r in rows], type=pa.int64()),
            }
        )
        pq.write_table(t, str(src / name))

    us = spark.createDataFrame(url_status_rows(), URL_STATUS_SCHEMA)
    write_batch("b0.parquet", gen_rows(50, start=0))
    run_available_now(spark, str(src), us, out, ckpt)
    assert spark.read.parquet(out).count() == 50

    # second run with 30 NEW rows: only the delta is processed
    write_batch("b1.parquet", gen_rows(30, start=1000))
    run_available_now(spark, str(src), us, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 80
    assert got.select("image_id").distinct().count() == 80
    assert set(got.columns) == {
        "image_id", "rule_hits", "n_pitfalls", "n_warnings", "keep",
        "lang", "lang_conf", "ppl", "scrubbed_caption",
    }


def test_full_pipeline_stream_matches_batch(spark, images_dir, tmp_path):
    """The complete 8-stage pipeline (decode + fused caption UDF + labels +
    scrub) streamed with AvailableNow produces exactly the batch labels."""
    import shutil

    from metacheck_spark.pipeline import assemble_flags, with_labels

    src = tmp_path / "full_src"
    src.mkdir()
    shutil.copy(f"{images_dir}/images.parquet", src / "images.parquet")
    us = spark.read.schema(URL_STATUS_SCHEMA).parquet(
        f"{images_dir}/url_status.parquet"
    )
    out = str(tmp_path / "full_out")
    run_available_now(spark, str(src), us, out, str(tmp_path / "full_ckpt"))
    got = {
        r.image_id: (list(r.rule_hits), r.keep, r.lang, r.scrubbed_caption)
        for r in spark.read.parquet(out).collect()
    }
    batch = spark.read.schema(IMAGES_SCHEMA).parquet(f"{images_dir}/images.parquet")
    want = {
        r.image_id: (list(r.rule_hits), r.keep, r.lang, r.scrubbed_caption)
        for r in with_labels(assemble_flags(batch, us))
        .select("image_id", "rule_hits", "keep", "lang", "scrubbed_caption")
        .collect()
    }
    assert got == want


def test_stateful_stream_dedup(spark, tmp_path):
    """Three files, one micro-batch each: a copy inside a batch and copies
    arriving in later batches are all suppressed, and the dedup state holds
    exactly one row per distinct fingerprint (no watermark, so it never
    shrinks)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "dedup_in"
    src.mkdir()
    batches = [
        [("a", "the quick fox"), ("b", "THE  quick fox"), ("c", "another caption")],
        [("d", "Another caption"), ("e", "a third one")],  # d copies c
        [("f", "the quick  fox"), ("g", "fourth")],  # f copies a
    ]
    for i, rows in enumerate(batches):
        path = src / f"b{i}.parquet"
        ids, caps = zip(*rows)
        pq.write_table(pa.table({"image_id": ids, "caption": caps}), str(path))
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # file source order
    stream = (
        spark.readStream.schema("image_id string, caption string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stateful_stream_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(progress) == 3
    got = spark.sql("SELECT * FROM dedup_t").collect()
    assert len(got) == 4  # a/b collapse to one fingerprint; c, e, g
    assert {r.image_id for r in got} - {"a", "b"} == {"c", "e", "g"}
    assert len({r.fp for r in got}) == 4
    assert q.recentProgress[-1]["stateOperators"][0]["numRowsTotal"] == 4


def test_windowed_hit_counts_batch_semantics(spark):
    # windowed agg validated on a static frame (same expressions compile in
    # streaming mode with the watermark bounding state)
    df = spark.createDataFrame(
        [
            ("2024-01-01 00:01:00", ["P002"]),
            ("2024-01-01 00:02:00", ["P002", "W015"]),
            ("2024-01-01 00:07:00", ["P002"]),
        ],
        "ts string, rule_hits array<string>",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r.win_start.minute, r.code): r["count"]
        for r in windowed_hit_counts(df).collect()
    }
    assert got[(0, "P002")] == 2
    assert got[(0, "W015")] == 1
    assert got[(5, "P002")] == 1

