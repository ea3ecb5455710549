"""Structured Streaming surface — incremental quality-filter runs.

The reference is strictly batch (SURVEY.md §2.10); the north_rule requires
batch + resumability, which pipeline.write_audit's bucket ledger provides.
This module adds the optional incremental path: new files landing in the
images table directory are processed exactly once via a file-source stream
with Trigger.AvailableNow + checkpointing — the idiomatic Spark way to run
"only the rows that arrived since the last run" without hand-rolled ledgers.

run_available_now streams the batch plan itself: pipeline.assemble_flags
and pipeline.with_labels over readStream, with every rule (text, binary,
URL, model) and the same keep label, so batch/stream parity is by
construction, not duplication. Both UDF stages are narrow, and the
url_status dimension is broadcast, so the plan needs no stream join;
windowed counts demonstrate watermarking for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metacheck_spark.operators.dedup import normalized_text
from metacheck_spark.pipeline import assemble_flags, with_labels
from metacheck_spark.schemas import IMAGES_SCHEMA


def run_available_now(
    spark: SparkSession,
    input_path: str,
    url_status: DataFrame,
    output_path: str,
    checkpoint_path: str,
) -> None:
    """Process exactly the files not yet seen (per the checkpoint), then
    stop — the incremental batch pattern (Trigger.AvailableNow). Runs the
    full quality-filter pipeline (binary sanity + decode + fused
    caption-model UDF + keep/drop + scrub), the same
    assemble_flags/with_labels plan as batch, which Structured Streaming
    accepts unchanged because every stage is narrow (no shuffle): the
    streaming counterpart of the bucket-ledger resume."""
    stream = spark.readStream.schema(IMAGES_SCHEMA).parquet(input_path)
    labeled = with_labels(assemble_flags(stream, url_status))
    out = labeled.select(
        "image_id",
        "rule_hits",
        "n_pitfalls",
        "n_warnings",
        "keep",
        "lang",
        "lang_conf",
        "ppl",
        "scrubbed_caption",
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()


def stateful_stream_dedup(flags_stream: DataFrame) -> DataFrame:
    """Streaming exact-dedup: each distinct caption fingerprint is emitted
    once across micro-batches (first arrival wins, later copies are
    suppressed), by Spark's native stateful dropDuplicates on `fp`.

    The state is NOT bounded: with no watermark, the dedup state keeps
    one row per distinct fingerprint for the life of the checkpoint. A
    stream with an event-time column could bound it with withWatermark +
    dropDuplicatesWithinWatermark; no caller's stream has one.
    """
    keyed = flags_stream.withColumn("fp", F.md5(normalized_text(F.col("caption"))))
    return keyed.dropDuplicates(["fp"]).select("fp", "image_id", "caption")


def windowed_hit_counts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window_len: str = "5 minutes",
) -> DataFrame:
    """Watermarked tumbling-window per-rule hit counts over a flag stream —
    the late-data-tolerant analog of the batch A1 aggregate. State is
    bounded by the watermark; works on any stream bearing (ts, rule_hits)."""
    return (
        events.withWatermark(ts_col, watermark)
        .select(ts_col, F.explode("rule_hits").alias("code"))
        .groupBy(F.window(ts_col, window_len).alias("win"), "code")
        .count()
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "code",
            "count",
        )
    )
