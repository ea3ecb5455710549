"""The quality-filter pipeline (SURVEY.md §7.1), Spark-first.

Stage layout over the `images` table (BASELINE.json input_hint schema):

  1. sanity predicates      -> native Columns (header/magic-byte parses via
                               substring()/conv() on the binary column)
  2. caption heuristic rules-> native Columns (rules/registry.py, one
                               codegen'd projection)
  3. URL validity           -> broadcast-dict lookup of each caption URL in
                               the frozen url_status dimension (the
                               reference's P013/P025 HTTP checks), inside
                               the fused caption UDF (make_caption_stage_udf)
  4. decode + phash         -> Iterator pandas UDF (Arrow batches; the only
                               stage that touches pixel data)
  5. langid + perplexity    -> the same fused caption UDF (functions/langid.py,
                               functions/perplexity.py — shared with oracle)
  6. keep/drop combine      -> any pitfall => drop; warnings recorded
  7. PII/toxicity scrub     -> the same fused caption UDF (compiled Python
                               `re`), masked to kept rows
  8. audit + metrics + write-> phash-bucketed audit table (resume ledger),
                               salted-by-language scrubbed output

Scale notes (10^12-row design): stages 1-2 and 6 are narrow (no shuffle);
stages 3-5-7 share one Arrow crossing of the caption column and stage 4
is a second (both narrow projections; the url_status dimension is small
enough to collect and broadcast); the only shuffles are the final bucketed/
salted repartitions for the writes and the tiny metrics aggregations.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from metacheck_spark.functions.langid import langid_batch
from metacheck_spark.functions.perplexity import PPL_THRESHOLD, ppl_batch
from metacheck_spark.functions.scrub import scrub_batch
from metacheck_spark.rules.registry import REGISTRY, TEXT_RULES
from metacheck_spark.tally import label_hits

# ---------------------------------------------------------------------------
# stage 1: sanity predicates — native header parses on the binary column

_PNG_MAGIC_HEX = "89504E470D0A1A0A"
_JPG_MAGIC_HEX = "FFD8FF"
_JFIF_ID_HEX = "4A464946"  # 'JFIF' at byte 7 (1-based) of a real stream
# 1-based offsets of the real encoder's fixed SOF0 dim fields (jfif.py)
_JFIF_SOF_H_POS = 164
_JFIF_SOF_W_POS = 166
# 1-based offset of the SOF0 marker itself (FF C0) under this encoder's
# fixed segment order (SOI 2 + APP0 18 + DQT 69 + DQT 69). The dim
# offsets are only trusted when this marker is actually there: a JFIF
# from the wild (extra APP1/COM segments, combined DQT) carries the same
# APP0 identifier but a different layout, and reading dims at the fixed
# offsets would yield garbage instead of null.
_JFIF_SOF_MARKER_POS = 159
_JFIF_SOF_MARKER_HEX = "FFC0"


def _be32(col_expr: str, pos: int) -> Column:
    """Big-endian uint32 at 1-based byte offset `pos` of the binary column,
    parsed natively: substring -> hex -> conv(16,10) -> try_cast."""
    return F.expr(
        f"try_cast(conv(hex(substring({col_expr}, {pos}, 4)), 16, 10) AS BIGINT)"
    )


def _be16(col_expr: str, pos: int) -> Column:
    """Big-endian uint16 at 1-based byte offset `pos`, parsed natively."""
    return F.expr(
        f"try_cast(conv(hex(substring({col_expr}, {pos}, 2)), 16, 10) AS BIGINT)"
    )


def binary_sanity_cols(bytes_col: str = "bytes") -> dict[str, Column]:
    """magic_fmt + header dims, all whole-stage-codegen'd (no decode).

    Three header layouts (fixtures/codec.py module docstring): PNG IHDR
    dims, REAL JFIF (the 'JFIF' APP0 identifier at byte 7, SOF0 dims at
    the encoder's fixed offsets — BE16 height at 164, width at 166,
    1-based), and the legacy fake-JPEG wrapper (BE32 dims at 5/9)."""
    b = F.col(bytes_col)
    is_png = F.hex(F.expr(f"substring({bytes_col}, 1, 8)")) == _PNG_MAGIC_HEX
    is_jpg = F.hex(F.expr(f"substring({bytes_col}, 1, 3)")) == _JPG_MAGIC_HEX
    is_jfif = is_jpg & (
        F.hex(F.expr(f"substring({bytes_col}, 7, 4)")) == _JFIF_ID_HEX
    )
    # SOF0 marker present at the fixed offset -> the fixed dim offsets
    # are valid; otherwise fall through to null (dims unknown), never to
    # a misread.
    has_fixed_sof = (
        F.hex(F.expr(f"substring({bytes_col}, {_JFIF_SOF_MARKER_POS}, 2)"))
        == _JFIF_SOF_MARKER_HEX
    )
    magic_fmt = (
        F.when(b.isNull(), F.lit(None).cast("string"))
        .when(is_png, F.lit("png"))
        .when(is_jpg, F.lit("jpeg"))
        .otherwise(F.lit(None).cast("string"))
    )
    long_enough_png = F.length(b) >= 24
    long_enough_jfif = F.length(b) >= _JFIF_SOF_W_POS + 1
    long_enough_jpg = F.length(b) >= 12
    hdr_w = (
        F.when(is_png & long_enough_png, _be32(bytes_col, 17))
        .when(
            is_jfif & long_enough_jfif & has_fixed_sof,
            _be16(bytes_col, _JFIF_SOF_W_POS),
        )
        .when(is_jpg & ~is_jfif & long_enough_jpg, _be32(bytes_col, 5))
    )
    hdr_h = (
        F.when(is_png & long_enough_png, _be32(bytes_col, 21))
        .when(
            is_jfif & long_enough_jfif & has_fixed_sof,
            _be16(bytes_col, _JFIF_SOF_H_POS),
        )
        .when(is_jpg & ~is_jfif & long_enough_jpg, _be32(bytes_col, 9))
    )
    return {"magic_fmt": magic_fmt, "hdr_w": hdr_w, "hdr_h": hdr_h}


def sanity_rule_flags() -> dict[str, Column]:
    """P001 (declared dims vs header dims) and P026 (declared fmt vs magic)
    as native predicates over the stage-1 columns."""
    p001 = (
        F.col("hdr_w").isNotNull()
        & F.col("hdr_h").isNotNull()
        & ((F.col("hdr_w") != F.col("w")) | (F.col("hdr_h") != F.col("h")))
    )
    p026 = (
        F.col("magic_fmt").isNotNull()
        & F.col("fmt").isNotNull()
        & (F.col("magic_fmt") != F.col("fmt"))
    )
    return {"P001": p001, "P026": p026}


# ---------------------------------------------------------------------------
# stages 3+5+7: the fused caption stage (URL checks, langid, ppl, scrub) —
# the one caption-text path; the documents scorers in __spark_entry__
# (q_langid_docs, q_ppl_docs, q_scrub_docs) read its fields too

_CAPTION_STAGE_T = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("lang_conf", T.DoubleType()),
        T.StructField("ppl", T.DoubleType()),
        T.StructField("P013", T.BooleanType()),
        T.StructField("P025", T.BooleanType()),
        T.StructField("scrubbed", T.StringType()),
    ]
)


def make_caption_stage_udf(spark: SparkSession, url_status: DataFrame):
    """ALL caption-text processing (langid + perplexity + URL checks +
    scrub) fused into ONE pandas UDF: the caption column crosses the
    JVM->Arrow->Python boundary once instead of four times, and each task
    leases one Python worker for the whole text stage instead of four —
    at 10^12 rows the Arrow serialization of the caption column and the
    per-task worker fan-out are first-order costs.

    The scrub is computed for every row here and masked to kept rows in
    with_labels (keep depends on the binary-stage flags, unknowable in
    this column-local stage); three compiled-regex substitutions on soon-
    dropped rows cost far less than a fourth Arrow crossing + worker pool.
    """
    from metacheck_spark.functions.urlcheck import url_flags_batch

    rows = url_status.collect()
    status = {
        r["url"]: (r["status_code"] if r["status_code"] is not None else -1)
        for r in rows
    }
    bc = spark.sparkContext.broadcast(status)

    @F.pandas_udf(_CAPTION_STAGE_T)
    def caption_stage_udf(s: pd.Series) -> pd.DataFrame:
        lang, conf = langid_batch(s)
        ppl = ppl_batch(s)
        uf = url_flags_batch(s, bc.value)
        return pd.DataFrame(
            {
                "lang": lang,
                "lang_conf": conf,
                "ppl": ppl,
                "P013": uf["P013"],
                "P025": uf["P025"],
                "scrubbed": scrub_batch(s),
            }
        )

    return caption_stage_udf


# ---------------------------------------------------------------------------
# stage 4: decode + phash (the only pixel-touching stage; Arrow batches)


# Return types as DataType objects (DDL strings would require an active
# SparkSession at import time).
_DECODE_T = T.StructType(
    [
        T.StructField("decoded_ok", T.BooleanType()),
        T.StructField("phash_calc", T.LongType()),
    ]
)


@F.pandas_udf(_DECODE_T)
def decode_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    # Imports inside the UDF body run once per worker, not per batch.
    # The per-image loop is inherent (decoding is per-image; inner work
    # is numpy). codec.decode is the swap point: at production scale the
    # pure-numpy JFIF fixture (~100x slower than libjpeg-turbo) is
    # replaced by a native codec (libjpeg-turbo / Pillow-SIMD) behind
    # the same bytes -> ndarray signature; nothing else here changes.
    from metacheck_spark.fixtures import codec

    for s in batches:
        oks, phs = [], []
        for b in s:
            arr = codec.decode(bytes(b)) if b is not None else None
            oks.append(arr is not None)
            phs.append(codec.average_phash(arr) if arr is not None else None)
        # Nullable Int64: a plain list with None would coerce to float64
        # and silently truncate 64-bit hashes past 2^53.
        yield pd.DataFrame(
            {"decoded_ok": oks, "phash_calc": pd.array(phs, dtype="Int64")}
        )


# ---------------------------------------------------------------------------
# stages 2+6: assemble ordered rule hits and the keep label


def assemble_flags(images: DataFrame, url_status: DataFrame) -> DataFrame:
    """All per-row derived columns, flags keyed `hit_<code>` in registry
    order, plus lang/lang_conf/ppl and the unmasked `scrubbed_all`.

    Fully narrow — no shuffle anywhere in the flag assembly: the URL check
    is a broadcast-dict lookup inside the fused caption UDF."""
    df = images.withColumns(binary_sanity_cols())
    df = df.withColumn("dec", decode_udf(F.col("bytes"))).select(
        "*", "dec.decoded_ok", "dec.phash_calc"
    ).drop("dec")

    stage_udf = make_caption_stage_udf(images.sparkSession, url_status)
    df = df.withColumn("m", stage_udf(F.col("caption"))).select(
        "*", "m.lang", "m.lang_conf", "m.ppl", "m.P013", "m.P025",
        F.col("m.scrubbed").alias("scrubbed_all"),
    ).drop("m")

    # One predicate per rule code; a null predicate (missing input) is a
    # non-hit, the reference's per-detector abstention.
    caption = F.col("caption")
    flags: dict[str, Column] = {
        **sanity_rule_flags(),
        "P019": F.col("phash_calc").isNotNull()
        & (F.col("phash_calc") != F.col("phash")),
        "X001": ~F.coalesce(F.col("decoded_ok"), F.lit(False)),
        "P013": F.col("P013"),
        "P025": F.col("P025"),
        "X002": F.col("lang") == "und",
        "X003": F.col("ppl") > F.lit(PPL_THRESHOLD),
        **{r.code: r.spark(caption) for r in TEXT_RULES},
    }
    return df.withColumns(
        {f"hit_{r.code}": F.coalesce(flags[r.code], F.lit(False)) for r in REGISTRY}
    )


def with_labels(flagged: DataFrame) -> DataFrame:
    """rule_hits/n_pitfalls/n_warnings/keep over the registry's flags
    (tally.label_hits), plus the scrubbed caption."""
    df = label_hits(flagged, [r.code for r in REGISTRY])
    # Scrubbed caption exposed for kept rows only (reference semantics:
    # dropped rows carry no scrubbed text); the fused caption stage
    # already computed it for every row.
    return df.withColumn(
        "scrubbed_caption",
        F.when(F.col("keep"), F.col("scrubbed_all")).otherwise(F.lit(None)),
    ).drop("scrubbed_all")


# ---------------------------------------------------------------------------
# stage 8: audit table (phash-bucketed, resume ledger) + kept output


def audit_frame(labeled: DataFrame, run_ts: str, buckets: int = 32) -> DataFrame:
    return labeled.select(
        "image_id",
        "rule_hits",
        "n_pitfalls",
        "n_warnings",
        "keep",
        "lang",
        "lang_conf",
        "ppl",
        "scrubbed_caption",
        "phash",
        F.pmod(F.col("phash"), F.lit(buckets)).cast("int").alias("bucket"),
        F.lit(run_ts).alias("run_ts"),
    )


def write_audit(audit: DataFrame, path: str, buckets: int = 32) -> None:
    """Phash-bucketed write: one output partition dir per bucket — the
    bucket dirs double as the resume ledger (a bucket directory present =
    that slice committed). Iceberg's bucket transform plays this role in
    production; plain partitioned parquet keeps the sandbox dependency-free
    with the same layout."""
    (
        audit.repartition(buckets, "bucket")
        .sortWithinPartitions("image_id")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(path)
    )


# What reading a parquet directory raises when nothing was ever committed
# there: the directory is missing, or holds only hidden entries — a crash
# during the first commit leaves just the committer's _temporary/ tree.
_NOTHING_COMMITTED = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def read_committed(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at `path`, or None when nothing was committed
    there yet. Any other failure to read it (permission denied, corrupt
    footer, transient FS error) raises: both sinks append, so mistaking
    an unreadable table for an empty one would re-append everything it
    holds."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() not in _NOTHING_COMMITTED:
            raise
        return None


def completed_buckets(spark: SparkSession, path: str) -> list[int | None]:
    """Bucket ids already committed to the audit table at `path` (None
    for the bucket of null-phash rows)."""
    audit = read_committed(spark, path)
    if audit is None:
        return []
    return [r.bucket for r in audit.select("bucket").distinct().collect()]


def resume_filter(
    images: DataFrame, done: list[int | None], buckets: int = 32
) -> DataFrame:
    """Drop rows whose bucket already committed — the anti-join resume of
    SURVEY.md §7.5 (a literal isin here since the ledger is a tiny list;
    with an Iceberg ledger table this is a broadcast left_anti join).

    A null phash falls in the null bucket, which completed_buckets reports
    as None: those rows stay to do until None is in `done`."""
    if not done:
        return images
    b = F.pmod(F.col("phash"), F.lit(buckets)).cast("int")
    ids = [d for d in done if d is not None]
    return images.filter(
        F.when(b.isNull(), F.lit(None not in done)).otherwise(~b.isin(ids))
    )


def kept_output(labeled: DataFrame, salt: int = 8) -> DataFrame:
    """Kept rows, salted-repartitioned by (lang, pmod(phash, salt)) so the
    Zipf-skewed language shards split across `salt` tasks each instead of
    one straggler per hot language."""
    return (
        labeled.filter(F.col("keep"))
        .select("image_id", "lang", "scrubbed_caption", "phash")
        .repartition(F.col("lang"), F.pmod(F.col("phash"), F.lit(salt)))
    )


def reconcile_kept(
    spark: SparkSession, audit_path: str, kept_path: str, salt: int = 8
) -> int:
    """Idempotent kept sink: backfill every keep=true audit row that is not
    yet in the kept table. The audit table is the single source of truth
    (it carries image_id/lang/scrubbed_caption/phash), so the kept output
    converges to exactly-once no matter where a previous run died — in
    particular a crash BETWEEN the audit commit and the kept write, which
    a ledger-skipping rerun would otherwise lose forever. The diff is a
    left_anti join on image_id (broadcast when the existing side is small;
    a plain shuffle anti-join at scale — both sides are already columnar
    scans pruned to two columns). Returns the number of rows appended,
    observed on the write itself (no second job)."""
    from pyspark.sql import Observation

    # keep=true BEFORE the anti-join: the predicate reaches the parquet
    # scan (kept_output would filter it anyway, but only after shuffling
    # dropped rows through the join at 10^12-row scale)
    audit = spark.read.parquet(audit_path).filter(F.col("keep"))
    existing = read_committed(spark, kept_path)
    missing = (
        audit if existing is None
        else audit.join(existing.select("image_id"), "image_id", "left_anti")
    )
    obs = Observation("reconcile_kept")
    out = kept_output(missing, salt).observe(obs, F.count(F.lit(1)).alias("n"))
    out.write.mode("append").partitionBy("lang").parquet(kept_path)
    return int(obs.get["n"])


# ---------------------------------------------------------------------------


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    url_status: DataFrame,
    run_ts: str = "1970-01-01T00:00:00Z",
    buckets: int = 32,
) -> DataFrame:
    """images + url_status -> audit frame (not yet written)."""
    flagged = assemble_flags(images, url_status)
    labeled = with_labels(flagged)
    return audit_frame(labeled, run_ts, buckets)
