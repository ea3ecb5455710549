"""Sources — the engine's scan surface (SURVEY.md §2.1 S1-S4).

The reference scans a directory of JSON documents one file at a time with
per-file error isolation (/root/reference .../detect_pitfalls_main.py:415-421,
357-362). Here every scan is a declarative Spark datasource read with an
explicit schema so Catalyst prunes columns and pushes filters into the scan,
and error isolation is the datasource's PERMISSIVE mode + a corrupt-record
filter instead of try/except per file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def _with_corrupt_col(schema: T.StructType) -> T.StructType:
    # fresh StructType: StructType.add mutates the receiver in place,
    # which would poison a caller-owned schema reused across reads
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )


def read_json_dir(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType,
    multiline: bool = False,
) -> DataFrame:
    """Schema-on-read JSON scan over a directory glob or explicit path list
    (S1/S2). DROPMALFORMED reproduces the reference's skip-bad-files
    semantics (detect_pitfalls_main.py:357-359) declaratively at the
    source — no corrupt-record filter in the plan, so any downstream query
    shape works (a PERMISSIVE+filter formulation breaks count()-style
    plans: after pruning, the scan references only the internal corrupt
    column, which Spark rejects). Use corrupt_records() for the
    diagnostic complement."""
    return (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .option("multiLine", str(multiline).lower())
        .json(path)
    )


def corrupt_records(
    spark: SparkSession, path: str | list[str], schema: T.StructType
) -> DataFrame:
    """The complement of read_json_dir: the records that failed to parse,
    for the audit trail (the reference prints and skips them).

    The parsed frame is cached first: Spark refuses plans that reference
    only the internal corrupt-record column of a raw JSON scan (the
    documented workaround). Diagnostic path — not the 10^12-row hot path,
    where the parsed frame is written once and both halves read from that.
    """
    full = _with_corrupt_col(schema)
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
        .cache()
    )
    return df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)


def read_images(spark: SparkSession, path: str) -> DataFrame:
    """The primary input table (BASELINE.json input_hint schema). Parquet in
    the sandbox; on a cluster this is the Iceberg table scan — same schema,
    same downstream plan."""
    from metacheck_spark.schemas import IMAGES_SCHEMA

    return spark.read.schema(IMAGES_SCHEMA).parquet(path)


def read_url_status(spark: SparkSession, path: str) -> DataFrame:
    """Frozen URL-status dimension (broadcast side of the P013/P025 join)."""
    from metacheck_spark.schemas import URL_STATUS_SCHEMA

    return spark.read.schema(URL_STATUS_SCHEMA).parquet(path)
