"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in metacheck_spark/ — this module only wires the
contract surface.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from metacheck_spark.functions.text import (
    bpe_ish_count,
    digit_ratio,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from metacheck_spark.operators import dedup as D
from metacheck_spark.operators import similarity as S
from metacheck_spark.rules.registry import DUCKDB_SAFE
from metacheck_spark.tally import fold, hit_histogram, label_hits

SF0001 = "/root/testdata/sf0.001"


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


# ---------------------------------------------------------------------------
# Flagship: the quality-filter rule battery evaluated over the documents
# table in a single codegen'd pass, reduced to per-rule hit counts (the A1
# aggregate of SURVEY.md §2.4).

def entry(spark: SparkSession) -> DataFrame:
    return q_rule_counts(spark, SF0001)


# ---------------------------------------------------------------------------
# Deterministic trigger seeding: the documents corpus is generic vocabulary
# (no rule fires on it), so both sides decorate text with rule-trigger
# snippets keyed by doc_id % 12. Identical expressions in Spark and DuckDB —
# the comparison then exercises every predicate with varied outcomes instead
# of hashing an all-false table.

_TRIGGERS = [
    " see <year> placeholder",                       # P002
    " requires numpy",                               # W003
    " written in Python",                            # W010
    " deps: Numpy Pandas",                           # W012
    " visit https://proj.readthedocs.io/latest",     # P006
    " archived at zenodo.org/record/123",            # P007
    " tags [red, fox]",                              # W021
    " swh:1:rev:0123456789abcdef0123456789abcdef01234567 ok",  # P028
]


def _seeded_caption_col() -> F.Column:
    c = F.col("text")
    expr = F.when(F.col("doc_id") % 12 == 8, F.lit(""))          # W015
    expr = expr.when(F.col("doc_id") % 12 == 9, F.concat(c, F.lit("  end")))  # P018
    expr = expr.when(
        F.col("doc_id") % 12 == 10, F.lit("https://www.example.com/x")
    )  # P020
    for i, t in enumerate(_TRIGGERS):
        expr = expr.when(F.col("doc_id") % 12 == i, F.concat(c, F.lit(t)))
    return expr.otherwise(c)


def _seeded_caption_sql() -> str:
    cases = [
        "WHEN doc_id % 12 = 8 THEN ''",
        "WHEN doc_id % 12 = 9 THEN text || '  end'",
        "WHEN doc_id % 12 = 10 THEN 'https://www.example.com/x'",
    ] + [
        f"WHEN doc_id % 12 = {i} THEN text || '{t}'"
        for i, t in enumerate(_TRIGGERS)
    ]
    return "CASE " + " ".join(cases) + " ELSE text END"


def _docs_histogram(spark: SparkSession, sf_dir: str, *by: str) -> list:
    """The trigger-seeded documents labelled with the DuckDB-expressible
    rules (tally.label_hits; a null predicate is a non-hit), as a
    (*by, rule_hits) histogram — one Spark action. The three count
    queries fold it (A1/A3-A7 analogs, detect_pitfalls_main.py:317-330)."""
    df = _documents(spark, sf_dir).withColumn("caption", _seeded_caption_col())
    c = F.col("caption")
    flagged = df.withColumns(
        {f"hit_{r.code}": F.coalesce(r.spark(c), F.lit(False)) for r in DUCKDB_SAFE}
    )
    return hit_histogram(label_hits(flagged, [r.code for r in DUCKDB_SAFE]), *by)


_RULE_COUNT_DDL = ", ".join(f"{r.code.lower()} bigint" for r in DUCKDB_SAFE)


def _rule_count_sql_exprs() -> str:
    return ",\n  ".join(
        f"count(CASE WHEN {r.duckdb.format(c='caption')} THEN 1 END) AS {r.code.lower()}"
        for r in DUCKDB_SAFE
    )


def q_rule_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule hit counts over trigger-seeded captions."""
    t = fold(_docs_histogram(spark, sf_dir))
    return spark.createDataFrame(
        [[t.rules[r.code] for r in DUCKDB_SAFE]], _RULE_COUNT_DDL
    )


def _rule_counts_sql() -> str:
    return (
        f"SELECT\n  {_rule_count_sql_exprs()}\nFROM (SELECT {_seeded_caption_sql()}"
        " AS caption FROM documents)"
    )


def q_rule_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boolean flag per DuckDB-expressible rule — the row-level
    predicate surface itself, value-hash-checked against the oracle."""
    df = _documents(spark, sf_dir).withColumn("caption", _seeded_caption_col())
    c = F.col("caption")
    cols = [F.col("doc_id")] + [
        r.spark(c).alias(f"{r.code.lower()}_hit") for r in DUCKDB_SAFE
    ]
    return df.select(*cols)


def _rule_flags_sql() -> str:
    exprs = ",\n  ".join(
        f"{r.duckdb.format(c='caption')} AS {r.code.lower()}_hit" for r in DUCKDB_SAFE
    )
    return (
        f"SELECT doc_id,\n  {exprs}\nFROM (SELECT doc_id,"
        f" {_seeded_caption_sql()} AS caption FROM documents)"
    )


def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregate (A1-A5 analog: grouped counts/sums/avgs)."""
    df = _lineitem(spark, sf_dir)
    return (
        df.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_AGG_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Dedup operators (documents corpus has no organic dups, so both sides seed
# exact copies / near-variants deterministically from doc_id).


def _with_exact_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.unionAll(copies)


_EXACT_COPIES_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_with_exact_copies(spark, sf_dir), "text", "doc_id")


_EXACT_DEDUP_SQL = f"""
SELECT min(doc_id) AS keep_id, count(*) AS n_copies
FROM ({_EXACT_COPIES_SQL})
GROUP BY trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')
"""


def q_exact_dedup_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact_dedup's narrow-shuffle mode: groups on md5(normalized text)
    — a 16-byte shuffle key instead of the full document, the only sane
    shape at 10^12 rows. Oracle groups on the same digest in DuckDB, so
    the distributive equivalence (digest grouping == text grouping absent
    collisions) is hash-checked cross-engine."""
    return D.exact_dedup(
        _with_exact_copies(spark, sf_dir), "text", "doc_id", key="digest"
    )


_EXACT_DEDUP_DIGEST_SQL = f"""
SELECT min(doc_id) AS keep_id, count(*) AS n_copies
FROM ({_EXACT_COPIES_SQL})
GROUP BY md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' '))
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.fingerprint(_documents(spark, sf_dir), "text", "doc_id")


_FINGERPRINT_SQL = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')) AS fingerprint
FROM documents
"""


def _with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("doc_id", "text").filter(F.col("doc_id") < 150)
    variants = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
    )
    return d.unionAll(variants)


_NEAR_DUPS_SQL = """
SELECT doc_id, text FROM documents WHERE doc_id < 150
UNION ALL
SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
FROM documents WHERE doc_id % 7 = 0 AND doc_id < 150
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        _with_near_dups(spark, sf_dir), "text", "doc_id", n=2, threshold=0.8,
        num_partitions="auto",
    )


_NGRAM_JACCARD_SQL = f"""
WITH base AS ({_NEAR_DUPS_SQL}),
sh AS (
  SELECT doc_id AS id,
         list_distinct(
           list_transform(
             range(1, len(regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+'))),
             i -> regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+')[i] || ' ' ||
                  regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+')[i+1]
           )
         ) AS sh
  FROM base
)
SELECT a.id AS id_a, b.id AS id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
FROM sh a JOIN sh b ON a.id < b.id
WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.8
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution over near-dup pairs (connected components via
    min-label propagation, operators/dedup.py:dedup_clusters): the step a
    real dedup needs beyond pair emission. Seeds CHAINS (doc -> variant ->
    longer variant) so transitive closure is actually exercised — A~C may
    be absent from the pair set while {A,B,C} is one cluster."""
    d = _documents(spark, sf_dir).select("doc_id", "text").filter(F.col("doc_id") < 150)
    v1 = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
    )
    v2 = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token extra token")).alias("text"),
    )
    base = d.unionAll(v1).unionAll(v2)
    pairs = D.ngram_jaccard_pairs(
        base, "text", "doc_id", n=2, threshold=0.8, num_partitions="auto"
    )
    return D.dedup_clusters(pairs)


_DEDUP_CLUSTERS_SQL = """
WITH RECURSIVE base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 100000, text || ' extra token'
  FROM documents WHERE doc_id % 7 = 0 AND doc_id < 150
  UNION ALL
  SELECT doc_id + 200000, text || ' extra token extra token'
  FROM documents WHERE doc_id % 7 = 0 AND doc_id < 150
),
sh AS (
  SELECT doc_id AS id,
         list_distinct(
           list_transform(
             range(1, len(regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+'))),
             i -> regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+')[i] || ' ' ||
                  regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+')[i+1]
           )
         ) AS sh
  FROM base
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.8
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s
)
SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a
"""


def _drain_stream(
    spark: SparkSession,
    prefix: str,
    write_source: Callable[[str], None],
    schema: StructType | str,
    transform: Callable[[DataFrame], DataFrame],
    project: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Run a file-source stream to completion: `write_source` fills a temp
    source dir, readStream reads it one file per micro-batch, `transform`
    builds the streaming plan, Trigger.AvailableNow drains it into a
    parquet sink, and the sink is read back through `project`.

    Gate plumbing, not operator semantics: the drained sink is
    re-materialized as a local frame so the three temp dirs (source,
    sink, checkpoint) can be removed before returning — production leaves
    the sink in place as the output table."""
    import shutil
    import tempfile

    src, outd, ckpt = dirs = [
        tempfile.mkdtemp(prefix=f"{prefix}_{d}_") for d in ("src", "out", "ckpt")
    ]
    try:
        write_source(src)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            transform(stream)
            .writeStream.format("parquet")
            .option("path", outd)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination()
        sink = project(spark.read.parquet(outd))
        return spark.createDataFrame(sink.toPandas(), schema=sink.schema)
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup through the REAL Structured Streaming path:
    the seeded-copies corpus written as a file source, read with
    readStream, deduplicated by the native streaming dropDuplicates on
    the fingerprint (streaming/incremental.py — first arrival per
    fingerprint wins, exactly-once across micro-batches), drained with
    Trigger.AvailableNow into a parquet sink, then read back as a batch
    frame.

    The output surface is (fp, caption): which duplicate's doc_id
    survives depends on arrival order inside the shuffle (legitimately
    nondeterministic), but the fingerprint set and the caption per
    fingerprint are exact — and SQL-checkable (seeded copies are
    byte-identical, so min(text) per fingerprint group is THE text).

    The drained sink is 500 rows at gate scale (see _drain_stream)."""
    from metacheck_spark.streaming.incremental import stateful_stream_dedup

    base = _with_exact_copies(spark, sf_dir).sort("doc_id").coalesce(1)
    return _drain_stream(
        spark,
        "stream",
        lambda src: base.write.mode("overwrite").parquet(src),
        base.schema,
        lambda stream: stateful_stream_dedup(
            stream.select(
                F.col("doc_id").cast("string").alias("image_id"),
                F.col("text").alias("caption"),
            )
        ),
        lambda sink: sink.select("fp", "caption"),
    )


_STREAMING_DEDUP_SQL = f"""
SELECT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')) AS fp,
       min(text) AS caption
FROM ({_EXACT_COPIES_SQL})
GROUP BY md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' '))
"""


def _seeded_hits_col() -> F.Column:
    """Deterministic per-event rule-hit arrays (the flag-stream shape
    windowed_hit_counts consumes), seeded from event_id residues so both
    engines build identical inputs."""
    empty = F.array().cast("array<string>")
    return F.concat(
        F.when(F.col("event_id") % 3 == 0, F.array(F.lit("P001"))).otherwise(empty),
        F.when(F.col("event_id") % 4 == 0, F.array(F.lit("W010"))).otherwise(empty),
        F.when(F.col("event_id") % 5 == 0, F.array(F.lit("P020"))).otherwise(empty),
    )


def q_streaming_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window per-rule hit counts through the REAL
    Structured Streaming path (streaming/incremental.py:
    windowed_hit_counts): the events table with seeded rule_hits is
    written as a file source, read with readStream, aggregated into
    5-minute event-time windows under a 10-minute watermark, and drained
    with Trigger.AvailableNow into a parquet sink.

    Append mode only emits a window once the watermark passes its end, so
    two far-future SENTINEL files are appended after the data file; with
    maxFilesPerTrigger=1 they land in later micro-batches, advancing the
    watermark past every real window so each is closed and emitted. The
    sentinel rows carry rule_hits=['SENTINEL'] — an EMPTY array does not
    work: the explode eliminates the row before the event-time stats are
    collected, so empty sentinels never advance the watermark (verified
    against the batch progress log) — and whichever sentinel windows get
    flushed are filtered back out of the drained sink. Tumbling windows
    over complete data are batch-equivalent, which is exactly what makes
    the result SQL-checkable against a DuckDB time_bucket oracle over the
    same seeded events."""
    from datetime import timedelta

    from metacheck_spark.streaming.incremental import windowed_hit_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    flags = ev.select("ts", _seeded_hits_col().alias("rule_hits"))
    schema = "ts timestamp, rule_hits array<string>"

    def write_source(src: str) -> None:
        flags.coalesce(1).write.mode("overwrite").parquet(src)
        max_ts = ev.agg(F.max("ts")).head()[0]
        for days in (30, 60):  # two sentinel batches: advance + flush
            spark.createDataFrame(
                [(max_ts + timedelta(days=days), ["SENTINEL"])], schema=schema
            ).coalesce(1).write.mode("append").parquet(src)

    return _drain_stream(
        spark,
        "streamw",
        write_source,
        schema,
        windowed_hit_counts,
        lambda sink: sink.filter(F.col("code") != "SENTINEL"),
    )


_STREAMING_WINDOWS_SQL = """
WITH seeded AS (
  SELECT ts,
         (CASE WHEN event_id % 3 = 0 THEN ['P001'] ELSE [] END) ||
         (CASE WHEN event_id % 4 = 0 THEN ['W010'] ELSE [] END) ||
         (CASE WHEN event_id % 5 = 0 THEN ['P020'] ELSE [] END) AS hits
  FROM events
),
exploded AS (SELECT ts, unnest(hits) AS code FROM seeded)
SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS win_start,
       time_bucket(INTERVAL 5 MINUTE, ts) + INTERVAL 5 MINUTE AS win_end,
       code,
       count(*) AS count
FROM exploded
GROUP BY 1, 2, 3
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup — hash-checked oracle: LSH at threshold 0.8 on
    this corpus has recall 1.0 (asserted vs brute force in
    tests/test_dedup_similarity.py), so the VERIFIED output equals the
    brute-force word-2gram Jaccard pair set and shares its SQL oracle."""
    return D.minhash_dedup_pairs(
        _with_near_dups(spark, sf_dir), "text", "doc_id", threshold=0.8,
        num_partitions="auto",
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup — hash-checked oracle: the token hash is a
    double-lane 32-bit FNV over code points (dedup.SIMHASH_MAXLEN spec)
    chosen precisely so DuckDB can recompute every signature bit-exactly
    (_simhash_pairs_sql), unlike the pandas SipHash it replaced. The
    oracle is the brute-force hamming<=3 pair set, which equals the
    banded output by the 4-band pigeonhole (<=3 differing bits => one
    16-bit band identical) + the final hamming filter; dedup recall is
    additionally asserted vs brute force in pytest."""
    return D.simhash_dup_pairs(
        _with_near_dups(spark, sf_dir), "text", "doc_id", num_partitions="auto"
    )


def _simhash_pairs_sql() -> str:
    """DuckDB recomputation of q_simhash_pairs: per-token double-lane FNV
    (list_reduce over code points, 32-char truncation matching the UDF's
    U32 packing), per-bit majority votes as 64 CASE sums, then the
    brute-force hamming<=3 join — candidate banding needs no replication
    because pigeonhole makes it lossless below the hamming cap."""
    from metacheck_spark.operators.dedup import _FNV, SIMHASH_MAXLEN

    (b1, p1), (b2, p2) = _FNV

    def lane(basis: int, prime: int) -> str:
        return (
            f"list_reduce(list_prepend({basis}::UBIGINT, "
            f"list_transform(split(substr(t,1,{SIMHASH_MAXLEN}),''), "
            f"c -> unicode(c)::UBIGINT)), "
            f"(a,b) -> ((xor(a,b) * {prime}) % 4294967296))"
        )

    bits = [
        f"CASE WHEN 2*sum((h1 >> {j}) & 1) > count(*) "
        f"THEN {1 << j}::UBIGINT ELSE 0::UBIGINT END"
        for j in range(32)
    ] + [
        f"CASE WHEN 2*sum((h2 >> {j}) & 1) > count(*) "
        f"THEN {1 << (32 + j)}::UBIGINT ELSE 0::UBIGINT END"
        for j in range(32)
    ]
    return f"""
WITH base AS ({_NEAR_DUPS_SQL}),
tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(coalesce(text,'')), '[ \\t\\n\\x0b\\f\\r]+'),
                x -> x != '')) AS t
  FROM base
), h AS (
  SELECT doc_id, {lane(b1, p1)} AS h1, {lane(b2, p2)} AS h2 FROM tok
), sig AS (
  SELECT doc_id, ({' + '.join(bits)}) AS s FROM h GROUP BY doc_id
), full_sig AS (
  SELECT b.doc_id, coalesce(sig.s, 0)::UBIGINT AS s
  FROM base b LEFT JOIN sig USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.s, b.s))::INT AS hamming
FROM full_sig a JOIN full_sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= 3
"""


def q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed rolling-hash document fingerprints (operators/dedup.py
    winnow_fingerprints) — hash-checked oracle: the k-gram hash is the
    SimHash contract's FNV lane over code points, so DuckDB recomputes
    every k-gram hash, window minimum, and fingerprint independently
    (_winnow_fp_sql)."""
    return D.winnow_fingerprints(
        _with_near_dups(spark, sf_dir), "text", "doc_id"
    ).select(F.col("id").alias("doc_id"), "fp")


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-winnowed-fingerprint overlap pairs (the winnowing paper's
    plagiarism/near-dup detector) — hash-checked oracle: DuckDB rebuilds
    the fingerprint sets and counts shared fps via a brute self-join,
    which equals the bucket-expanded Spark output whenever every
    fingerprint bucket is <= max_bucket (asserted for this corpus in
    tests/test_winnow.py; oversized buckets star-route at scale).
    min_shared=20 separates real near-dups (the seeded variants share
    31-187 fingerprints here) from the 1-6 fps of background template
    overlap the synthetic corpus carries."""
    return D.winnow_overlap_pairs(
        _with_near_dups(spark, sf_dir), "text", "doc_id", min_shared=20
    )


def _winnow_cte() -> str:
    """Shared CTE chain: normalized text -> per-position FNV k-gram
    hashes -> window minima -> distinct fingerprints per doc."""
    from metacheck_spark.operators.dedup import _FNV, WINNOW_K, WINNOW_W

    basis, prime = _FNV[0]
    k, w = WINNOW_K, WINNOW_W
    return f"""
base AS ({_NEAR_DUPS_SQL}),
norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(coalesce(text, '')), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ') AS t
  FROM base
),
g AS (SELECT doc_id, t, length(t) AS n FROM norm WHERE length(t) >= {k}),
kh AS (
  SELECT doc_id,
    list_transform(range(1, n - {k} + 2), i ->
      list_reduce(
        list_prepend({basis}::UBIGINT,
          list_transform(range(i, i + {k}), j -> unicode(t[j])::UBIGINT)),
        (a, b) -> ((xor(a, b) * {prime}) % 4294967296))) AS hs
  FROM g
),
win AS (
  SELECT doc_id,
    CASE WHEN len(hs) >= {w} THEN
      list_distinct(list_transform(range(1, len(hs) - {w} + 2), p ->
        list_min(list_transform(range(p, p + {w}), q -> hs[q]))))
    ELSE [list_min(hs)] END AS fps
  FROM kh
),
fps AS (SELECT doc_id, unnest(fps)::BIGINT AS fp FROM win)
"""


def _winnow_fp_sql() -> str:
    return f"WITH {_winnow_cte()} SELECT doc_id, fp FROM fps"


def _winnow_pairs_sql() -> str:
    return f"""
WITH {_winnow_cte()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 20
"""


# ---------------------------------------------------------------------------
# Tier-3 live URL checking (sources/urlfetch.py)


def q_live_url_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tier-3 LIVE URL-checking path (reference p013.py:25/p025.py:36
    issue requests at detection time) driven end-to-end through the
    deterministic fetcher: captions are synthesized over documents with
    embedded URLs (incl. a trailing-punctuation case and a timeout
    class), extracted + distinct'd by the real regex path, then fetched
    exactly-once in mapInPandas. DuckDB recomputes the extraction with
    its own regex engine and the fetcher's pure status function
    independently — hash-checked plumbing, no network."""
    from metacheck_spark.sources import urlfetch as U

    caps = (
        _documents(spark, sf_dir)
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.concat(
                F.substring("text", 1, 40),
                F.lit(" see http://ex"),
                (F.col("doc_id") % 97).cast("string"),
                F.lit(".org/p"),
                (F.col("doc_id") % 13).cast("string"),
                F.lit(","),
                F.when(
                    F.col("doc_id") % 5 == 0,
                    F.lit(" then http://t.example/q7."),
                ).otherwise(F.lit(" done")),
            ).alias("caption"),
        )
    )
    return U.live_url_status(
        caps, fetch_one=U.deterministic_fetcher, num_tasks=4
    )


_LIVE_URL_CHECK_SQL = r"""
WITH caps AS (
  SELECT concat(
           substr(text, 1, 40), ' see http://ex', (doc_id % 97)::VARCHAR,
           '.org/p', (doc_id % 13)::VARCHAR, ',',
           CASE WHEN doc_id % 5 = 0 THEN ' then http://t.example/q7.'
                ELSE ' done' END
         ) AS caption
  FROM documents WHERE doc_id < 200
), extracted AS (
  SELECT DISTINCT
    regexp_replace(
      unnest(regexp_extract_all(caption,
        '(https?://[^\s<>"'']+|www\.[^\s<>"'']+)')),
      '[.,;:!?)\]}''"]+$', '') AS url
  FROM caps
)
SELECT url,
       CASE WHEN url LIKE '%7' THEN NULL
            ELSE ([200, 301, 404, 500, 503])[
              (1 + (list_sum(list_transform(split(url, ''),
                                            c -> unicode(c))) % 5))::BIGINT]
       END::INT AS status_code,
       CASE WHEN url LIKE '%7' THEN 'timeout' END AS error
FROM extracted
"""


# ---------------------------------------------------------------------------
# Text analysis


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir)
    c = F.col("text")
    return d.select(
        "doc_id",
        token_count(c).alias("n_tokens"),
        bpe_ish_count(c).alias("n_bpe"),
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        F.round(digit_ratio(c), 6).alias("digit_ratio"),
        F.round(stopword_ratio(c), 6).alias("stopword_ratio"),
        quality_score(c).alias("quality"),
    )


_TEXT_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, text,
         len(regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+')) AS n_tok,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '[^\\w \\t\\n\\x0b\\f\\r]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         len(list_filter(regexp_split_to_array(trim(lower(text), ' '), '[ \\t\\n\\x0b\\f\\r]+'),
             x -> list_contains(['the','a','of','in','and','to','is','for','with','on',
                                 'el','la','de','en','y','le','et','der','die','und'], x))) AS n_stop
  FROM documents
)
SELECT doc_id,
       CASE WHEN trim(text, ' ') = '' THEN 0 ELSE n_tok END AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-zÀ-ɏ]+|[0-9]+|[^ \\t\\n\\x0b\\f\\rA-Za-zÀ-ɏ0-9]')) AS n_bpe,
       round(CASE WHEN n > 0 THEN n_punct::DOUBLE / n ELSE 0.0 END, 6) AS punct_ratio,
       round(CASE WHEN n > 0 THEN n_digit::DOUBLE / n ELSE 0.0 END, 6) AS digit_ratio,
       round(CASE WHEN n_tok > 0 THEN n_stop::DOUBLE / n_tok ELSE 0.0 END, 6) AS stopword_ratio,
       round((CASE WHEN n_tok BETWEEN 5 AND 200 THEN 1.0 ELSE 0.4 END) *
             (1.0 - least((n_punct::DOUBLE / n) + (n_digit::DOUBLE / n), 1.0)), 6) AS quality
FROM t
"""


def q_lang_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _documents(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_LANG_DOC_STATS_SQL = """
SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
       cast(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Similarity search


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    return S.cosine_topk(emb, qvec, k=15)


_COSINE_TOPK_SQL = """
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], q.qv) /
             (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
FROM embeddings,
     (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
ORDER BY cos DESC, vec_id
LIMIT 15
"""


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN — hash-checked oracle (_lsh_topk_sql embeds
    the seeded hyperplanes as literals and recomputes every signature +
    the bucket filter independently); recall vs brute force additionally
    asserted in pytest."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    return S.lsh_topk(emb, qvec, k=15, bits=6)


def _lsh_topk_sql() -> str:
    """DuckDB oracle for the sign-LSH bucketed ANN: the hyperplanes are
    deterministic (seeded numpy, embedded as literals), so the oracle
    recomputes every row's signature AND the query row's signature with
    independent arithmetic, filters to the query bucket, and takes the
    same cosine top-k. Testdata embeddings are 64-dim at every SF."""
    from metacheck_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, bits=6, seed=42)
    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            b, ", ".join(repr(float(x)) for x in p)
        )
        for b, p in enumerate(planes)
    )
    return f"""
WITH planes(b, p) AS (VALUES {rows}),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
sigs AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.p) > 0
                  THEN 1 << pl.b ELSE 0 END) AS sig
  FROM embeddings e CROSS JOIN planes pl
  GROUP BY e.vec_id, e.embedding
),
qsig AS (
  SELECT sum(CASE WHEN list_dot_product(q.qv, pl.p) > 0
                  THEN 1 << pl.b ELSE 0 END) AS s
  FROM q CROSS JOIN planes pl
)
SELECT s.vec_id,
       round(list_dot_product(s.v, q.qv) /
             (sqrt(list_dot_product(s.v, s.v)) *
              sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
FROM sigs s, q, qsig
WHERE s.sig = qsig.s
ORDER BY cos DESC, s.vec_id
LIMIT 15
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cluster-probed ANN — hash-checked oracle: the quantizer
    training is deterministic and engine-portable (ordered sample,
    evenly-spaced-rank init, lowest-index tie-breaks — similarity.py:
    train_centroids), so _ivf_topk_sql retrains the SAME kmeans with ten
    unrolled Lloyd iterations in pure DuckDB SQL and independently
    recomputes assignment, probe selection, and the in-probe cosine
    top-k. Recall + full-probe==exact additionally asserted in pytest."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    cent = S.train_centroids(emb, n_clusters=8)
    return S.ivf_topk(S.assign_clusters(emb, cent), qvec, cent, k=15, nprobe=3)


def _ivf_topk_sql(n_clusters: int = 8, iters: int = 10, sample: int = 4096,
                  nprobe: int = 3, k: int = 15, dim: int = 64) -> str:
    """DuckDB oracle for the IVF index: retrains the coarse quantizer
    from scratch in SQL (no literals smuggled from the Spark side) —
    Lloyd's kmeans on the cosine sphere, unrolled `iters` times:
    assignment = row_number over dot DESC / cluster ASC (numpy argmax's
    first-max), new centroid = L2-normalized elementwise mean, empty
    clusters keep the previous centroid via LEFT JOIN + coalesce. Then
    assigns ALL rows to the final centroids, picks the nprobe nearest
    centroids to the query row (vec_id 0), and takes the in-probe cosine
    top-k on the RAW vectors — each step the independent recomputation of
    similarity.py's train_centroids/assign_clusters/ivf_topk."""
    norm = (
        "list_transform({e}, y -> y / greatest(sqrt(list_dot_product({e}, {e})),"
        " 1e-12))"
    )
    parts = [f"""
WITH raw AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
samp AS MATERIALIZED (
  -- unbiased deterministic training sample: smallest Knuth hash of the
  -- id, mirroring train_centroids' hash-ordered TakeOrderedAndProject
  SELECT vec_id, {norm.format(e='e')} AS v,
         ((vec_id::BIGINT % 2147483648) * 2654435761) % 2147483648 AS hk
  FROM (SELECT vec_id, e FROM raw
        ORDER BY ((vec_id::BIGINT % 2147483648) * 2654435761) % 2147483648,
                 vec_id LIMIT {sample})
),
nn AS (SELECT count(*) AS n FROM samp),
ranked AS MATERIALIZED (
  SELECT v, row_number() OVER (ORDER BY hk, vec_id) - 1 AS rk FROM samp
),
cent0 AS MATERIALIZED (
  SELECT t.i AS c, r.v
  FROM range(0, {n_clusters}) t(i) CROSS JOIN nn
  JOIN ranked r ON r.rk = (t.i * nn.n) // {n_clusters}
)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
a{i} AS MATERIALIZED (
  SELECT vec_id, v, c FROM (
    SELECT s.vec_id, s.v, ct.c,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY list_dot_product(s.v, ct.v) DESC, ct.c) AS rn
    FROM samp s CROSS JOIN cent{i - 1} ct) WHERE rn = 1
),
m{i} AS MATERIALIZED (
  SELECT c, list(mv ORDER BY j) AS m FROM (
    SELECT a.c, t.j, avg(a.v[t.j]) AS mv
    FROM a{i} a CROSS JOIN range(1, {dim + 1}) t(j)
    GROUP BY a.c, t.j) GROUP BY c
),
cent{i} AS MATERIALIZED (
  SELECT p.c,
         coalesce({norm.format(e='m.m')}, p.v) AS v
  FROM cent{i - 1} p LEFT JOIN m{i} m ON p.c = m.c
)""")
    parts.append(f""",
allx AS MATERIALIZED (SELECT vec_id, {norm.format(e='e')} AS v FROM raw),
assign AS MATERIALIZED (
  SELECT vec_id, c FROM (
    SELECT x.vec_id, ct.c,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY list_dot_product(x.v, ct.v) DESC, ct.c) AS rn
    FROM allx x CROSS JOIN cent{iters} ct) WHERE rn = 1
),
q AS (SELECT e AS qv FROM raw WHERE vec_id = 0),
probes AS MATERIALIZED (
  SELECT c FROM (
    SELECT ct.c,
           row_number() OVER (ORDER BY list_dot_product(ct.v, {norm.format(e='q.qv')})
                              DESC, ct.c) AS rn
    FROM cent{iters} ct CROSS JOIN q) WHERE rn <= {nprobe}
)
SELECT r.vec_id,
       round(list_dot_product(r.e, q.qv) /
             (sqrt(list_dot_product(r.e, r.e)) *
              sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
FROM raw r
JOIN assign a ON a.vec_id = r.vec_id
CROSS JOIN q
WHERE a.c IN (SELECT c FROM probes)
ORDER BY cos DESC, r.vec_id
LIMIT {k}""")
    return "".join(parts)


# ---------------------------------------------------------------------------
# Windows / joins / JSON scalar functions (SURVEY.md §2.5, §2.3, §2.7)


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "rn", "event_id", "value")
    )


_TOPK_PER_GROUP_SQL = """
SELECT event_type, rn, event_id, value FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
  FROM events
) WHERE rn <= 3
"""


def q_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join: fact lineitem joined to broadcast dimensions,
    grouped by nation (the reference's only join is broadcast-dim shaped,
    SURVEY.md §2.3)."""
    li = _lineitem(spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_JOIN_REVENUE_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize the JSON extraction as a column BEFORE the aggregation:
    # codegen does not CSE shared subexpressions across aggregate exprs
    # (the repo's own minhash finding), so referencing `k` in both the sum
    # and the count branch would parse the JSON twice per row
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.select(
            "event_type", F.get_json_object("props", "$.k").cast("long").alias("k")
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_large"),
        )
    )


_EVENTS_JSON_SQL = """
SELECT event_type,
       cast(sum(cast(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(CASE WHEN cast(json_extract_string(props, '$.k') AS BIGINT) > 50 THEN 1 END) AS n_large
FROM events GROUP BY event_type
"""


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date bucketing + aggregation (W004-family datetime handling)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


_EVENTS_DAILY_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Embedding near-dup (exact copies seeded identically on both sides: cosine
# of an exact copy is 1.0 after 6-decimal rounding; organic random pairs sit
# far below the 0.9 threshold, so the result set is deterministic).


def _with_vec_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return emb.unionAll(copies)


def q_embedding_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed candidate generation + exact cosine verify — the
    scale default (no self-join, no O(n^2); operators/similarity.py).
    Same oracle as before: only exact copies clear the 0.9 threshold in
    this corpus, and exact copies share every LSH band, so bucketed
    recall is 1.0 by construction."""
    from metacheck_spark.operators.similarity import embedding_dup_pairs_bucketed

    return embedding_dup_pairs_bucketed(
        _with_vec_copies(spark, sf_dir), "embedding", "vec_id",
        threshold=0.9, bits=16, bands=4,
    )


_EMBEDDING_DUP_SQL = """
WITH base AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos
FROM base a JOIN base b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
            (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.9
"""


# ---------------------------------------------------------------------------
# Corpus summary (A4-A7 analog) + per-language rule counts (A3 analog) over
# the trigger-seeded captions, DUCKDB_SAFE rules only.


def q_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = fold(_docs_histogram(spark, sf_dir))
    return spark.createDataFrame(
        [(t.rows, t.flagged, t.kept, t.pitfalls, t.warnings)],
        "total_rows bigint, flagged_rows bigint, kept_rows bigint, "
        "total_pitfalls bigint, total_warnings bigint",
    )


def _quality_summary_sql() -> str:
    pit = [r for r in DUCKDB_SAFE if not r.code.startswith("W")]
    warn = [r for r in DUCKDB_SAFE if r.code.startswith("W")]
    any_hit = " OR ".join(r.duckdb.format(c="caption") for r in DUCKDB_SAFE)
    any_pit = " OR ".join(r.duckdb.format(c="caption") for r in pit)
    n_pit = " + ".join(
        f"(CASE WHEN {r.duckdb.format(c='caption')} THEN 1 ELSE 0 END)" for r in pit
    )
    n_warn = " + ".join(
        f"(CASE WHEN {r.duckdb.format(c='caption')} THEN 1 ELSE 0 END)" for r in warn
    )
    return f"""
SELECT count(*) AS total_rows,
       count(CASE WHEN {any_hit} THEN 1 END) AS flagged_rows,
       count(CASE WHEN NOT coalesce(({any_pit}), FALSE) THEN 1 END) AS kept_rows,
       cast(sum({n_pit}) AS BIGINT) AS total_pitfalls,
       cast(sum({n_warn}) AS BIGINT) AS total_warnings
FROM (SELECT {_seeded_caption_sql()} AS caption FROM documents)
"""


def q_rule_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 analog: per-language per-rule hit counts, one row per language."""
    hist = _docs_histogram(spark, sf_dir, "lang")
    t = fold(hist, lambda row: [row["lang"]])
    return spark.createDataFrame(
        [
            [lang] + [t.by_group[r.code, lang] for r in DUCKDB_SAFE]
            for lang in {row["lang"] for row in hist}
        ],
        f"lang string, {_RULE_COUNT_DDL}",
    )


def _rule_lang_counts_sql() -> str:
    return (
        f"SELECT lang,\n  {_rule_count_sql_exprs()}\nFROM (SELECT lang,"
        f" {_seeded_caption_sql()} AS caption FROM documents) GROUP BY lang"
    )


def q_cube_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (lang, source): the 2-D summary table with
    subtotals (SURVEY.md §2.4 — the reference's rule x language table is the
    closest analog; cube adds the margins)."""
    return (
        _documents(spark, sf_dir)
        .cube("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_CUBE_DOC_STATS_SQL = """
SELECT lang, source, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY CUBE (lang, source)
"""


# ---------------------------------------------------------------------------
# Resume anti-join (§7.5: drop rows whose partition already committed) and
# set operations (§2.6).


def q_resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir)
    ledger = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    return docs.join(ledger, "doc_id", "left_anti").select("doc_id", "lang")


_RESUME_ANTI_JOIN_SQL = """
SELECT doc_id, lang FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 3 = 0)
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir)
    even = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    low = docs.filter(F.col("doc_id") < 300).select("doc_id")
    both = even.intersect(low).withColumn("tag", F.lit("both"))
    only_even = even.exceptAll(low).withColumn("tag", F.lit("only_even"))
    return both.unionAll(only_even)


_SET_OPS_SQL = """
SELECT doc_id, 'both' AS tag FROM (
  SELECT doc_id FROM documents WHERE doc_id % 2 = 0
  INTERSECT
  SELECT doc_id FROM documents WHERE doc_id < 300)
UNION ALL
SELECT doc_id, 'only_even' AS tag FROM (
  SELECT doc_id FROM documents WHERE doc_id % 2 = 0
  EXCEPT
  SELECT doc_id FROM documents WHERE doc_id < 300)
"""


# ---------------------------------------------------------------------------
# Window running aggregate + multi-format date parsing (W004 family).


def q_running_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("day_value"))
    w = Window.partitionBy("event_type").orderBy("day")
    return daily.select(
        "event_type",
        "day",
        "day_value",
        F.round(F.sum("day_value").over(w), 2).alias("running_value"),
    )


_RUNNING_DAILY_SQL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         round(sum(value), 2) AS day_value
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, day_value,
       round(sum(day_value) OVER (PARTITION BY event_type ORDER BY day), 2)
         AS running_value
FROM daily
"""


def q_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format datetime parsing via coalesce(try_to_timestamp(fmt)...)
    — the reference's 5-format ladder (w004.py:58-92). Each event's ts is
    rendered in one of 3 formats by event_id, then recovered by the ladder."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw = (
        F.when(F.col("event_id") % 3 == 0, F.date_format("ts", "yyyy/MM/dd HH:mm:ss"))
        .when(F.col("event_id") % 3 == 1, F.date_format("ts", "dd-MM-yyyy HH:mm:ss"))
        .otherwise(F.date_format("ts", "MMM dd, yyyy HH:mm:ss"))
    )
    parsed = F.coalesce(
        F.try_to_timestamp(F.col("raw"), F.lit("yyyy/MM/dd HH:mm:ss")),
        F.try_to_timestamp(F.col("raw"), F.lit("dd-MM-yyyy HH:mm:ss")),
        F.try_to_timestamp(F.col("raw"), F.lit("MMM dd, yyyy HH:mm:ss")),
    )
    return (
        ev.select("event_id", raw.alias("raw"))
        .select(
            "event_id",
            "raw",
            F.date_format(parsed, "yyyy-MM-dd HH:mm:ss").alias("parsed"),
        )
    )


_DATE_PARSE_SQL = """
WITH rendered AS (
  SELECT event_id,
         CASE
           WHEN event_id % 3 = 0 THEN strftime(ts, '%Y/%m/%d %H:%M:%S')
           WHEN event_id % 3 = 1 THEN strftime(ts, '%d-%m-%Y %H:%M:%S')
           ELSE strftime(ts, '%b %d, %Y %H:%M:%S')
         END AS raw
  FROM events
)
SELECT event_id, raw,
       strftime(coalesce(
         try_strptime(raw, '%Y/%m/%d %H:%M:%S'),
         try_strptime(raw, '%d-%m-%Y %H:%M:%S'),
         try_strptime(raw, '%b %d, %Y %H:%M:%S')), '%Y-%m-%d %H:%M:%S') AS parsed
FROM rendered
"""


# ---------------------------------------------------------------------------
# Pandas-UDF stages (langid / perplexity / scrub, each read from the
# pipeline's one fused caption UDF) and the flagship image pipeline over a
# synthesized input slice; value parity vs the pure-Python oracle is
# asserted in tests/test_models.py and tests/test_pipeline.py.


def _caption_stage(spark: SparkSession, text: Column) -> Column:
    """The pipeline's fused caption UDF over `text`, with an empty
    url_status dimension: the documents scorers read its `lang`/
    `lang_conf`, `ppl` and `scrubbed` fields."""
    from metacheck_spark.pipeline import make_caption_stage_udf
    from metacheck_spark.schemas import URL_STATUS_SCHEMA

    no_status = spark.createDataFrame([], URL_STATUS_SCHEMA)
    return make_caption_stage_udf(spark, no_status)(text)


def q_langid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _documents(spark, sf_dir)
        .withColumn("m", _caption_stage(spark, F.col("text")))
        .select("doc_id", "m.lang", F.round("m.lang_conf", 6).alias("lang_conf"))
    )


def _langid_docs_sql() -> str:
    """DuckDB oracle for the lexicon langid scorer: per-language token
    counts over unicode \\w+ tokens, argmax with first-language tie-break
    (numpy argmax), conf = top/total, 'und' below CONF_THRESHOLD. Built
    from the SAME LEXICONS constant the UDF uses, so the model and oracle
    cannot drift."""
    from metacheck_spark.functions.langid import CONF_THRESHOLD, LANGS, LEXICONS

    n = len(LANGS)
    count_exprs = ",\n    ".join(
        "len(list_filter(ts, t -> list_contains(["
        + ", ".join("'" + w + "'" for w in LEXICONS[lang])
        + f"], t))) AS c{i}"
        for i, lang in enumerate(LANGS)
    )
    cs = ", ".join(f"c{i}" for i in range(n))
    total = " + ".join(f"c{i}" for i in range(n))
    best = " ".join(
        f"WHEN c{i} = top THEN '{lang}'" for i, lang in enumerate(LANGS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[\\p{{L}}\\p{{N}}_]+') AS ts
  FROM documents
),
c AS (SELECT doc_id,
    {count_exprs}
  FROM toks),
s AS (SELECT doc_id, {cs}, {total} AS total, greatest({cs}) AS top FROM c)
SELECT doc_id,
  CASE WHEN total > 0 AND top::DOUBLE / total >= {CONF_THRESHOLD}
       THEN (CASE {best} END) ELSE 'und' END AS lang,
  round(CASE WHEN total > 0 THEN top::DOUBLE / total ELSE 0.0 END, 6) AS lang_conf
FROM s
"""


def q_ppl_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _documents(spark, sf_dir).select(
        "doc_id",
        F.round(_caption_stage(spark, F.col("text"))["ppl"], 6).alias("ppl"),
    )


def _ppl_docs_sql() -> str:
    """DuckDB oracle for the char-bigram LM: the 27-char corpus alphabet
    (ASCII lowercase + space, so bytes == characters) makes the 256x256
    log-prob table reducible to a 729-entry map literal generated from the
    SAME trained LOGP the UDF uses. Same addends in the same left-to-right
    order => bit-identical doubles before rounding."""
    from metacheck_spark.functions.perplexity import LOGP

    alphabet = "abcdefghijklmnopqrstuvwxyz "
    entries = ", ".join(
        f"'{c1}{c2}': {LOGP[ord(c1), ord(c2)]!r}"
        for c1 in alphabet
        for c2 in alphabet
    )
    return f"""
WITH m AS (SELECT MAP {{{entries}}} AS mp),
t AS (SELECT doc_id, lower(text) AS s FROM documents)
SELECT doc_id,
  CASE WHEN length(s) < 2 THEN 0.0
       ELSE round(-list_sum(list_transform(range(1, length(s)),
              i -> mp[substr(s, i, 2)][1])) / (length(s) - 1), 6)
  END AS ppl
FROM t CROSS JOIN m
"""


def q_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    seeded = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(" contact bob@example.com"))
        .when(F.col("doc_id") % 4 == 1, F.lit(" call 555-123-4567"))
        .when(F.col("doc_id") % 4 == 2, F.lit(" oh frak"))
        .otherwise(F.lit("")),
    )
    return _documents(spark, sf_dir).select(
        "doc_id", _caption_stage(spark, seeded)["scrubbed"].alias("scrubbed")
    )


# DuckDB oracle for the scrub stage. The Python phone pattern's
# (?<!\d)/(?!\d) lookarounds aren't RE2-expressible; they're emulated with
# consuming boundary groups — exact on this corpus because the document
# text is digit-free (only the seeded suffixes contain PII), so boundary
# consumption can never swallow an adjacent match.
_SCRUB_DOCS_SQL = r"""
WITH seeded AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 4 = 0 THEN ' contact bob@example.com'
                      WHEN doc_id % 4 = 1 THEN ' call 555-123-4567'
                      WHEN doc_id % 4 = 2 THEN ' oh frak'
                      ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(t,
        '[A-Za-z0-9_.+-]+@[A-Za-z0-9_-]+\.[A-Za-z0-9_.-]*[A-Za-z0-9_]',
        '[EMAIL]', 'g'),
      '(^|[^0-9])((\+?[0-9]{1,2}[ -])?(\([0-9]{3}\)|[0-9]{3})[ -][0-9]{3}[ -][0-9]{4})([^0-9]|$)',
      '\1[PHONE]\5', 'g'),
    '(?i)\b(frak|gorram|smeg|felgercarb|shazbot)\b', '[REDACTED]', 'g'
  ) AS scrubbed
FROM seeded
"""


def q_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship E2E on a synthesized images slice (the driver's tables have
    no binary column; the input_hint table is generated deterministically)."""
    from metacheck_spark.fixtures.gen_images import gen_images_df, url_status_rows
    from metacheck_spark.pipeline import run_pipeline
    from metacheck_spark.schemas import URL_STATUS_SCHEMA

    images = gen_images_df(spark, 300, partitions=8)
    url_status = spark.createDataFrame(url_status_rows(), URL_STATUS_SCHEMA)
    audit = run_pipeline(spark, images, url_status)
    return audit.select(
        "image_id",
        F.array_join("rule_hits", ",").alias("rule_hits"),
        "n_pitfalls",
        "n_warnings",
        "keep",
        "lang",
        "ppl",
        "scrubbed_caption",
        "bucket",
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction (decode + channel means + phash) over
    a synthesized images slice via mapInPandas."""
    from metacheck_spark.fixtures.gen_images import gen_images_df
    from metacheck_spark.operators.images import extract_features

    images = gen_images_df(spark, 300, partitions=8)
    feats = extract_features(images)
    return feats.select(
        "image_id",
        "decoded_ok",
        "width",
        "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        "phash",
    )


# ---------------------------------------------------------------------------
# Nested-schema parity (FIXTURES.md §2): SoMEF-shaped array<struct> columns
# built deterministically from doc_id in BOTH engines, evaluated with the
# F1-F6 sub-operators (first-match via element_at(filter(...),1), v-strip
# normalization, strict P027 compare); output is flat booleans so the
# value-hash comparison works across engines.


def _somef_entry(value, source, technique="code_parser", tag=None, name=None,
                 version=None):
    """One SoMEF entry struct (somef.ENTRY_DDL); a str argument becomes a
    literal, None a null string."""
    def c(x):
        if x is None:
            return F.lit(None).cast("string")
        return x if isinstance(x, F.Column) else F.lit(x)

    return F.struct(
        F.lit(1.0).alias("confidence"),
        c(technique).alias("technique"),
        c(source).alias("source"),
        F.struct(
            F.lit("String").alias("type"),
            c(value).alias("value"),
            c(name).alias("name"),
            c(tag).alias("tag"),
            c(version).alias("version"),
        ).alias("result"),
    )


def q_somef_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metacheck_spark.rules import somef as M

    d = _documents(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    meta_v = F.concat(F.lit("v1."), (did % 5).cast("string"), F.lit(".0"))
    rel_tag = (
        F.when(did % 3 == 0, F.concat(F.lit("1."), (did % 5).cast("string"), F.lit(".0")))
        .when(did % 3 == 1, F.lit("2.0.0"))
    )
    pkg_v = F.when(did % 2 == 0, F.regexp_replace(meta_v, "^v", "")).otherwise(meta_v)
    version = F.array(
        _somef_entry(meta_v, "codemeta.json"),
        _somef_entry(pkg_v, "package.json"),
    )
    releases = F.when(did % 3 == 2, F.array().cast(f"array<{M.ENTRY_DDL}>")).otherwise(
        F.array(_somef_entry(None, "GitHub_API", tag=rel_tag))
    )
    ident_v = (
        F.when(did % 4 == 0, F.lit("   "))
        .when(did % 4 == 1, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("doi:10.1234/x"), did.cast("string")))
    )
    identifier = F.array(_somef_entry(ident_v, "codemeta.json"))

    df = (
        d.withColumn("version", version)
        .withColumn("releases", releases)
        .withColumn("identifier", identifier)
    )
    return df.select(
        "doc_id",
        M.p001_version_mismatch(F.col("version"), F.col("releases")).alias("p001"),
        M.p027_codemeta_version_mismatch(F.col("version")).alias("p027"),
        M.w015_empty_identifier(F.col("identifier")).alias("w015"),
    )


_SOMEF_NESTED_SQL = """
WITH base AS (
  SELECT doc_id,
         'v1.' || (doc_id % 5) || '.0' AS meta_v,
         CASE WHEN doc_id % 3 = 0 THEN '1.' || (doc_id % 5) || '.0'
              WHEN doc_id % 3 = 1 THEN '2.0.0' END AS rel_tag,
         CASE WHEN doc_id % 4 = 0 THEN '   '
              WHEN doc_id % 4 = 1 THEN NULL
              ELSE 'doi:10.1234/x' || doc_id END AS ident_v
  FROM documents
),
built AS (
  SELECT doc_id,
    [struct_pack(source := 'codemeta.json', value := meta_v),
     struct_pack(source := 'package.json',
                 value := CASE WHEN doc_id % 2 = 0
                               THEN regexp_replace(meta_v, '^v', '')
                               ELSE meta_v END)] AS version,
    CASE WHEN doc_id % 3 = 2 THEN [] ELSE [struct_pack(tag := rel_tag)] END AS releases,
    [struct_pack(source := 'codemeta.json', value := ident_v)] AS identifier
  FROM base
)
SELECT doc_id,
  -- P001: first metadata-source version (v-stripped) vs releases[1].tag (v-stripped)
  coalesce(
    regexp_replace(trim(list_filter(version, e -> contains(lower(e.source), 'codemeta.json')
                                               OR contains(lower(e.source), 'package.json'))[1].value, ' '), '^[vV]', '')
      IS NOT NULL
    AND len(releases) > 0
    AND regexp_replace(trim(releases[1].tag, ' '), '^[vV]', '') IS NOT NULL
    AND regexp_replace(trim(list_filter(version, e -> contains(lower(e.source), 'codemeta.json')
                                                   OR contains(lower(e.source), 'package.json'))[1].value, ' '), '^[vV]', '')
        != regexp_replace(trim(releases[1].tag, ' '), '^[vV]', ''), FALSE) AS p001,
  -- P027: codemeta version vs other metadata versions, STRICT compare
  coalesce(
    list_filter(version, e -> contains(lower(e.source), 'codemeta.json'))[1].value IS NOT NULL
    AND len(list_filter(version, e -> NOT contains(lower(e.source), 'codemeta.json')
                                      AND trim(e.value, ' ') != trim(list_filter(version,
                                          x -> contains(lower(x.source), 'codemeta.json'))[1].value, ' '))) > 0,
    FALSE) AS p027,
  -- W015: codemeta identifier present-but-blank (null value = the entry
  -- had no 'value' key -> abstain, w015.py:27)
  coalesce(len(identifier) > 0
           AND identifier[1].value IS NOT NULL
           AND trim(identifier[1].value, ' ') = '', FALSE) AS w015
FROM built
"""


_NESTED_URL_STATUS = {
    "https://ok.example.org/a": 200,
    "https://moved.example.org/a": 301,
    "https://gone.example.org/a": 404,
}


def _nested_fixture_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic nested SoMEF fixture: every category built from
    doc_id with controlled single/double-entry arrays covering each
    rule's fire and abstain paths."""
    from metacheck_spark.rules import somef as M

    d = _documents(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")

    arr_t = f"array<{M.ENTRY_DDL}>"

    # version + releases: the round-1 P001/P027 shapes
    meta_v = F.concat(F.lit("v1."), (did % 5).cast("string"), F.lit(".0"))
    rel_tag = (
        F.when(did % 3 == 0, F.concat(F.lit("1."), (did % 5).cast("string"), F.lit(".0")))
        .when(did % 3 == 1, F.lit("2.0.0"))
    )
    pkg_v = F.when(did % 2 == 0, F.regexp_replace(meta_v, "^v", "")).otherwise(meta_v)
    version = F.array(
        _somef_entry(meta_v, "codemeta.json"), _somef_entry(pkg_v, "package.json")
    )
    releases = F.when(did % 3 == 2, F.array().cast(arr_t)).otherwise(
        F.array(_somef_entry(None, "GitHub_API", technique="GitHub_API", tag=rel_tag))
    )

    # identifier: W015 / P024 / W014 / P028 cases by doc_id % 6
    ident_v = (
        F.when(did % 6 == 0, F.lit("   "))
        .when(did % 6 == 1, F.lit(None).cast("string"))
        .when(did % 6 == 2, F.concat(F.lit("doi:10.1234/x"), did.cast("string")))
        .when(did % 6 == 3, F.lit("mytool"))
        .when(did % 6 == 4, F.lit("swh:1:rev:" + "ab" * 20))
        .otherwise(F.lit("https://doi.org/10.1/ok"))
    )
    identifier = F.when(
        did % 6 == 3,
        F.array(
            _somef_entry(F.lit("mytool"), "codemeta.json"),
            _somef_entry(F.lit("10.1234/abc"), "zenodo.json"),
        ),
    ).otherwise(F.array(_somef_entry(ident_v, "codemeta.json")))

    # license: P002 / P017 / P022 / P008 cases by doc_id % 5
    lic_src = F.when(did % 5 < 2, F.lit("https://x/blob/main/LICENSE.md")).otherwise(
        F.lit("codemeta.json")
    )
    lic_tech = F.when(did % 5 < 2, F.lit("file_exploration")).otherwise(
        F.lit("code_parser")
    )
    lic_v = (
        F.when(did % 5 == 0, F.lit("copyright <year> template"))
        .when(did % 5 == 1, F.lit("YEAR: 2017\nCOPYRIGHT HOLDER: Adam H. Sparks"))
        .when(did % 5 == 2, F.lit("released under GPL"))
        .when(did % 5 == 3, F.lit("./LICENSE.md"))
        .otherwise(F.lit("MIT"))
    )
    license_ = F.array(_somef_entry(lic_v, lic_src, technique=lic_tech))

    # authors: P005 / W021 / P011's CITATION.cff presence
    auth_src = F.when(did % 7 == 0, F.lit("CITATION.cff")).otherwise(
        F.lit("codemeta.json")
    )
    auth_v = (
        F.when(did % 3 == 0, F.lit("Alice and Bob"))
        .when(did % 3 == 1, F.lit("The [red, fox] team"))
        .otherwise(F.lit("Alice"))
    )
    authors = F.array(_somef_entry(auth_v, auth_src))

    # requirements: W003 / W012
    req_v = (
        F.when(did % 3 == 0, F.lit("numpy"))
        .when(did % 3 == 1, F.lit("Numpy Pandas"))
        .otherwise(F.lit("numpy >= 1.4"))
    )
    requirements = F.array(_somef_entry(req_v, "codemeta.json"))

    readme_url = F.array(
        _somef_entry(
            F.when(
                did % 2 == 0, F.lit("https://proj.readthedocs.io/en/latest")
            ).otherwise(F.lit("https://raw.githubusercontent.com/o/r/README.md")),
            "codemeta.json",
        )
    )
    reference_publication = F.array(
        _somef_entry(
            F.when(did % 2 == 0, F.lit("https://zenodo.org/record/9")).otherwise(
                F.lit("https://doi.org/10.1/x")
            ),
            "codemeta.json",
        )
    )
    development_status = F.array(
        _somef_entry(
            F.when(
                did % 2 == 0, F.lit("https://www.repostatus.org/#active")
            ).otherwise(F.lit("active")),
            "codemeta.json",
        )
    )
    issues_url = F.array(
        _somef_entry(
            F.when(did % 3 == 0, F.lit("https://x.org/issues  ")).otherwise(
                F.lit("https://x.org/issues")
            ),
            "codemeta.json",
        )
    )

    # code_repository: P023 / P016 / P026 interplay by doc_id % 4
    repo_v = (
        F.when(did % 4 == 0, F.lit("example.com:user/repo.git"))
        .when(did % 4 == 1, F.lit("https://www.photosite.com/gallery"))
        .when(did % 4 == 2, F.lit("git@github.com:o/r.git"))
        .otherwise(F.lit("https://github.com/o/r"))
    )
    code_repository = F.array(
        _somef_entry(repo_v, "codemeta.json"),
        _somef_entry(F.lit("https://github.com/o/r"), None, technique="GitHub_API"),
    )

    # date_updated: W004 by doc_id % 3
    date_updated = (
        F.when(
            did % 3 == 0,
            F.array(
                _somef_entry(F.lit("2024-03-10"), None, technique="GitHub_API"),
                _somef_entry(F.lit("2024-03-01"), "codemeta.json"),
            ),
        )
        .when(
            did % 3 == 1,
            F.array(
                _somef_entry(F.lit("2024-03-02"), None, technique="GitHub_API"),
                _somef_entry(F.lit("2024-03-01"), "codemeta.json"),
            ),
        )
        .otherwise(
            F.array(_somef_entry(F.lit("2024-03-05"), None, technique="GitHub_API"))
        )
    )

    download_url = F.when(
        did % 3 == 0,
        F.array(_somef_entry(F.lit("https://x.org/archive/v2.0.0"), "codemeta.json")),
    ).otherwise(F.array().cast(arr_t))

    programming_languages = F.array(
        _somef_entry(
            F.lit("Python"), "codemeta.json", name=F.lit("Python"),
            version=F.when(did % 2 == 0, F.lit(None).cast("string")).otherwise(
                F.lit("3.11")
            ),
        )
    )

    software_requirements = F.array(
        _somef_entry(
            F.when(did % 3 == 0, F.lit("see https://gone.example.org/a")).otherwise(
                F.lit("see https://moved.example.org/a")
            ),
            "codemeta.json",
        )
    )
    continuous_integration = F.array(
        _somef_entry(
            F.when(did % 3 == 0, F.lit("https://moved.example.org/a"))
            .when(did % 3 == 1, F.lit("https://ok.example.org/a"))
            .otherwise(F.lit("not a url")),
            "codemeta.json",
        )
    )

    df = (
        d.withColumn("version", version)
        .withColumn("releases", releases)
        .withColumn("identifier", identifier)
        .withColumn("license", license_)
        .withColumn("authors", authors)
        .withColumn("requirements", requirements)
        .withColumn("readme_url", readme_url)
        .withColumn("reference_publication", reference_publication)
        .withColumn("development_status", development_status)
        .withColumn("issues_url", issues_url)
        .withColumn("code_repository", code_repository)
        .withColumn("date_updated", date_updated)
        .withColumn("download_url", download_url)
        .withColumn("programming_languages", programming_languages)
        .withColumn("software_requirements", software_requirements)
        .withColumn("continuous_integration", continuous_integration)
    )
    return df


def q_somef_nested_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL 27-rule nested battery cross-engine over the deterministic
    fixture, evaluated with `nested_rule_flags`' faithful semantics,
    output = 27 booleans hash-checked against independent DuckDB
    predicate implementations."""
    from metacheck_spark.rules import somef as M

    from metacheck_spark.sources.jsonld_text import CODES as codes

    df = _nested_fixture_df(spark, sf_dir)
    flagged = M.nested_rule_flags(df, _NESTED_URL_STATUS)
    return flagged.select(
        "doc_id", *[F.col(f"hit_{c}").alias(c.lower()) for c in codes]
    )


def q_somef_jsonld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-shaped JSON-LD assessment documents over the nested
    fixture (sources/jsonld.py — the surface proven exact against the
    executed reference on its own corpus in tests/test_jsonld_parity.py).
    Hash-checked since round 4: the oracle (_somef_jsonld_sql) reuses the
    full nested battery's 27 INDEPENDENT DuckDB predicates to decide
    which checks fire, renders each firing check's evidence string from
    the fixture's residue-determined scalar inputs, and assembles the
    byte-exact JSON document by string concatenation (static fragments
    json.dumps-escaped from the same jsonld_text tables the Spark side
    uses — shared data, independent assembly)."""
    from metacheck_spark.sources.jsonld import nested_assessments

    df = _nested_fixture_df(spark, sf_dir).withColumn(
        "_file", F.concat(F.lit("doc_"), F.col("doc_id").cast("string"))
    )
    return nested_assessments(df, _NESTED_URL_STATUS)


def _somef_jsonld_sql() -> str:
    """DuckDB recomputation of q_somef_jsonld, byte-exact.

    Three independent layers:
    1. WHICH checks fire — the full nested battery's 27 independent
       predicates (_SOMEF_NESTED_FULL_SQL, wrapped as a CTE), the same
       SQL the somef_nested_full oracle is green on.
    2. Each firing check's EVIDENCE — rendered from the fixture's
       residue-determined scalar inputs (the evidence is only consumed
       where the layer-1 flag is true, so each expression needs
       correctness only on its firing residues).
    3. The DOCUMENT — assembled by string concatenation in to_json's
       field order: static fragments are json.dumps-escaped here from
       the same jsonld_text tables (CODES order, CATEGORIES indicator
       ids, DESCRIPTIONS process texts, SUGGESTIONS) the Spark side
       interpolates — shared DATA, independent assembly; to_json's
       null-field drop (the optional schema:identifier) becomes an
       explicit conditional fragment.
    """
    import json as _json

    from metacheck_spark.sources.jsonld_text import (
        CATEGORIES,
        CODES,
        DESCRIPTIONS,
        SUGGESTIONS,
    )

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    def jstr(s: str) -> str:
        # a JSON-encoded string, then SQL-escaped (handles apostrophes)
        return lit(_json.dumps(s, ensure_ascii=False))

    # layer 2: evidence per code, correct on that code's firing residues
    ev: dict[str, str] = {
        "P001": "'P001 detected: codemeta.json version ''1.' || b.m5 || "
                "'.0'' does not match release version ''2.0.0'''",
        "P002": lit("P002 detected:  License file contains unreplaced "
                    "template placeholders"),
        "W003": lit("W003 detected: Software requirements found without "
                    "version specifications"),
        "W004": lit("W004 detected: codemeta.json dateModified "
                    "'2024-03-01T00:00:00' is outdated compared to "
                    "repository date '2024-03-10T00:00:00'"),
        "P005": "'P005 detected: codemeta.json Multiple authors found in "
                "single field: ''' || CASE b.m3 WHEN 0 THEN 'Alice and Bob' "
                "ELSE 'The [red, fox] team' END || ''''",
        "P006": lit("P006 detected:  codemeta.json README property points "
                    "to homepage/wiki instead of README file: "
                    "https://proj.readthedocs.io/en/latest"),
        "P007": lit("P007 detected: codemeta.json Reference publication "
                    "points to software archive instead of paper: "
                    "https://zenodo.org/record/9"),
        "P008": lit("P008 detected: codemeta.json License points to local "
                    "file instead of license name: './LICENSE.md'"),
        "W010": lit("W010 detected: codemeta.json Programming languages "
                    "without versions: Python"),
        "P011": lit("P011 detected: CITATION.cff file exists but does not "
                    "contain referencePublication while codemeta.json "
                    "references it"),
        "W012": "'W012 detected: Issue detected in doc_' || b.doc_id",
        "P013": lit("P013 detected: codemeta.json Software requirements "
                    "contain invalid URLs: https://gone.example.org/a"),
        "W014": lit("W014 detected: codemeta.json Identifier is a name "
                    "instead of valid unique identifier: 'mytool'"),
        "W015": lit("W015 detected: codemeta.json identifier field is "
                    "empty or missing"),
        "P016": lit("P016 detected: codemeta.json codeRepository points to "
                    "homepage instead of repository: "
                    "https://www.photosite.com/gallery"),
        "P017": lit("P017 detected: LICENSE file only contains copyright "
                    "information without actual license terms"),
        "P018": lit("P018 detected: codemeta.json IssueTracker URL "
                    "violates expected format: https://x.org/issues  "),
        "P019": lit("P019 detected: codemeta.json downloadURL is outdated "
                    "or invalid: https://x.org/archive/v2.0.0"),
        "P020": lit("P020 detected: codemeta.json developmentStatus is a "
                    "URL instead of status string: "
                    "https://www.repostatus.org/#active"),
        "W021": lit("W021 detected: codemeta.json GivenName is a list "
                    "instead of string: The [red, fox] team"),
        "P022": lit("P022 detected: codemeta.json License does not specify "
                    "version: 'released under GPL'"),
        "P023": lit("P023 detected: codemeta.json codeRepository uses Git "
                    "shorthand instead of full URL: "
                    "'example.com:user/repo.git'"),
        "P024": "'P024 detected: Identifier uses bare DOI instead of full "
                "URL: ''doi:10.1234/x' || b.doc_id || ''''",
        "P025": "'P025 detected: codemeta.json Continuous integration URL "
                "returns ' || CASE b.m3 WHEN 0 THEN "
                "'301: https://moved.example.org/a' "
                "ELSE 'unknown: not a url' END",
        "P026": lit("P026 detected: codeRepository points to different "
                    "repository: https://github.com/o/r"),
        "P027": "'P027 detected: codemeta.json version ''v1.' || b.m5 || "
                "'.0'' does not match package version'",
        "P028": lit("P028 detected: codemeta Identifier uses raw SWHID "
                    "without resolvable URL: "
                    "'swh:1:rev:abababababababababababababababababababab'"),
    }

    # layer 3: per-code static check fragments around the evidence
    frags = []
    for code in CODES:
        pre = (
            '{"@type":"CheckResult","assessesIndicator":{"@id":'
            f'"https://w3id.org/example/metacheck/i/indicators/{CATEGORIES[code]}"}},'
            '"checkingSoftware":{"@type":"schema:SoftwareApplication",'
            '"name":"metacheck","@id":"https://w3id.org/example/metacheck/tools/",'
            '"softwareVersion":"0.1.0"},'
            f'"process":{_json.dumps(DESCRIPTIONS[code], ensure_ascii=False)},'
            '"status":{"@id":"schema:CompletedActionStatus"},'
            f'"checkId":"{code}","evidence":'
        )
        suf = f',"suggestion":{_json.dumps(SUGGESTIONS[code], ensure_ascii=False)}}}'
        # evidence values on this fixture contain no JSON-special chars,
        # so the JSON encoding is plain quoting
        frags.append(
            f"CASE WHEN f.{code.lower()} THEN {lit(pre)} || '\"' || "
            f"({ev[code]}) || '\"' || {lit(suf)} END"
        )
    checks_list = ",\n      ".join(frags)

    shell_head = (
        '{"@context":"https://w3id.org/example/metacheck/0.1.0/",'
        '"@type":"SoftwareQualityAssessment",'
        '"name":"Quality Assessment for Unknown",'
        '"description":"Software quality assessment for repository metadata",'
        '"creator":{"@type":"schema:Person","name":"Anas El Hounsri",'
        '"email":"a.elhounsri@upm.com"},'
        '"dateCreated":"1970-01-01T00:00:00Z",'
        '"license":["@id: https://opensource.org/license/mit"],'
        '"assessedSoftware":{"@type":"schema:SoftwareApplication",'
        '"name":"Unknown","softwareVersion":"'
    )
    any_fire = " OR ".join(f"f.{c.lower()}" for c in CODES)
    return f"""
WITH battery AS ({_SOMEF_NESTED_FULL_SQL}),
b AS (
  SELECT doc_id, doc_id % 2 AS m2, doc_id % 3 AS m3, doc_id % 4 AS m4,
         doc_id % 5 AS m5, doc_id % 6 AS m6, doc_id % 7 AS m7
  FROM documents
)
SELECT 'doc_' || b.doc_id AS file,
  {lit(shell_head)}
  || CASE b.m3 WHEN 0 THEN '1.' || b.m5 || '.0' WHEN 1 THEN '2.0.0'
       ELSE 'Unknown' END
  || '","url":"'
  || CASE b.m4 WHEN 0 THEN 'example.com:user/repo.git'
       WHEN 1 THEN 'https://www.photosite.com/gallery'
       WHEN 2 THEN 'git@github.com:o/r.git'
       ELSE 'https://github.com/o/r' END
  || '"'
  || CASE WHEN b.m6 = 5
       THEN ',"schema:identifier":{{"@id":"https://doi.org/10.1/ok"}}'
       ELSE '' END
  || '}},"checks":['
  || concat_ws(',',
      {checks_list})
  || ']}}' AS assessment
FROM b JOIN battery f USING (doc_id)
WHERE {any_fire}
"""


# Oracle for the full nested battery. The fixture's controlled arrays make
# each rule's SELECTION trivial (the single qualifying entry is known per
# residue), so the SQL recomputes the same scalar inputs and applies each
# detector's PREDICATE logic independently (regex ladders, normalize
# chains, URL status) — the cross-engine check is on the rule semantics.
# P005's comma-except-Jr lookahead is RE2-unsafe; emulated by deleting
# Jr-commas before the separator test.
_SOMEF_NESTED_FULL_SQL = r"""
WITH base AS (
  SELECT doc_id,
         doc_id % 2 AS m2, doc_id % 3 AS m3, doc_id % 4 AS m4,
         doc_id % 5 AS m5, doc_id % 6 AS m6, doc_id % 7 AS m7
  FROM documents
),
vals AS (
  SELECT *,
    'v1.' || m5 || '.0' AS meta_v,
    CASE WHEN m2 = 0 THEN '1.' || m5 || '.0' ELSE 'v1.' || m5 || '.0' END AS pkg_v,
    CASE WHEN m3 = 0 THEN '1.' || m5 || '.0' WHEN m3 = 1 THEN '2.0.0' END AS rel_tag,
    CASE WHEN m6 = 0 THEN '   '
         WHEN m6 = 2 THEN 'doi:10.1234/x' || doc_id
         WHEN m6 = 3 THEN 'mytool'
         WHEN m6 = 4 THEN 'swh:1:rev:abababababababababababababababababababab'
         WHEN m6 = 5 THEN 'https://doi.org/10.1/ok' END AS ident_v,
    CASE WHEN m6 = 3 THEN '10.1234/abc' END AS ident_other,
    CASE WHEN m5 = 0 THEN 'copyright <year> template'
         WHEN m5 = 1 THEN 'YEAR: 2017' || chr(10) || 'COPYRIGHT HOLDER: Adam H. Sparks'
         WHEN m5 = 2 THEN 'released under GPL'
         WHEN m5 = 3 THEN './LICENSE.md'
         ELSE 'MIT' END AS lic_v,
    CASE WHEN m3 = 0 THEN 'Alice and Bob'
         WHEN m3 = 1 THEN 'The [red, fox] team'
         ELSE 'Alice' END AS auth_v,
    CASE WHEN m7 = 0 THEN 'CITATION.cff' ELSE 'codemeta.json' END AS auth_src,
    CASE WHEN m3 = 0 THEN 'numpy'
         WHEN m3 = 1 THEN 'Numpy Pandas'
         ELSE 'numpy >= 1.4' END AS req_v,
    CASE WHEN m2 = 0 THEN 'https://proj.readthedocs.io/en/latest'
         ELSE 'https://raw.githubusercontent.com/o/r/README.md' END AS readme_v,
    CASE WHEN m2 = 0 THEN 'https://zenodo.org/record/9'
         ELSE 'https://doi.org/10.1/x' END AS refpub_v,
    CASE WHEN m2 = 0 THEN 'https://www.repostatus.org/#active' ELSE 'active' END AS dev_v,
    CASE WHEN m3 = 0 THEN 'https://x.org/issues  ' ELSE 'https://x.org/issues' END AS iss_v,
    CASE WHEN m4 = 0 THEN 'example.com:user/repo.git'
         WHEN m4 = 1 THEN 'https://www.photosite.com/gallery'
         WHEN m4 = 2 THEN 'git@github.com:o/r.git'
         ELSE 'https://github.com/o/r' END AS repo_v,
    'https://github.com/o/r' AS api_v,
    CASE WHEN m3 = 0 THEN '2024-03-10' WHEN m3 = 1 THEN '2024-03-02'
         ELSE '2024-03-05' END AS api_date,
    CASE WHEN m3 IN (0, 1) THEN '2024-03-01' END AS cm_date,
    CASE WHEN m3 = 0 THEN 'https://x.org/archive/v2.0.0' END AS dl_v,
    CASE WHEN m2 = 1 THEN '3.11' END AS lang_ver,
    CASE WHEN m3 = 0 THEN 'see https://gone.example.org/a'
         ELSE 'see https://moved.example.org/a' END AS sreq_v,
    CASE WHEN m3 = 0 THEN 'https://moved.example.org/a'
         WHEN m3 = 1 THEN 'https://ok.example.org/a'
         ELSE 'not a url' END AS ci_v
  FROM base
),
v2 AS (
  SELECT *,
    regexp_extract(sreq_v, 'https?://[^\s<>"'']+') AS sreq_url,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      lower(trim(repo_v, ' ')), '^git\+', ''), '^git@([^:]+):', 'https://\1/'),
      '\.git$', ''), '/$', '') AS repo_norm,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      lower(trim(api_v, ' ')), '^git\+', ''), '^git@([^:]+):', 'https://\1/'),
      '\.git$', ''), '/$', '') AS api_norm
  FROM vals
)
SELECT doc_id,
  coalesce(rel_tag IS NOT NULL AND rel_tag != ''
           AND trim(regexp_replace(meta_v, '^[vV]', ''), ' ')
             != trim(regexp_replace(rel_tag, '^[vV]', ''), ' '), FALSE) AS p001,
  coalesce(m5 < 2 AND regexp_matches(lower(lic_v),
    '(<program>|<year>|<name of author>|<name>|<copyright holders?>|<owner>|<author>|\[year\]|\[fullname\]|\[name\]|\[copyright holder\]|<yyyy>|<name of copyright owner>)'),
    FALSE) AS p002,
  coalesce(NOT regexp_matches(req_v, '(==|>=|<=|~=|!=|[><^~])'), FALSE) AS w003,
  coalesce(api_date IS NOT NULL AND cm_date IS NOT NULL
           AND strptime(api_date, '%Y-%m-%d') > strptime(cm_date, '%Y-%m-%d')
           AND floor(date_diff('second', strptime(cm_date, '%Y-%m-%d'),
                               strptime(api_date, '%Y-%m-%d')) / 86400.0) > 1,
           FALSE) AS w004,
  coalesce(auth_src != 'CITATION.cff'
           AND regexp_matches(regexp_replace(auth_v, ',\s*[Jj][Rr]\.?', ''),
                              '(?i)( and | & |;|\n|,)'), FALSE) AS p005,
  coalesce(
    CASE WHEN contains(lower(readme_v), 'raw.githubusercontent.com') THEN FALSE
         WHEN contains(lower(readme_v), 'github.com') OR contains(lower(readme_v), 'gitlab.com')
           THEN NOT (contains(lower(readme_v), 'readme') OR contains(lower(readme_v), 'blob/'))
         WHEN contains(lower(readme_v), '.readthedocs.io') OR contains(lower(readme_v), '.github.io')
              OR contains(lower(readme_v), 'wiki') OR contains(lower(readme_v), 'docs.')
              OR contains(lower(readme_v), 'documentation') THEN TRUE
         WHEN contains(lower(readme_v), '.org') OR contains(lower(readme_v), '.com')
              OR contains(lower(readme_v), '.net')
           THEN NOT (contains(lower(readme_v), '.md') OR contains(lower(readme_v), '.txt')
                     OR contains(lower(readme_v), '.rst') OR contains(lower(readme_v), '.html')
                     OR contains(lower(readme_v), 'readme'))
                AND NOT contains(string_split(lower(readme_v), '.')[-1], '/')
         ELSE FALSE END, FALSE) AS p006,
  coalesce(regexp_matches(lower(trim(refpub_v, ' ')),
    '(zenodo\.org|figshare\.com|github\.com/.*/releases|sourceforge\.net|archive\.org|codeocean\.com|osf\.io|doi\.org/10\.5281)'),
    FALSE) AS p007,
  coalesce(m5 >= 2
           AND NOT starts_with(lower(trim(lic_v, ' ')), 'http://')
           AND NOT starts_with(lower(trim(lic_v, ' ')), 'https://')
           AND (starts_with(lic_v, './') OR starts_with(lic_v, '../')
                OR contains(lic_v, '/') OR contains(lic_v, '\')
                OR lower(trim(lic_v, ' ')) IN ('license','license.md','license.txt','license.rst',
                    'copying','copying.md','copying.txt','copyright','copyright.md',
                    'copyright.txt','licence','licence.md','licence.txt','readme.md',
                    'doc.txt','file.rst')
                OR lower(trim(lic_v, ' ')) LIKE '%.md' OR lower(trim(lic_v, ' ')) LIKE '%.txt'
                OR lower(trim(lic_v, ' ')) LIKE '%.rst'), FALSE) AS p008,
  coalesce(lang_ver IS NULL, FALSE) AS w010,
  coalesce(contains(auth_src, 'CITATION.cff'), FALSE) AS p011,
  coalesce(regexp_matches(trim(req_v, ' '), '\s{2,}')
           OR regexp_matches(trim(req_v, ' '), '\s[A-Z][A-Za-z]'), FALSE) AS w012,
  coalesce(sreq_url != '' AND NOT (
      (CASE sreq_url WHEN 'https://ok.example.org/a' THEN 200
                     WHEN 'https://moved.example.org/a' THEN 301
                     WHEN 'https://gone.example.org/a' THEN 404 END
       BETWEEN 200 AND 299)
      OR CASE sreq_url WHEN 'https://ok.example.org/a' THEN 200
              WHEN 'https://moved.example.org/a' THEN 301
              WHEN 'https://gone.example.org/a' THEN 404 END = 301),
    FALSE) AS p013,
  coalesce(ident_v IS NOT NULL AND ident_v != ''
    AND NOT (CASE WHEN trim(ident_v, ' ') = '' THEN FALSE
                  WHEN regexp_matches(trim(ident_v, ' '), '(?i)^doi:10\.\d+/.')
                       OR regexp_matches(trim(ident_v, ' '), '(?i)^10\.\d+/.') THEN TRUE
                  WHEN lower(trim(ident_v, ' ')) IN ('doi:', '10.') THEN FALSE
                  WHEN regexp_matches(trim(ident_v, ' '), '(?i)^https?://.') THEN TRUE
                  WHEN contains(trim(ident_v, ' '), ' ') AND NOT contains(trim(ident_v, ' '), '/')
                       AND NOT contains(trim(ident_v, ' '), ':')
                       AND NOT contains(trim(ident_v, ' '), '.') THEN FALSE
                  WHEN replace(replace(replace(trim(ident_v, ' '), ' ', ''), '-', ''), '_', '') != ''
                       AND regexp_matches(replace(replace(replace(trim(ident_v, ' '), ' ', ''), '-', ''), '_', ''), '^[[:alpha:]]+$')
                    THEN FALSE
                  ELSE TRUE END)
    AND ident_other IS NOT NULL
    AND (regexp_matches(trim(ident_other, ' '), '(?i)^doi:10\.\d+/.')
         OR regexp_matches(trim(ident_other, ' '), '(?i)^10\.\d+/.')
         OR regexp_matches(trim(ident_other, ' '), '(?i)^https?://.')), FALSE) AS w014,
  coalesce(ident_v IS NOT NULL AND trim(ident_v, ' ') IN ('', '[]', '{}'), FALSE) AS w015,
  coalesce(
    NOT (contains(lower(repo_v), 'github.com/') OR contains(lower(repo_v), 'gitlab.com/')
         OR contains(lower(repo_v), 'bitbucket.org/')
         OR contains(lower(repo_v), 'sourceforge.net/projects/')
         OR contains(lower(repo_v), 'git.') OR contains(lower(repo_v), '.git'))
    AND (contains(lower(repo_v), '.org/') OR contains(lower(repo_v), '.com/')
         OR contains(lower(repo_v), '.net/') OR contains(lower(repo_v), '.io/')
         OR contains(lower(repo_v), 'www.') OR contains(lower(repo_v), 'docs.')
         OR contains(lower(repo_v), 'documentation') OR contains(lower(repo_v), 'readthedocs')
         OR contains(lower(repo_v), 'github.io')), FALSE) AS p016,
  coalesce(m5 < 2 AND (
      (regexp_matches(lower(lic_v), 'year:\s*\d{4}')
       AND regexp_matches(lower(lic_v), 'copyright\s+holder:'))
      OR ((regexp_matches(lower(lic_v), 'year:\s*\d{4}')
           OR regexp_matches(lower(lic_v), 'copyright\s+holder:\s*[a-zA-Z]')
           OR regexp_matches(lower(lic_v), 'author:\s*[a-zA-Z]')
           OR regexp_matches(lower(lic_v), 'copyright\s*©?\s*\d{4}')
           OR regexp_matches(lower(lic_v), '©\s*\d{4}')
           OR regexp_matches(lower(lic_v), '\(c\)\s*\d{4}'))
          AND NOT (regexp_matches(lower(lic_v), 'permission\s+is\s+hereby\s+granted')
                   OR regexp_matches(lower(lic_v), 'licensed\s+under')
                   OR regexp_matches(lower(lic_v), 'liability')
                   OR regexp_matches(lower(lic_v), 'mit\s+license')
                   OR regexp_matches(lower(lic_v), 'apache\s+license')
                   OR regexp_matches(lower(lic_v), 'terms\s+and\s+conditions'))
          AND len(list_filter(string_split(lic_v, chr(10)), x -> trim(x, ' ') != '')) <= 10)
    ), FALSE) AS p017,
  coalesce(iss_v != '' AND (contains(iss_v, chr(10)) OR contains(iss_v, chr(13))
           OR iss_v != trim(iss_v, ' ') OR contains(iss_v, '  ')), FALSE) AS p018,
  coalesce(dl_v IS NOT NULL AND dl_v != ''
           AND regexp_extract(dl_v, '/archive/(?:v)?(\d+\.\d+(?:\.\d+)?(?:[a-zA-Z0-9\-\.]*)?)', 1) != ''
           AND rel_tag IS NOT NULL AND rel_tag != ''
           AND regexp_extract(dl_v, '/archive/(?:v)?(\d+\.\d+(?:\.\d+)?(?:[a-zA-Z0-9\-\.]*)?)', 1)
             != CASE WHEN starts_with(rel_tag, 'v') THEN substr(rel_tag, 2) ELSE rel_tag END,
           FALSE) AS p019,
  coalesce(lower(trim(dev_v, ' ')) != '' AND (
      regexp_matches(lower(trim(dev_v, ' ')), '^https?://')
      OR regexp_matches(lower(trim(dev_v, ' ')), '^www\.')
      OR contains(lower(trim(dev_v, ' ')), '.org') OR contains(lower(trim(dev_v, ' ')), '.com')
      OR contains(lower(trim(dev_v, ' ')), '.net')), FALSE) AS p020,
  coalesce(auth_src != 'CITATION.cff'
           AND regexp_matches(auth_v, '\[[^\]\n]*,[^\]\n]*\]'), FALSE) AS w021,
  coalesce(m5 >= 2 AND (
      (contains(upper(lic_v), 'GPL') AND NOT regexp_matches(upper(lic_v), 'GPL-?\d+(\.\d+)?'))
      OR (contains(upper(lic_v), 'LGPL') AND NOT regexp_matches(upper(lic_v), 'LGPL-?\d+(\.\d+)?'))
      OR (contains(upper(lic_v), 'AGPL') AND NOT regexp_matches(upper(lic_v), 'AGPL-?\d+(\.\d+)?'))
      OR (contains(upper(lic_v), 'CC') AND NOT regexp_matches(upper(lic_v), 'CC[- ]BY[- ]?\d+(\.\d+)?'))
      OR contains(upper(lic_v), 'BSD')), FALSE) AS p022,
  coalesce(NOT starts_with(trim(repo_v, ' '), 'http://')
           AND NOT starts_with(trim(repo_v, ' '), 'https://')
           AND regexp_matches(trim(repo_v, ' '), '^[a-zA-Z0-9.-]+:[a-zA-Z0-9._/-]+$'),
           FALSE) AS p023,
  coalesce(ident_v IS NOT NULL
           AND NOT starts_with(trim(ident_v, ' '), 'https://doi.org/')
           AND (regexp_matches(trim(ident_v, ' '), '^doi:10\.\d+/')
                OR regexp_matches(trim(ident_v, ' '), '^10\.\d+/')), FALSE) AS p024,
  coalesce(NOT (regexp_matches(ci_v, '(?i)^https?://[^/\s]+')
                AND CASE ci_v WHEN 'https://ok.example.org/a' THEN 200
                        WHEN 'https://moved.example.org/a' THEN 301
                        WHEN 'https://gone.example.org/a' THEN 404 ELSE NULL END
                    BETWEEN 200 AND 299), FALSE) AS p025,
  coalesce(repo_norm != api_norm, FALSE) AS p026,
  coalesce(trim(pkg_v, ' ') != trim(meta_v, ' '), FALSE) AS p027,
  coalesce(ident_v IS NOT NULL
           AND NOT starts_with(trim(ident_v, ' '), 'http://')
           AND NOT starts_with(trim(ident_v, ' '), 'https://')
           AND regexp_matches(trim(ident_v, ' '), '^swh:1:[a-z]+:[a-f0-9]{40}$'),
           FALSE) AS p028
FROM v2
"""


def q_lang_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + array_sort (the reference's set-to-sorted-list
    conversions, json_ld_utils.py:449-460)."""
    return (
        _documents(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
            F.count_distinct("source").alias("n_sources"),
        )
    )


_LANG_SOURCES_SQL = """
SELECT lang,
       list_aggregate(list_sort(list_distinct(list(source))), 'string_agg', ',') AS sources,
       count(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
"""


def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles of document length per language (text-analysis
    extension; Spark `percentile` is exact, matching DuckDB quantile_cont)."""
    return (
        _documents(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.round(F.expr("percentile(n_chars, 0.5)"), 2).alias("p50"),
            F.round(F.expr("percentile(n_chars, 0.9)"), 2).alias("p90"),
            F.round(F.expr("percentile(n_chars, 0.99)"), 2).alias("p99"),
        )
    )


_LENGTH_PERCENTILES_SQL = """
SELECT lang,
       round(quantile_cont(n_chars, 0.5), 2) AS p50,
       round(quantile_cont(n_chars, 0.9), 2) AS p90,
       round(quantile_cont(n_chars, 0.99), 2) AS p99
FROM documents GROUP BY lang
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV/PCM16 decode + features over a binary column (rows-only; value
    checks in tests/test_images_ops.py). Clips synthesized deterministically
    per doc_id on executors via mapInPandas."""
    import numpy as np
    import pandas as pd

    from metacheck_spark.operators.images import audio_features

    def gen(batches):
        from metacheck_spark.fixtures import codec

        for pdf in batches:
            recs = []
            for i in pdf["id"]:
                rate = 8000
                t = np.arange(rate // 2) / rate
                freq = 200 + (int(i) % 20) * 40
                s = (9000 * np.sin(2 * np.pi * freq * t)).astype(np.int16)
                recs.append((f"clip_{int(i):06d}", bytearray(codec.wav_encode(s, rate))))
            yield pd.DataFrame(recs, columns=["clip_id", "audio"])

    clips = spark.range(0, 200, 1, 8).mapInPandas(
        gen, "clip_id string, audio binary"
    )
    feats = audio_features(clips)
    return feats.select(
        "clip_id",
        "decoded_ok",
        "sample_rate",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 2).alias("rms"),
        "peak",
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-container frame sampling (offset-seek, every-2nd frame) over a
    binary column (rows-only; value checks in pytest)."""
    import numpy as np
    import pandas as pd

    from metacheck_spark.operators.images import sample_video_frames

    def gen(batches):
        from metacheck_spark.fixtures import codec

        for pdf in batches:
            recs = []
            for i in pdf["id"]:
                rng = np.random.Generator(np.random.PCG64(1000 + int(i)))
                frames = [
                    rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
                    for _ in range(3 + int(i) % 4)
                ]
                recs.append((f"vid_{int(i):06d}", bytearray(codec.video_encode(frames))))
            yield pd.DataFrame(recs, columns=["video_id", "video"])

    vids = spark.range(0, 100, 1, 8).mapInPandas(gen, "video_id string, video binary")
    out = sample_video_frames(vids, every_n=2)
    return out.select(
        "video_id",
        "n_frames",
        "n_sampled",
        F.array_join(F.transform("frame_phashes", lambda p: p.cast("string")), ",").alias(
            "phashes"
        ),
    )


def q_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize path (decode -> block-mean resize -> re-encode)
    over a synthesized slice; rows-only (binary output)."""
    from metacheck_spark.fixtures.gen_images import gen_images_df
    from metacheck_spark.operators.images import thumbnails

    t = thumbnails(gen_images_df(spark, 200, partitions=8))
    return t.select("image_id", "tw", "th", F.length("thumb").alias("thumb_bytes"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "rule_counts": q_rule_counts,
        "rule_flags": q_rule_flags,
        "agg_pricing": q_agg_pricing,
        "exact_dedup": q_exact_dedup,
        "exact_dedup_digest": q_exact_dedup_digest,
        "fingerprint": q_fingerprint,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "streaming_dedup": q_streaming_dedup,
        "streaming_windows": q_streaming_windows,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "winnow_fp": q_winnow_fp,
        "winnow_pairs": q_winnow_pairs,
        "live_url_check": q_live_url_check,
        "text_quality": q_text_quality,
        "lang_doc_stats": q_lang_doc_stats,
        "cosine_topk": q_cosine_topk,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "topk_per_group": q_topk_per_group,
        "join_revenue": q_join_revenue,
        "events_json": q_events_json,
        "events_daily": q_events_daily,
        "embedding_dup": q_embedding_dup,
        "quality_summary": q_quality_summary,
        "rule_lang_counts": q_rule_lang_counts,
        "cube_doc_stats": q_cube_doc_stats,
        "resume_anti_join": q_resume_anti_join,
        "set_ops": q_set_ops,
        "running_daily": q_running_daily,
        "date_parse": q_date_parse,
        "langid_docs": q_langid_docs,
        "ppl_docs": q_ppl_docs,
        "scrub_docs": q_scrub_docs,
        "image_pipeline": q_image_pipeline,
        "image_features": q_image_features,
        "somef_nested": q_somef_nested,
        "somef_nested_full": q_somef_nested_full,
        "somef_jsonld": q_somef_jsonld,
        "lang_sources": q_lang_sources,
        "length_percentiles": q_length_percentiles,
        "thumbnails": q_thumbnails,
        "audio_features": q_audio_features,
        "video_frames": q_video_frames,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "rule_counts": _rule_counts_sql(),
        "rule_flags": _rule_flags_sql(),
        "agg_pricing": _AGG_PRICING_SQL,
        "exact_dedup": _EXACT_DEDUP_SQL,
        "exact_dedup_digest": _EXACT_DEDUP_DIGEST_SQL,
        "fingerprint": _FINGERPRINT_SQL,
        "ngram_jaccard": _NGRAM_JACCARD_SQL,
        # minhash LSH at threshold 0.8 on this corpus has recall 1.0
        # (asserted vs brute force in tests/test_dedup_similarity.py), so
        # its VERIFIED output — exact word-2gram Jaccard over candidate
        # pairs — equals the brute-force pair set: the same SQL is a
        # value oracle for it.
        "dedup_clusters": _DEDUP_CLUSTERS_SQL,
        "streaming_dedup": _STREAMING_DEDUP_SQL,
        "streaming_windows": _STREAMING_WINDOWS_SQL,
        "minhash_pairs": _NGRAM_JACCARD_SQL,
        "lsh_topk": _lsh_topk_sql(),
        "ivf_topk": _ivf_topk_sql(),
        # simhash signatures use the cross-engine double-lane FNV token
        # hash (dedup.SIMHASH spec), so DuckDB recomputes every bit.
        "simhash_pairs": _simhash_pairs_sql(),
        "winnow_fp": _winnow_fp_sql(),
        "winnow_pairs": _winnow_pairs_sql(),
        "live_url_check": _LIVE_URL_CHECK_SQL,
        "text_quality": _TEXT_QUALITY_SQL,
        "lang_doc_stats": _LANG_DOC_STATS_SQL,
        "cosine_topk": _COSINE_TOPK_SQL,
        "topk_per_group": _TOPK_PER_GROUP_SQL,
        "join_revenue": _JOIN_REVENUE_SQL,
        "events_json": _EVENTS_JSON_SQL,
        "events_daily": _EVENTS_DAILY_SQL,
        "embedding_dup": _EMBEDDING_DUP_SQL,
        "quality_summary": _quality_summary_sql(),
        "rule_lang_counts": _rule_lang_counts_sql(),
        "cube_doc_stats": _CUBE_DOC_STATS_SQL,
        "resume_anti_join": _RESUME_ANTI_JOIN_SQL,
        "set_ops": _SET_OPS_SQL,
        "running_daily": _RUNNING_DAILY_SQL,
        "date_parse": _DATE_PARSE_SQL,
        "somef_nested": _SOMEF_NESTED_SQL,
        "somef_nested_full": _SOMEF_NESTED_FULL_SQL,
        # byte-exact JSON-LD document assembly: battery predicates decide
        # which checks fire, evidence rendered from residue inputs,
        # document concatenated in to_json field order (round-4 ask #3)
        "somef_jsonld": _somef_jsonld_sql(),
        "lang_sources": _LANG_SOURCES_SQL,
        "length_percentiles": _LENGTH_PERCENTILES_SQL,
        "langid_docs": _langid_docs_sql(),
        "scrub_docs": _SCRUB_DOCS_SQL,
        "ppl_docs": _ppl_docs_sql(),
        # image_pipeline / image_features / thumbnails / audio / video:
        # DuckDB cannot decode JFIF/WAV/video containers, so these
        # oracles compare against FROZEN expected-output parquet tables
        # committed under metacheck_spark/fixtures/expected/ — derived
        # row-at-a-time in pure Python from the codec primitives and the
        # label oracle by tools/gen_expected.py (regeneration is
        # bit-stable; tests/test_expected_tables.py guards drift), the
        # same independence contract as fixtures/oracle.py.
        **_expected_table_sql(),
    }


def _expected_table_sql() -> dict[str, str]:
    exp = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "metacheck_spark", "fixtures", "expected",
    )
    return {
        name: f"SELECT * FROM read_parquet('{exp}/{name}.parquet')"
        for name in (
            "image_pipeline",
            "image_features",
            "thumbnails",
            "audio_features",
            "video_frames",
        )
    }
