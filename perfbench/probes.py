"""Layer probes every workload shares: the Python-crossing probe and the
in-process UDF-body timings."""

from __future__ import annotations

import time
from typing import Iterator

import numpy as np
import pandas as pd

from perfbench.harness import median

CROSSING_SPLITS = (1, 16)  # x cores: one task per core, then 16 per core
BODY_ROWS = 600
BODY_DOCS = 500
BODY_REPEATS = 3
CROSSING_REPEATS = 2


def crossing(spark, df, col: str, cores: int, tr) -> None:
    """Identity Iterator pandas UDF over one column of the workload's own
    table, held in memory at `cores` and at 16 x `cores` partitions. The
    extra wall time of the many-task run, spread over the cores, is the
    fixed cost of one Python task; what remains of the one-task-per-core
    run is the per-row cost. Each UDF time has the in-memory scan of the
    same partitions taken off."""
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def identity(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s

    base = df.select(F.col(col).cast("string").alias("c"))
    deltas, spans = {}, {}
    rows = 0
    for mult, name in zip(CROSSING_SPLITS, ("crossing.row_us", "crossing.task_fixed_ms")):
        k = mult * cores
        held = base.repartition(k).persist()
        rows = held.count()
        with tr.span(name, splits=k, rows=rows) as spans[name]:
            scans, udfs = [], []
            for _ in range(CROSSING_REPEATS):
                t0 = time.perf_counter()
                held.write.format("noop").mode("overwrite").save()
                t1 = time.perf_counter()
                held.select(identity("c")).write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                scans.append(t1 - t0)
                udfs.append(t2 - t1)
        held.unpersist(blocking=True)
        deltas[k] = median(udfs) - median(scans)
    lo, hi = (m * cores for m in CROSSING_SPLITS)
    fixed_s = (deltas[hi] - deltas[lo]) * cores / (hi - lo)
    row_s = (deltas[lo] * cores - lo * fixed_s) / max(rows, 1)
    spans["crossing.task_fixed_ms"]["value"] = fixed_s * 1e3
    spans["crossing.row_us"]["value"] = row_s * 1e6


def _per_row_us(fn, items) -> float:
    times = []
    for _ in range(BODY_REPEATS):
        t0 = time.perf_counter()
        fn(items)
        times.append(time.perf_counter() - t0)
    return median(times) / max(len(items), 1) * 1e6


def bodies(seed: int, tr) -> None:
    """The Python function bodies behind the crossings, called in this
    process on one thread over a seeded sample: per-row microseconds."""
    from metacheck_spark.fixtures import codec
    from metacheck_spark.fixtures.gen_images import gen_row, url_status_map
    from metacheck_spark.functions.langid import langid_batch
    from metacheck_spark.functions.perplexity import ppl_batch
    from metacheck_spark.functions.scrub import scrub_batch
    from metacheck_spark.functions.urlcheck import url_flags_batch
    from metacheck_spark.operators.dedup import winnow_batch
    from perfbench.workloads import base_documents

    rows = [gen_row(i, seed) for i in range(BODY_ROWS)]
    payloads = [r["bytes"] for r in rows]
    kinds = {
        "body.decode_png_us": [b for b in payloads if codec.sniff_format(b) == "png"],
        "body.decode_jpeg_us": [
            b for b in payloads
            if codec.sniff_format(b) == "jpeg" and not codec.is_real_jfif(b)
        ],
        "body.decode_jfif_us": [b for b in payloads if codec.is_real_jfif(b)],
    }

    def decode_all(bs):
        for b in bs:
            codec.decode(b)

    for name, bs in kinds.items():
        with tr.span(name, rows=len(bs)) as a:
            a["value"] = _per_row_us(decode_all, bs)
    arrays = [a for a in (codec.decode(b) for b in payloads) if a is not None]
    with tr.span("body.phash_us", rows=len(arrays)) as a:
        a["value"] = _per_row_us(lambda xs: [codec.average_phash(x) for x in xs], arrays)

    caps = pd.Series([r["caption"] for r in rows])
    status = url_status_map()
    text = {
        "body.langid_us": langid_batch,
        "body.ppl_us": ppl_batch,
        "body.urlcheck_us": lambda s: url_flags_batch(s, status),
        "body.scrub_us": scrub_batch,
    }
    for name, fn in text.items():
        with tr.span(name, rows=len(caps)) as a:
            a["value"] = _per_row_us(fn, caps)
    rng = np.random.default_rng(seed)
    docs = pd.Series(rng.choice(base_documents()[1], BODY_DOCS, replace=False).tolist())
    with tr.span("body.winnow_us", rows=len(docs)) as a:
        a["value"] = _per_row_us(winnow_batch, docs)
