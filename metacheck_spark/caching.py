"""Cache-ownership surface for operators that persist() intermediates.

The LSH dedup operators (minhash/simhash/embedding near-dup) persist
their candidate/signature frames because those feed two verification
joins — without materialization each join re-executes the whole upstream
plan. But the operators return LAZY results, so they can never know when
it is safe to unpersist: ownership necessarily sits with the caller, who
runs the action. This registry makes that ownership explicit instead of
leaking cached plans into a long-lived session.

Usage::

    with CacheRegistry() as caches:
        pairs = minhash_dedup_pairs(df, "text", "id", caches=caches)
        pairs.write.parquet(out)          # action runs with the caches hot
    # exit -> every frame the operator persisted is unpersisted

Passing no registry keeps the old behavior (frames stay persisted after
return — fine under bench.py's clearCache-per-pass discipline, wrong for
a long-lived production session, which should always pass a registry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def free_local_checkpoint(df: DataFrame, blocking: bool = False) -> None:
    """Release the executor storage behind a localCheckpoint()ed frame.

    DataFrame.unpersist() is a no-op for checkpoints (their storage is
    RDD-level, not CacheManager-level), so this reaches through to the
    LogicalRDD's backing RDD. The frame is UNUSABLE afterwards — the
    checkpoint truncated its lineage, so there is nothing to recompute
    from. Release only after the final action over it.

    Only valid on the frame localCheckpoint() RETURNED (analyzed plan
    root = LogicalRDD): on any derived frame (a select/filter over it)
    the reach-through would hit a different plan node and raise an
    opaque Py4JError, so this guards with an explicit plan-class check
    and says what to pass instead."""
    root = df._jdf.queryExecution().analyzed()
    cls = root.getClass().getSimpleName()
    if cls != "LogicalRDD":
        raise TypeError(
            "free_local_checkpoint needs the exact frame "
            "localCheckpoint() returned (plan root LogicalRDD), got "
            f"{cls}: pass the checkpointed frame itself, not a "
            "transformation of it"
        )
    df._jdf.queryExecution().analyzed().rdd().unpersist(blocking)


class CacheRegistry:
    """Collects the frames an operator persists so the caller can release
    them once its action completes. Context-manager exit releases all."""

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []
        self._checkpoints: list[DataFrame] = []

    def persist(self, df: DataFrame) -> DataFrame:
        """persist() a frame and take ownership of its release."""
        df.persist()
        self._frames.append(df)
        return df

    def adopt_checkpoint(self, df: DataFrame) -> DataFrame:
        """Take ownership of a localCheckpoint()ed frame. NOTE: releasing
        a checkpoint FREES its data — unlike a cache there is no
        recompute path — so the frame must not be used after this
        registry unpersists."""
        self._checkpoints.append(df)
        return df

    def unpersist_all(self, blocking: bool = False) -> None:
        while self._frames:
            self._frames.pop().unpersist(blocking)
        while self._checkpoints:
            free_local_checkpoint(self._checkpoints.pop(), blocking)

    def __enter__(self) -> "CacheRegistry":
        return self

    def __exit__(self, *exc) -> bool:
        # blocking release: the context-manager form promises "no cached
        # relations remain" on exit, so wait for the executors to drop them
        self.unpersist_all(blocking=True)
        return False


def persist_owned(df: DataFrame, caches: CacheRegistry | None) -> DataFrame:
    """persist() `df`, registering it with `caches` when one is given."""
    if caches is not None:
        return caches.persist(df)
    df.persist()
    return df


def cached_rdd_count(spark: SparkSession) -> int:
    """Number of RDDs currently occupying executor storage memory —
    the assertion surface for cache-ownership tests."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
