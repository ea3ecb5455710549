"""Similarity search over embedding columns: brute-force cosine top-k as
the correctness baseline; two scale paths — sign-LSH (random hyperplanes)
bucketing, which shrinks the verify set to O(n / 2^bits) per query on
roughly-uniform data, and an IVF index (kmeans-lite coarse quantizer +
cluster-probed search), the standard shape when data is clustered.

The sign-LSH signature has one definition, the numpy kernel `sign_bits`;
`signature` applies it per Arrow batch, and `lsh_topk` signs its query
with it directly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metacheck_spark.caching import persist_owned
from metacheck_spark.operators.dedup import (
    bit_bands,
    bucketed_candidate_pairs,
    cosine,
    verify_pairs,
)


def _topk(
    df: DataFrame, query_vec: list[float], k: int, vec_col: str, id_col: str
) -> DataFrame:
    """The k rows of `df` with the highest cosine to the query (rounded to
    6 places; ties by id) — the shared tail of every top-k search."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


def cosine_topk(
    df: DataFrame, query_vec: list[float], k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k — one narrow scan + a k-row total sort
    (Spark's TakeOrderedAndProject: per-partition top-k then a k-sized
    merge on the driver, no full sort/shuffle)."""
    return _topk(df, query_vec, k, vec_col, id_col)


def hyperplanes(dim: int, bits: int = 8, seed: int = 42) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((bits, dim))


def sign_bits(x: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Sign-LSH signatures of the rows of `x`, one int64 each: bit b set
    iff dot(row, plane_b) > 0. The one definition of the signature — the
    Arrow UDF signs table rows with it and lsh_topk signs its query."""
    dots = np.asarray(x, dtype=np.float64) @ np.asarray(planes, dtype=np.float64).T
    return ((dots > 0).astype(np.int64) << np.arange(dots.shape[1])).sum(axis=1)


def signature(vec_col: str, bits: int, seed: int = 42) -> Column:
    """Sign-LSH signature column: an Arrow-batched pandas UDF, one numpy
    matmul per batch against `hyperplanes(width, bits, seed)` for the
    width of the batch's vectors. Plan size is constant at any bit count
    and the Python boundary is crossed once per batch. A null vector signs
    as 0; a batch of vectors of mixed width raises ValueError."""
    if bits > 63:
        raise ValueError("signature supports at most 63 bits (long)")

    @F.pandas_udf("long")
    def _sig(s: pd.Series) -> pd.Series:
        present = s.notna().to_numpy()
        out = np.zeros(len(s), dtype=np.int64)
        if present.any():
            x = np.array(s[present].tolist(), dtype=np.float64)
            out[present] = sign_bits(x, hyperplanes(x.shape[1], bits, seed))
        return pd.Series(out, index=s.index)

    return _sig(F.col(vec_col))


def lsh_topk(
    df: DataFrame, query_vec: list[float], k: int = 10, bits: int = 8,
    vec_col: str = "embedding", id_col: str = "vec_id", seed: int = 42,
) -> DataFrame:
    """ANN top-k: restrict the brute-force scan to the query's LSH bucket.
    The rows and the query are signed by the same `sign_bits` against the
    same seeded planes. Approximate — recall measured in
    tests/test_dedup_similarity.py. In production the signature is
    precomputed at ingest and the table is bucketed/partitioned by it,
    turning this into a single-partition scan."""
    sig = signature(vec_col, bits, seed)
    qsig = int(sign_bits([query_vec], hyperplanes(len(query_vec), bits, seed))[0])
    return _topk(df.filter(sig == qsig), query_vec, k, vec_col, id_col)


def embedding_dup_pairs_bucketed(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    bits: int = 16,
    bands: int = 4,
    seed: int = 42,
    max_bucket: int = 1000,
    caches=None,
) -> DataFrame:
    """Embedding-cosine near-dup at scale: sign-LSH banding for candidate
    generation (pairs sharing ANY band of the signature — multi-band
    boosts recall for pairs straddling a single hyperplane), exact cosine
    verification. Reuses the LSH bucket machinery of
    operators/dedup.py — one narrow shuffle per band, never O(n^2).
    Exact duplicates always share every band, so recall on true copies
    is 1.0 whenever at least one shared bucket is <= max_bucket or the
    bucket's hub (min id) is itself a cluster member — in the oversized-
    bucket regime candidates are star pairs around the hub, so a copy
    pair hiding behind a non-duplicate hub in EVERY shared bucket would
    be missed (same honest boilerplate-cluster framing as
    bucketed_candidate_pairs). The signature UDF reads the vector width
    from each Arrow batch, so no job runs before the caller's action and
    an empty input gives an empty pair frame."""
    assert bits % bands == 0, "bits must divide into equal bands"
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # cache ownership: the signature frame feeds banding AND the two
    # verify joins; it must stay persisted until the caller's action runs
    # (the returned plan is lazy). Pass a CacheRegistry as `caches` to
    # release it afterwards; without one it stays persisted after return
    # (bench.py's clearCache-per-pass discipline handles that there).
    sig = persist_owned(v.withColumn("sig", signature("v", bits, seed)), caches)
    cands = bucketed_candidate_pairs(
        bit_bands(sig, bands, bits // bands), max_bucket=max_bucket
    )
    return verify_pairs(
        cands, sig, "v", lambda a, b: F.round(cosine(a, b), 6), "cos",
        lambda s: s >= threshold,
    )


# --- IVF (inverted-file) index: kmeans-lite coarse quantizer ----------------


def train_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_clusters: int = 16,
    iters: int = 10,
    sample: int = 4096,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Lloyd's kmeans (cosine) on a bounded driver-side sample — the
    coarse quantizer of an IVF index is always trained on a sample
    (centroids are tiny; only they ship back to executors).

    Fully deterministic AND engine-portable, so the driver oracle
    (_ivf_topk_sql in __spark_entry__) can retrain the quantizer
    independently in SQL: the sample is the `sample` rows with the
    smallest Knuth multiplicative hash of the id — an UNBIASED
    pseudo-random draw (smallest-id sampling biased the quantizer to
    whatever the low ids happen to contain) that is still a
    TakeOrderedAndProject (per-partition top-k, no full sort, nothing
    driver-sorted). The hash is plain 63-bit-safe integer arithmetic,
    h(id) = ((id mod 2^31) * 2654435761) mod 2^31, so DuckDB computes
    the identical sample; init centroids are the rows at evenly spaced
    ranks of that hash-ordered sample (no RNG), argmax ties resolve to
    the lowest cluster index, and an empty cluster keeps its previous
    centroid."""
    hcol = F.pmod(
        F.pmod(F.col(id_col).cast("long"), F.lit(2147483648))
        * F.lit(2654435761),
        F.lit(2147483648),
    )
    rows = (
        df.select(id_col, vec_col)
        .orderBy(hcol.asc(), F.col(id_col).asc())
        .limit(sample)
        .collect()
    )
    x = np.array([list(r[1]) for r in rows], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    n = len(x)
    k = min(n_clusters, n)
    cent = x[[(i * n) // k for i in range(k)]].copy()
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)  # ties -> lowest cluster index
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def assign_clusters(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Nearest-centroid assignment as a vectorized pandas UDF — one numpy
    matmul per Arrow batch against the (broadcast-small) centroid matrix.
    At ingest time this column is written once and the table is clustered/
    partitioned by it, making ivf_topk a partition-pruned scan."""
    cent = centroids  # closure-captured; small

    @F.pandas_udf("int")
    def assign_udf(s: pd.Series) -> pd.Series:
        x = np.array([list(v) for v in s], dtype=np.float64)
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series((x @ cent.T).argmax(axis=1).astype(np.int32), index=s.index)

    return df.withColumn(out_col, assign_udf(F.col(vec_col)))


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "cluster",
) -> DataFrame:
    """ANN top-k: probe the nprobe clusters nearest the query, brute-force
    cosine only inside them. With the table partitioned by cluster the
    filter prunes partitions at the scan. df must carry cluster_col
    (assign_clusters at ingest)."""
    q = np.array(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    # stable descending sort: ties resolve to the lowest cluster index,
    # matching the SQL oracle's ORDER BY dot DESC, c
    probes = [int(c) for c in np.argsort(-(centroids @ q), kind="stable")[:nprobe]]
    probed = df.filter(F.col(cluster_col).isin(probes))
    return _topk(probed, query_vec, k, vec_col, id_col)
