"""Adversarial mega-bucket gate (round-5 ask #4): ONE boilerplate
caption duplicated tens of thousands of times — the pathological LSH
input at web scale (every band bucket holds the entire duplicate set,
so naive in-bucket expansion is O(n^2) ~ 10^8 pairs here, ~10^14 at a
production 10^7-copy boilerplate cluster).

Pinned behavior, measured through the operator's own Observation
metrics (dedup.bucketed_candidate_pairs):
* the oversized buckets are star-routed — exactly bands x (n_dup - 1)
  ids take the O(bucket) path, none are dropped;
* the emitted candidate set is O(n): n_dup - 1 verified pairs, not
  ~n^2/2;
* cluster resolution still recovers the FULL boilerplate cluster
  (star edges preserve connectivity) — one cluster, min-id label, all
  n_dup members — alongside untouched unique docs.

All four LSH pair operators (minhash, simhash, winnow, sign-LSH
embeddings) share one bucket policy (dedup._expand_buckets), so the
parameterized test below pins the star-routing invariants on each: a
boilerplate set 5x the bucket cap yields exactly n - 1 pairs, all
anchored at the min id, resolving into one component.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from metacheck_spark.caching import CacheRegistry
from metacheck_spark.operators import dedup as D
from metacheck_spark.operators import similarity as S

N_DUP = 20_000
N_UNIQ = 2_000
BANDS = 16
MAX_BUCKET = 1000  # every pair operator's default bucket cap
N_DUP_PATH = 5 * MAX_BUCKET
DIM = 16
BOILER = (
    "all images on this site are provided as is without warranty of any "
    "kind contact the site administrator to request removal or takedown"
)


def _corpus(spark, n_dup=N_DUP):
    boiler = spark.range(0, n_dup, 1, 8).select(
        F.col("id").alias("doc_id"), F.lit(BOILER).alias("text")
    )
    uniq = spark.range(1_000_000, 1_000_000 + N_UNIQ, 1, 8).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit(f"tok{j}x"),
                    F.pmod(F.col("id") * F.lit(31 + 7 * j), F.lit(1000003)),
                )
                for j in range(10)
            ],
        ).alias("text"),
    )
    return boiler.unionAll(uniq)


def test_megabucket_star_routing_is_linear_and_connected(spark):
    docs = _corpus(spark)
    obs = Observation()
    with CacheRegistry() as caches:
        pairs = D.minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.8,
            num_partitions="auto", caches=caches, observation=obs,
        )
        n_pairs = pairs.count()
        metrics = obs.get
        # O(bucket) routing: every duplicated band bucket ships hub->id
        # star rows; with identical text all `bands` buckets hold the
        # full duplicate set, so exactly bands x (n_dup - 1) ids are
        # star-routed (unique docs never form an oversized bucket).
        assert metrics["max_bucket_size"] == N_DUP
        assert metrics["star_routed_ids"] == BANDS * (N_DUP - 1)
        # O(n) candidate output: the distinct star pairs collapse to one
        # hub->id edge per duplicate; verification (jaccard == 1.0 on
        # identical text) keeps them all and admits nothing quadratic.
        assert n_pairs == N_DUP - 1

        labels = {
            r["id"]: r["cluster_id"]
            for r in D.dedup_clusters(pairs, caches=caches).collect()
        }
    # full boilerplate cluster recovered through the star edges
    assert len(labels) == N_DUP
    assert set(labels.values()) == {0}


def _vectors(spark, n_dup):
    """n_dup identical embeddings (ids 0..n_dup-1) plus N_UNIQ hash-random
    ones (pairwise cosine far below the 0.95 threshold)."""
    boiler = spark.range(0, n_dup, 1, 8).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(j % 5) - 2.0) for j in range(DIM)]).alias("embedding"),
    )
    uniq = spark.range(1_000_000, 1_000_000 + N_UNIQ, 1, 8).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                F.pmod(F.xxhash64("id", F.lit(j)), F.lit(2001)) / 1000.0 - 1.0
                for j in range(DIM)
            ]
        ).alias("embedding"),
    )
    return boiler.unionAll(uniq)


_PATHS = {
    "minhash": lambda spark, c: D.minhash_dedup_pairs(
        _corpus(spark, N_DUP_PATH), "text", "doc_id", threshold=0.8,
        num_partitions="auto", caches=c,
    ),
    "simhash": lambda spark, c: D.simhash_dup_pairs(
        _corpus(spark, N_DUP_PATH), "text", "doc_id",
        num_partitions="auto", caches=c,
    ),
    "winnow": lambda spark, c: D.winnow_overlap_pairs(
        _corpus(spark, N_DUP_PATH), "text", "doc_id",
        max_doc_freq=None, num_partitions="auto",
    ),
    "sign_lsh": lambda spark, c: S.embedding_dup_pairs_bucketed(
        _vectors(spark, N_DUP_PATH), "embedding", "vec_id", caches=c,
    ),
}


@pytest.mark.parametrize("path", sorted(_PATHS))
def test_megabucket_every_lsh_path_star_routes(spark, path):
    with CacheRegistry() as caches:
        pairs = caches.persist(_PATHS[path](spark, caches).select("id_a", "id_b"))
        boiler = [
            (r["id_a"], r["id_b"])
            for r in pairs.filter(
                (F.col("id_a") < N_DUP_PATH) & (F.col("id_b") < N_DUP_PATH)
            ).collect()
        ]
        # O(n), not quadratic: one hub->id edge per duplicate
        assert len(boiler) == N_DUP_PATH - 1
        assert {a for a, _ in boiler} == {0}
        assert sorted(b for _, b in boiler) == list(range(1, N_DUP_PATH))

        component = {
            r["id"]
            for r in D.dedup_clusters(pairs, caches=caches)
            .filter(F.col("cluster_id") == 0)
            .collect()
        }
    # the star edges connect the whole boilerplate set, and nothing else
    assert component == set(range(N_DUP_PATH))
