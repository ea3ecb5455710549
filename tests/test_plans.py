"""Physical-plan regression tests: the properties that make the engine
scale are asserted on explain() output so a refactor can't silently
reintroduce a shuffle, lose pushdown, or de-broadcast a dimension."""

from pyspark.sql import functions as F

import __spark_entry__ as E
from metacheck_spark.pipeline import run_pipeline

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_rule_flags_prunes_columns(spark):
    """The rule battery reads only (doc_id, text) from the parquet scan."""
    plan = _plan(E.q_rule_flags(spark, SF))
    assert "ReadSchema" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read and "doc_id" in read
    assert "lang" not in read and "n_chars" not in read and "source" not in read


def test_agg_pricing_pushes_filter(spark):
    """The shipdate predicate reaches the parquet scan as a pushed filter."""
    plan = _plan(E.q_agg_pricing(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_join_revenue_broadcasts_dims(spark):
    """customer and nation join broadcast — no shuffle of the fact side
    for the dimension joins."""
    plan = _plan(E.q_join_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2


def test_pipeline_udf_mode_is_shuffle_free(spark, images_dir):
    """The full flag-assembly + labeling plan is narrow:
    zero Exchange operators anywhere — the only shuffles in the whole
    pipeline are the explicit bucketed/salted writes and the tiny metrics
    aggregation."""
    images = spark.read.parquet(f"{images_dir}/images.parquet")
    us = spark.read.parquet(f"{images_dir}/url_status.parquet")
    audit = run_pipeline(spark, images, us)
    plan = _plan(audit)
    assert "Exchange" not in plan


def test_pipeline_single_caption_crossing(spark, images_dir):
    """Exactly two Arrow/Python boundary nodes in the audit plan: one for
    the binary decode, one for the fused caption stage (langid + ppl +
    URL checks + scrub in a single crossing)."""
    images = spark.read.parquet(f"{images_dir}/images.parquet")
    us = spark.read.parquet(f"{images_dir}/url_status.parquet")
    audit = run_pipeline(spark, images, us)
    plan = _plan(audit)
    assert plan.count("ArrowEvalPython") == 2


def test_exact_dedup_partial_aggregation(spark):
    """exact_dedup aggregates map-side before the shuffle (partial then
    final HashAggregate around one Exchange)."""
    plan = _plan(E.q_exact_dedup(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_cosine_topk_avoids_full_sort(spark):
    """Brute-force top-k compiles to TakeOrderedAndProject (per-partition
    top-k + driver merge), not a global Sort+Exchange."""
    plan = _plan(E.q_cosine_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_nested_battery_is_single_projection(spark):
    """The full 27-rule nested battery over the fixture is pure Column
    logic: ZERO exchanges — no shuffle, no join, no window — just scan +
    project. This is the plan shape that makes the rule engine free at
    10^12 rows (cost scales with bytes scanned, not with rule count)."""
    plan = _plan(E.q_somef_nested_full(spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_jsonld_assessments_single_projection(spark):
    """The full reference-shaped JSON-LD document (shell + 27 evidence
    templates) is likewise one shuffle-free projection per document."""
    plan = _plan(E.q_somef_jsonld(spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_dedup_clusters_no_cartesian(spark):
    """Each label-propagation round is a shuffle JOIN + aggregate — never
    a cartesian/nested-loop product."""
    from pyspark.sql import functions as F

    from metacheck_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    labels = D.dedup_clusters(pairs)
    plan = _plan(labels)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    _ = F  # imported for parity with sibling tests


def test_minhash_signature_hash_materialized(spark):
    """The shingle hash feeds the 64 min-aggs as a materialized column —
    exactly ONE xxhash64 in the aggregate subplan (codegen does not CSE
    the subexpression across aggregates; recomputing it 64x was a 3.5x
    slowdown)."""
    from metacheck_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sig = D.minhash_signatures(docs, "text", "doc_id")
    plan = _optimized(sig)
    assert plan.count("xxhash64") == 1


def test_ivf_probe_prunes_cluster_partitions(spark, tmp_path):
    """The IVF scale claim (operators/similarity.py:ivf_topk docstring):
    with the table written partitioned by the cluster column, the nprobe
    filter must prune at the SCAN — the physical plan reads only the
    probed cluster partitions, not the whole table."""
    import numpy as np

    from metacheck_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = S.train_centroids(emb, n_clusters=8)
    path = str(tmp_path / "ivf_table")
    S.assign_clusters(emb, cent).write.partitionBy("cluster").parquet(path)

    table = spark.read.parquet(path)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    qn = np.array(q) / np.linalg.norm(q)
    probes = [int(c) for c in np.argsort(-(cent @ qn), kind="stable")[:3]]

    plan = (
        table.filter(F.col("cluster").isin(probes))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the cluster predicate reached the scan as a PARTITION filter
    assert "PartitionFilters" in plan
    assert "cluster" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    scanned = (
        table.filter(F.col("cluster").isin(probes))
        .select(F.count(F.lit(1))).head()[0]
    )
    per_cluster = {
        r["cluster"]: r["count"]
        for r in table.groupBy("cluster").count().collect()
    }
    assert scanned == sum(per_cluster[c] for c in probes)
    assert scanned < sum(per_cluster.values())  # strictly pruned


def test_winnow_single_arrow_crossing(spark):
    """One ArrowEvalPython node total in the fingerprint plan: the
    explode must consume the materialized kernel output, not re-evaluate
    it (plain explode of a UDF column gets an InferFiltersFromGenerate
    size()-filter that runs the kernel twice — winnow_fingerprints uses
    explode_outer + a generated-attribute filter to avoid it)."""
    from metacheck_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    plan = _plan(winnow_fingerprints(docs, "text", "doc_id"))
    assert plan.count("ArrowEvalPython") == 1
    # the pairs plan expands every bucket (all-pairs and star routing)
    # in one branch, so the kernel still crosses once
    pairs_plan = _plan(winnow_overlap_pairs(docs, "text", "doc_id"))
    assert pairs_plan.count("ArrowEvalPython") == 1
    assert "CartesianProduct" not in pairs_plan


def test_lsh_bucket_frame_is_evaluated_once(spark):
    """Every LSH pair path sizes and expands its buckets in one branch
    over one window frame. After an action, the final adaptive plan (the
    text before "== Initial Plan ==") holds exactly one Window and no
    Union or ReusedExchange: a second branch over the frame would sort
    and window the shuffled bucket rows a second time."""
    from metacheck_spark.caching import CacheRegistry
    from metacheck_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash_dup_pairs,
        winnow_overlap_pairs,
    )
    from metacheck_spark.operators.similarity import embedding_dup_pairs_bucketed

    # 8 captions, 5 exact copies each: every path has non-empty buckets,
    # so adaptive execution prunes no branch of the plan
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit("a caption that repeats"), (F.col("id") % 8).cast("string"),
            F.lit("across several documents"),
        ).alias("text"),
    )
    vecs = docs.select(
        F.col("doc_id").alias("id"),
        F.array(F.lit(1.0), (F.col("doc_id") % 8).cast("double") - 3.5).alias("v"),
    )
    with CacheRegistry() as caches:
        paths = {
            "minhash": minhash_lsh_candidates(docs, "text", "doc_id"),
            "winnow": winnow_overlap_pairs(docs, "text", "doc_id", min_shared=1),
            "simhash": simhash_dup_pairs(docs, "text", "doc_id", caches=caches),
            "embedding": embedding_dup_pairs_bucketed(vecs, "v", "id", caches=caches),
        }
        for name, df in paths.items():
            assert df.collect(), name  # the action runs df's own plan
            final = _plan(df).split("== Initial Plan ==")[0]
            assert "isFinalPlan=true" in final, name
            assert final.count("Window ") == 1, (name, final)
            assert "Union" not in final, (name, final)
            assert "ReusedExchange" not in final, (name, final)
