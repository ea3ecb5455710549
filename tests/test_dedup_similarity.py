"""Dedup + similarity operator tests: LSH candidate recall vs brute-force
ground truth, verification precision, ANN recall."""

import pytest
from pyspark.sql import functions as F

from metacheck_spark.operators import dedup as D
from metacheck_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    d = d.filter(F.col("doc_id") < 150)
    variants = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" extra token")).alias("text"),
    )
    return d.unionAll(variants).cache()


@pytest.fixture(scope="module")
def true_pairs(docs_with_dups):
    """Brute-force ground truth: word-bigram Jaccard >= 0.8."""
    rows = D.ngram_jaccard_pairs(docs_with_dups, "text", "doc_id", 2, 0.8).collect()
    return {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}


def test_seeded_dups_are_found_bruteforce(true_pairs):
    # every seeded variant pairs with its source at ~n/(n+2) similarity
    seeded = [(a, b) for (a, b) in true_pairs if b == a + 100000]
    assert len(seeded) >= 20


def test_minhash_lsh_recall_and_precision(docs_with_dups, true_pairs):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_dedup_pairs(
            docs_with_dups, "text", "doc_id", threshold=0.8
        ).collect()
    }
    # verification step computes EXACT jaccard -> precision is 1.0 by
    # construction; recall depends only on banding
    assert set(got) <= set(true_pairs)
    recall = len(got) / len(true_pairs)
    assert recall >= 0.9, f"LSH recall {recall:.2f}"
    for k, v in got.items():
        assert v == true_pairs[k]


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "A  b   c "), (3, "different"), (4, "a b c")],
        "id long, text string",
    )
    rows = {r["keep_id"]: r["n_copies"] for r in D.exact_dedup(df, "text", "id").collect()}
    assert rows == {1: 3, 3: 1}  # normalization folds case/whitespace


def test_simhash_finds_near_identical(spark):
    base = "the quick brown fox jumps over the lazy dog " * 4
    df = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "completely unrelated words here")],
        "id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in D.simhash_dup_pairs(df, "text", "id").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = [r["vec_id"] for r in S.cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in S.lsh_topk(emb, q, k=10, bits=4).collect()]
    # the query's own bucket always contains it, plus a decent share of
    # true neighbors (4 bits ~ 1/16 of the space, neighbors cluster)
    assert exact[0] == 0 and 0 in approx
    overlap = len(set(exact) & set(approx)) / 10
    assert overlap >= 0.3, f"ANN overlap {overlap}"


def test_ivf_topk_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    cent = S.train_centroids(emb, n_clusters=8)
    assert cent.shape[0] == 8
    indexed = S.assign_clusters(emb, cent).cache()
    # every row lands in exactly one cluster; clusters are non-degenerate
    n_clusters_used = indexed.select("cluster").distinct().count()
    assert 2 <= n_clusters_used <= 8
    exact = [r["vec_id"] for r in S.cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in S.ivf_topk(indexed, q, cent, k=10, nprobe=3).collect()]
    assert exact[0] == 0 and 0 in approx
    overlap = len(set(exact) & set(approx)) / 10
    assert overlap >= 0.5, f"IVF overlap {overlap}"
    # full probe == exact search (sanity: IVF degenerates to brute force)
    allprobe = [r["vec_id"] for r in S.ivf_topk(indexed, q, cent, k=10, nprobe=8).collect()]
    assert allprobe == exact


def test_word_ngrams_and_jaccard_columns(spark):
    df = spark.createDataFrame([("a b c d",), ("a b c e",)], "t string")
    rows = df.select(D.word_ngrams(F.col("t"), 2).alias("g")).collect()
    assert rows[0]["g"] == ["a b", "b c", "c d"]
    j = (
        spark.range(1)
        .select(
            D.jaccard(
                F.array(F.lit("a b"), F.lit("b c")),
                F.array(F.lit("b c"), F.lit("c d")),
            ).alias("j")
        )
        .head()["j"]
    )
    assert abs(j - 1 / 3) < 1e-12


def test_oversized_bucket_star_routing(spark):
    """A bucket larger than max_bucket (the boilerplate-duplication case)
    must still yield pairs connecting the whole cluster — via O(bucket)
    star pairs around the smallest id — plus routing metrics."""
    from pyspark.sql import Observation

    rows = [(i, 0, 7) for i in range(20)] + [(100 + i, 1, 9) for i in range(3)]
    banded = spark.createDataFrame(rows, "id long, band int, band_sig long")
    obs = Observation("lsh")
    pairs = D.bucketed_candidate_pairs(banded, max_bucket=10, observation=obs)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # oversized bucket (20 ids): star around id 0
    assert {(0, i) for i in range(1, 20)} <= got
    assert not any(a != 0 for (a, b) in got if b < 100)  # star, not all-pairs
    # normal bucket (3 ids): full pair expansion
    assert {(100, 101), (100, 102), (101, 102)} <= got
    m = obs.get
    assert m["n_buckets"] == 2
    assert m["max_bucket_size"] == 20
    assert m["star_routed_ids"] == 19  # hub excluded — it emits no pair row


@pytest.mark.parametrize("bits", [6, 16])
def test_signature_matches_per_row_reference(spark, bits):
    """The Arrow UDF `signature` and the numpy kernel `sign_bits` agree
    with a plain-Python per-row reference — bit b iff sum(v_i * p_i) > 0
    — and a null vector signs as 0."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    df = emb.filter(F.col("vec_id") < 64).unionAll(
        spark.createDataFrame([(-1, None)], emb.schema)
    )
    vecs = {r["vec_id"]: r["embedding"] for r in df.collect()}
    planes = S.hyperplanes(len(vecs[0]), bits)

    def reference(v):
        if v is None:
            return 0
        return sum(
            1 << b
            for b, p in enumerate(planes)
            if sum(x * y for x, y in zip(v, p)) > 0
        )

    want = {i: reference(v) for i, v in vecs.items()}
    got = df.select("vec_id", S.signature("embedding", bits).alias("sig"))
    assert {r["vec_id"]: r["sig"] for r in got.collect()} == want
    assert want[-1] == 0 and len(set(want.values())) > 1
    ids = [i for i in vecs if vecs[i] is not None]
    kernel = S.sign_bits([vecs[i] for i in ids], planes)
    assert [int(s) for s in kernel] == [want[i] for i in ids]


def test_signature_rejects_more_than_63_bits():
    with pytest.raises(ValueError):
        S.signature("embedding", 64)


def test_embedding_dup_bucketed_lazy_and_empty_input(spark):
    """Building the pair frame runs no Spark job (no probe of the vector
    width), and an empty input gives an empty pair frame of the usual
    schema."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    sc = spark.sparkContext
    sc.setJobGroup("embedding_dup_build", "plan building only")
    try:
        S.embedding_dup_pairs_bucketed(emb, "embedding", "vec_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("embedding_dup_build") == []
    pairs = S.embedding_dup_pairs_bucketed(
        emb.filter(F.col("vec_id") < 0), "embedding", "vec_id"
    )
    assert pairs.schema.simpleString() == (
        "struct<id_a:bigint,id_b:bigint,cos:double>"
    )
    assert pairs.count() == 0


def test_embedding_dup_bucketed_no_cross_join(spark):
    """The bucketed embedding near-dup must find all seeded copies with
    NO cartesian/nested-loop join in the physical plan, at bits=16."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    df = emb.unionAll(copies)
    pairs = S.embedding_dup_pairs_bucketed(
        df, "embedding", "vec_id", threshold=0.9, bits=16, bands=4
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    want = {
        (r["vec_id"], r["vec_id"] + 100000)
        for r in emb.filter(F.col("vec_id") % 10 == 0).select("vec_id").collect()
    }
    assert want <= got


def test_embedding_dup_bucketed_matches_brute_force(spark):
    """On a tiny input the bucketed path returns EXACTLY the brute-force
    pair set: a x1.001-scaled copy of vec 0 plus vecs 1 and 2."""
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    v0 = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    dup = spark.createDataFrame([(999999, [x * 1.001 for x in v0])], emb.schema)
    df = emb.filter(F.col("vec_id").isin(0, 1, 2)).unionAll(dup)
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    want = {
        (a, b)
        for a in vecs
        for b in vecs
        if a < b
        and round(
            float(vecs[a] @ vecs[b])
            / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])),
            6,
        ) >= 0.99
    }
    assert (0, 999999) in want
    pairs = S.embedding_dup_pairs_bucketed(
        df, "embedding", "vec_id", threshold=0.99, bits=16, bands=4
    )
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == want


def test_no_rdd_access_in_package():
    """Spark-Connect safety: no DataFrame.rdd probes anywhere. Lines that
    reach through `_jdf` are exempt — that is the explicit classic-mode
    JVM escape hatch (free_local_checkpoint's storage release), not a
    silent plan-conversion probe, and it is documented as such."""
    import pathlib

    pkg = pathlib.Path(D.__file__).resolve().parent.parent
    offenders = [
        p
        for p in pkg.rglob("*.py")
        if any(
            ".rdd" in line and "_jdf" not in line
            for line in p.read_text().splitlines()
        )
    ]
    assert offenders == [], f".rdd access in {offenders}"


def test_dedup_clusters_transitive(spark):
    """A~B and B~C without A~C must land in ONE cluster labeled min(id);
    disjoint pairs stay separate; convergence well under the iter cap."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in D.dedup_clusters(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }


def test_dedup_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir= switches the per-round lineage truncation to
    RELIABLE checkpoints (files under the dir, executor-loss tolerant):
    same labels as default mode, and checkpoint part-files actually
    written — the production mode the docstring prescribes, tested."""
    import os

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    ckpt = str(tmp_path / "ckpt")
    got = {
        r["id"]: r["cluster_id"]
        for r in D.dedup_clusters(pairs, checkpoint_dir=ckpt).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }
    files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(ckpt)
        for f in fs
        if f.startswith("part-")
    ]
    assert files, "reliable mode wrote no checkpoint files"
