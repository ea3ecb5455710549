"""The seeded workloads. Each one builds its inputs from the seed
(`prepare`, cached by workload, seed and size), runs one full pass through
the engine's public entry points (`run_pass`), checks that pass's output
(`check`), and, in a traced run, times the calls into each of its layers
on their own (`layers`).

A layer a workload does not run emits no span; its metric reads 0.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

from perfbench.harness import CACHE, ROOT

# one input file = one input split; the file count is fixed per host so the
# task count does not depend on the seed
FILES_PER_CORE = 2


class CheckFailed(Exception):
    """A pass produced output that differs from its oracle."""


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def one_split_per_file(spark, path: str) -> None:
    """Make every parquet file of `path` exactly one input split."""
    sizes = [
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    ]
    cap = str(max(sizes) + 1)
    spark.conf.set("spark.sql.files.maxPartitionBytes", cap)
    spark.conf.set("spark.sql.files.openCostInBytes", cap)


def _slices(n: int, parts: int) -> list[tuple[int, int]]:
    step = -(-n // parts)
    return [(lo, min(n, lo + step)) for lo in range(0, n, step)]


class Workload:
    """One seeded input and the job run over it."""

    name = ""
    default_size = 0

    def __init__(self, seed: int, cores: int, size: int | None = None) -> None:
        self.seed = seed
        self.cores = cores
        self.size = size or self.default_size
        self.files = FILES_PER_CORE * cores
        self.dir = os.path.join(
            CACHE, "inputs", f"{self.name}-s{seed}-n{self.size}-f{self.files}"
        )
        self.meta: dict = {}
        self.reference: dict | None = None

    # ---- inputs -----------------------------------------------------------

    def prepare(self) -> tuple[float, bool]:
        """Build the inputs once; returns (seconds, served from cache)."""
        marker = os.path.join(self.dir, "meta.json")
        t0 = time.perf_counter()
        cached = os.path.exists(marker)
        if not cached:
            shutil.rmtree(self.dir, ignore_errors=True)
            os.makedirs(self.dir)
            meta = self._build()
            with open(marker + ".tmp", "w") as f:
                json.dump(meta, f)
            os.replace(marker + ".tmp", marker)
        with open(marker) as f:
            self.meta = json.load(f)
        return time.perf_counter() - t0, cached

    def _build(self) -> dict:
        raise NotImplementedError

    @property
    def input_hash(self) -> str:
        return self.meta["input_hash"]

    @property
    def input_rows(self) -> int:
        return self.meta["rows"]

    def configure(self, spark) -> None:
        one_split_per_file(spark, self.input_path)

    # ---- the job ----------------------------------------------------------

    def run_pass(self, spark, out: str, tr) -> dict:
        raise NotImplementedError

    def check(self, spark, result: dict) -> dict:
        """Raise CheckFailed on a wrong output; return the output ratios."""
        raise NotImplementedError

    def probe_column(self, spark):
        """(frame, string column) the crossing probe pushes through Python."""
        raise NotImplementedError

    def layers(self, spark, work: str, tr) -> dict:
        """Time each layer this workload runs, one call at a time. Raise
        CheckFailed on a wrong output; return the output ratios."""
        raise NotImplementedError

    @staticmethod
    def _probe(spark, tr, name: str, fn) -> None:
        # measure the work, not a cache hit left by an earlier operator
        # that persisted its intermediate frames
        spark.catalog.clearCache()
        with tr.span(name):
            fn()


# ==========================================================================
# images_filter: the production job of tools/run_job.py


BUCKETS = 32
SALT = 8
RUN_TS = "2026-01-01T00:00:00Z"
ORACLE_SAMPLE = 64
# gen_row(i, s) seeds row i with s + i, so neighbouring seeds would share
# almost every row; spacing the generator seeds keeps their inputs apart
SEED_STRIDE = 1_000_003


def _gen_image_slice(args: tuple[str, int, int, int]) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from metacheck_spark.fixtures.gen_images import gen_row

    path, seed, lo, hi = args
    rows = [gen_row(i, seed) for i in range(lo, hi)]
    h = hashlib.sha256()
    for r in rows:
        h.update(repr((r["image_id"], r["w"], r["h"], r["fmt"], r["caption"],
                       r["phash"])).encode())
        h.update(r["bytes"])
    table = pa.table({
        "image_id": [r["image_id"] for r in rows],
        "bytes": pa.array([r["bytes"] for r in rows], type=pa.binary()),
        "w": pa.array([r["w"] for r in rows], type=pa.int32()),
        "h": pa.array([r["h"] for r in rows], type=pa.int32()),
        "fmt": [r["fmt"] for r in rows],
        "caption": [r["caption"] for r in rows],
        "phash": pa.array([r["phash"] for r in rows], type=pa.int64()),
    })
    pq.write_table(table, path)
    return h.hexdigest()


_GEN_CHILD = (
    "import json, sys\n"
    "from perfbench.workloads import _gen_image_slice\n"
    "print(json.dumps([_gen_image_slice(tuple(j)) for j in json.loads(sys.argv[1])]))\n"
)


def _gen_image_slices(jobs: list[tuple[str, int, int, int]], procs: int) -> list[str]:
    """`_gen_image_slice` over `jobs` in `procs` child interpreters, each
    waited for; the digests in job order. Plain subprocesses rather than a
    multiprocessing pool: a spawn pool starts a resource-tracker process that
    lives on until this interpreter exits."""
    shares = [list(range(k, len(jobs), procs)) for k in range(min(procs, len(jobs)))]
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])}
    children = []
    try:
        for share in shares:
            children.append(subprocess.Popen(
                [sys.executable, "-c", _GEN_CHILD, json.dumps([jobs[i] for i in share])],
                cwd=ROOT, env=env, stdout=subprocess.PIPE,
            ))
        digests: list[str] = [""] * len(jobs)
        for share, child in zip(shares, children):
            out, _ = child.communicate()
            if child.returncode != 0:
                raise RuntimeError(f"input generator exited with {child.returncode}")
            for i, d in zip(share, json.loads(out)):
                digests[i] = d
        return digests
    finally:
        for child in children:
            if child.poll() is None:
                child.kill()
            child.wait()


class ImagesFilter(Workload):
    name = "images_filter"
    default_size = 4_000  # rows

    @property
    def gen_seed(self) -> int:
        return self.seed * SEED_STRIDE

    @property
    def input_path(self) -> str:
        return os.path.join(self.dir, "images")

    def _build(self) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from metacheck_spark.fixtures.gen_images import (
            gen_row,
            url_status_map,
            url_status_rows,
        )
        from metacheck_spark.fixtures.oracle import label_rows

        os.makedirs(self.input_path)
        jobs = [
            (os.path.join(self.input_path, f"part-{k:05d}.parquet"), self.gen_seed, lo, hi)
            for k, (lo, hi) in enumerate(_slices(self.size, self.files))
        ]
        digests = _gen_image_slices(jobs, self.cores)
        us = url_status_rows()
        os.makedirs(os.path.join(self.dir, "url_status"))
        pq.write_table(
            pa.table({
                "url": [u for u, _, _ in us],
                "status_code": pa.array([c for _, c, _ in us], type=pa.int32()),
                "error": [e for _, _, e in us],
            }),
            os.path.join(self.dir, "url_status", "part-00000.parquet"),
        )
        rng = np.random.default_rng(self.seed)
        sample = sorted(int(i) for i in rng.choice(self.size, ORACLE_SAMPLE, replace=False))
        labels = label_rows([gen_row(i, self.gen_seed) for i in sample], url_status_map())
        return {
            "input_hash": hashlib.sha256("".join(digests).encode()).hexdigest()[:16],
            "rows": self.size,
            "oracle": [
                {k: lab[k] for k in ("image_id", "keep", "rule_hits", "scrubbed_caption")}
                for lab in labels
            ],
        }

    def _read(self, spark):
        from metacheck_spark.sources.readers import read_images, read_url_status

        return (
            read_images(spark, self.input_path),
            read_url_status(spark, os.path.join(self.dir, "url_status")),
        )

    def run_pass(self, spark, out: str, tr) -> dict:
        from metacheck_spark.pipeline import (
            assemble_flags,
            audit_frame,
            completed_buckets,
            reconcile_kept,
            resume_filter,
            with_labels,
            write_audit,
        )
        from metacheck_spark.sources.sinks import write_summary

        audit_p, kept_p = os.path.join(out, "audit"), os.path.join(out, "kept")
        with tr.span("sources.read_images"):
            images, url_status = self._read(spark)
        with tr.span("pipeline.completed_buckets"):
            done = completed_buckets(spark, audit_p)
        with tr.span("pipeline.build"):
            todo = resume_filter(images, done, BUCKETS)
            labeled = with_labels(assemble_flags(todo, url_status))
            audit = audit_frame(labeled, RUN_TS, BUCKETS)
        with tr.span("pipeline.write_audit_s"):
            write_audit(audit, audit_p, BUCKETS)
        with tr.span("pipeline.reconcile_kept_s"):
            n_kept = reconcile_kept(spark, audit_p, kept_p, SALT)
        with tr.span("sinks.write_summary_s"):
            summary = write_summary(
                spark.read.parquet(audit_p), os.path.join(out, "summary.json")
            )["summary"]
        return {"audit": audit_p, "n_kept": n_kept, "summary": summary,
                "resumed_buckets": len(done)}

    def check(self, spark, result: dict) -> dict:
        from pyspark.sql import functions as F

        s = result["summary"]
        if result["resumed_buckets"]:
            raise CheckFailed("fresh output directory reported committed buckets")
        if s["total_rows"] != self.size:
            raise CheckFailed(f"audit rows {s['total_rows']} != input rows {self.size}")
        if result["n_kept"] != s["kept_rows"]:
            raise CheckFailed(f"reconcile_kept {result['n_kept']} != kept_rows {s['kept_rows']}")
        want = {o["image_id"]: o for o in self.meta["oracle"]}
        got = {
            r["image_id"]: {
                "image_id": r["image_id"], "keep": r["keep"],
                "rule_hits": list(r["rule_hits"]),
                "scrubbed_caption": r["scrubbed_caption"],
            }
            for r in spark.read.parquet(result["audit"])
            .filter(F.col("image_id").isin(list(want)))
            .select("image_id", "keep", "rule_hits", "scrubbed_caption")
            .collect()
        }
        if got != want:
            bad = sorted(k for k in want if got.get(k) != want[k])
            raise CheckFailed(f"{len(bad)} sampled rows differ from the oracle: {bad[:3]}")
        return {"pipeline.kept_ratio": s["kept_rows"] / self.size}

    def probe_column(self, spark):
        return self._read(spark)[0], "caption"

    def layers(self, spark, work: str, tr) -> dict:
        from pyspark.sql import functions as F

        from metacheck_spark.pipeline import (
            binary_sanity_cols,
            decode_udf,
            make_caption_stage_udf,
            run_pipeline,
            sanity_rule_flags,
        )
        from metacheck_spark.rules.registry import TEXT_RULES

        images, url_status = self._read(spark)

        def native():
            df = images
            for name, col in binary_sanity_cols().items():
                df = df.withColumn(name, col)
            for name, col in sanity_rule_flags().items():
                df = df.withColumn(f"hit_{name}", col)
            for r in TEXT_RULES:
                df = df.withColumn(f"hit_{r.code}", r.spark(F.col("caption")))
            noop(df)

        caption_udf = make_caption_stage_udf(spark, url_status)
        self._probe(spark, tr, "sources.scan_s", lambda: noop(images))
        self._probe(spark, tr, "pipeline.native_rules_s", native)
        self._probe(spark, tr, "pipeline.decode_udf_s",
                     lambda: noop(images.withColumn("dec", decode_udf(F.col("bytes")))))
        self._probe(spark, tr, "pipeline.caption_udf_s",
                     lambda: noop(images.withColumn("m", caption_udf(F.col("caption")))))
        self._probe(spark, tr, "pipeline.labels_s",
                     lambda: noop(run_pipeline(spark, images, url_status, RUN_TS, BUCKETS)))
        # half of the SoMEF layers ride on this traced run, the other half
        # on docs_dedup's, so that neither comes near the time limit of a run
        somef = DocsDedup(self.seed, self.cores)
        somef.prepare()
        return somef.somef_document_layers(spark, work, tr)


# ==========================================================================
# docs_dedup: minhash + winnow pairs -> connected components; the SoMEF
# assessment layers run over the same documents (in both traced runs)


# the sf0.1 `documents` table of the test data (doc_id and text, 5,000 rows),
# shipped with the benchmark so a run reads nothing outside its checkout
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "documents.parquet")
PLANT_EVERY = 23  # one planted near-duplicate per this many documents
SHARD_STRIDE = 10_000_000
VARIANT_OFFSET = 500_000_000


def base_documents() -> tuple[list[int], list[str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(DOCUMENTS).to_pydict()
    return t["doc_id"], t["text"]


def shard_documents(seed: int, shards: int) -> tuple[list[int], list[str], list[tuple[int, int]]]:
    """(ids, texts, planted pairs), as tools/run_scaling_dedup._corpus
    builds its corpus: shard k is the base table relabelled (doc_id + k *
    SHARD_STRIDE, word w -> s<k>w) so shards share no shingles. A seeded
    1-in-PLANT_EVERY subset of each shard gets a near-duplicate variant:
    one seeded corpus word appended, or the first word dropped, which keeps
    the word-bigram Jaccard at 0.89 or above even for 10-word documents."""
    base_ids, base_texts = base_documents()
    vocab = sorted({w for t in base_texts for w in t.split()})
    rng = np.random.default_rng(seed)
    ids, texts, planted = [], [], []
    for k in range(shards):
        plant = set(rng.choice(len(base_ids), len(base_ids) // PLANT_EVERY,
                               replace=False).tolist())
        for i, (bid, text) in enumerate(zip(base_ids, base_texts)):
            doc = [f"s{k}{w}" for w in text.split()]
            did = k * SHARD_STRIDE + bid
            ids.append(did)
            texts.append(" ".join(doc))
            if i in plant:
                if rng.random() < 0.5:
                    variant = doc + [f"s{k}{vocab[int(rng.integers(0, len(vocab)))]}"]
                else:
                    variant = doc[1:]
                ids.append(did + VARIANT_OFFSET)
                texts.append(" ".join(variant))
                planted.append((did, did + VARIANT_OFFSET))
    return ids, texts, planted


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a string-valued result, computed the way
    tools/check_entry.value_hash computes it for string and null cells."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join("∅" if r[i] is None else str(r[i]) for i in order) for r in rows
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class DocsDedup(Workload):
    name = "docs_dedup"
    default_size = 1  # shards of the 5,000-document base table

    @property
    def input_path(self) -> str:
        # <dir>/documents.parquet is the layout the entry-point queries read
        return os.path.join(self.dir, "documents.parquet")

    def _build(self) -> dict:
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__ as E

        ids, texts, planted = shard_documents(self.seed, self.size)
        order = np.random.default_rng(self.seed + 1).permutation(len(ids))
        os.makedirs(self.input_path)
        for k, (lo, hi) in enumerate(_slices(len(ids), self.files)):
            sel = order[lo:hi]
            pq.write_table(
                pa.table({
                    "doc_id": pa.array([ids[i] for i in sel], type=pa.int64()),
                    "text": [texts[i] for i in sel],
                }),
                os.path.join(self.input_path, f"part-{k:05d}.parquet"),
            )
        h = hashlib.sha256()
        for i, t in zip(ids, texts):
            h.update(f"{i}|{t}\n".encode())
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{os.path.join(self.input_path, '*.parquet')}')"
        )
        rel = con.execute(E.oracle_sql()["somef_jsonld"])
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        con.close()
        return {
            "input_hash": h.hexdigest()[:16],
            "rows": len(ids),
            "planted": planted,
            "somef_hash": value_hash(cols, rows),
            "somef_rows": len(rows),
        }

    def _read(self, spark):
        return spark.read.parquet(self.input_path)

    def _minhash(self, docs, caches):
        from metacheck_spark.operators.dedup import minhash_dedup_pairs

        return minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.8,
                                   num_partitions="auto", caches=caches)

    def _winnow(self, docs):
        from metacheck_spark.operators.dedup import winnow_overlap_pairs

        return winnow_overlap_pairs(docs, "text", "doc_id", min_shared=20,
                                    max_doc_freq=50, num_partitions="auto")

    def _nested(self, spark):
        """The SoMEF-shaped nested table over these documents' ids, as the
        `somef_jsonld` entry-point query builds it."""
        from pyspark.sql import functions as F

        import __spark_entry__ as E

        return E._nested_fixture_df(spark, self.dir).withColumn(
            "_file", F.concat(F.lit("doc_"), F.col("doc_id").cast("string"))
        )

    def run_pass(self, spark, out: str, tr) -> dict:
        from pyspark.sql import functions as F

        from metacheck_spark.caching import CacheRegistry, persist_owned
        from metacheck_spark.operators.dedup import dedup_clusters

        planted = self.meta["planted"]
        members = sorted({i for p in planted for i in p})
        with CacheRegistry() as caches:
            with tr.span("sources.read_docs"):
                docs = self._read(spark)
            with tr.span("dedup.pairs_build"):
                pairs = persist_owned(
                    self._minhash(docs, caches).select("id_a", "id_b")
                    .unionByName(self._winnow(docs).select("id_a", "id_b"))
                    .distinct(),
                    caches,
                )
            with tr.span("dedup.pair_count"):
                n_pairs = pairs.count()
            with tr.span("dedup.clusters"):
                clusters = dedup_clusters(pairs, caches=caches)
                stats = clusters.agg(
                    F.countDistinct("cluster_id").alias("clusters"),
                    F.count(F.lit(1)).alias("members"),
                ).collect()[0]
                labels = dict(
                    clusters.filter(F.col("id").isin(members))
                    .select("id", "cluster_id").collect()
                )
        return {"pairs": n_pairs, "clusters": stats["clusters"],
                "members": stats["members"], "labels": labels}

    def check(self, spark, result: dict) -> dict:
        planted = self.meta["planted"]
        lab = result["labels"]
        found = sum(1 for a, b in planted if a in lab and lab.get(a) == lab.get(b))
        recall = found / len(planted)
        if recall != 1.0:
            raise CheckFailed(f"planted recall {recall:.4f} < 1.0")
        counts = {k: result[k] for k in ("pairs", "clusters", "members")}
        if self.reference is None:
            self.reference = counts
        elif counts != self.reference:
            raise CheckFailed(f"counts {counts} differ from the first pass {self.reference}")
        return {"dedup.planted_recall": recall}

    def probe_column(self, spark):
        return self._read(spark), "text"

    def layers(self, spark, work: str, tr) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from metacheck_spark.caching import CacheRegistry, persist_owned
        from metacheck_spark.operators.dedup import dedup_clusters, minhash_lsh_candidates

        docs = self._read(spark)

        def counted(df, name):
            obs = Observation(name)
            noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
            return int(obs.get["n"])

        self._probe(spark, tr, "sources.scan_s", lambda: noop(docs))
        n: dict[str, int] = {}

        def lsh():
            n["cands"] = counted(minhash_lsh_candidates(
                docs, "text", "doc_id", num_partitions="auto"), "cands")

        def verified():
            with CacheRegistry() as caches:
                n["pairs"] = counted(self._minhash(docs, caches), "pairs")

        self._probe(spark, tr, "dedup.minhash_lsh_candidates_s", lsh)
        self._probe(spark, tr, "dedup.minhash_dedup_pairs_s", verified)
        self._probe(spark, tr, "dedup.winnow_overlap_pairs_s", lambda: noop(self._winnow(docs)))
        with CacheRegistry() as caches:
            union = persist_owned(
                self._minhash(docs, caches).select("id_a", "id_b")
                .unionByName(self._winnow(docs).select("id_a", "id_b")).distinct(),
                caches,
            )
            union.count()
            with CacheRegistry() as inner, tr.span("dedup.dedup_clusters_s"):
                noop(dedup_clusters(union, caches=inner))
        self.somef_rule_layers(spark, tr)
        return {
            "dedup.candidates": n["cands"],
            "dedup.pairs": n["pairs"],
            "dedup.verify_ratio": n["pairs"] / n["cands"],
        }

    # The SoMEF assessment job over the SoMEF-shaped table, one call per
    # layer: planning dominates these; no Python crossing, no pixels.

    def somef_rule_layers(self, spark, tr) -> None:
        """The 27 nested rules."""
        import __spark_entry__ as E
        from metacheck_spark.rules.somef import nested_rule_flags

        nested, url = self._nested(spark), E._NESTED_URL_STATUS
        with tr.span("rules.nested_rule_flags_s"):
            noop(nested_rule_flags(nested, url))

    def somef_document_layers(self, spark, work: str, tr) -> dict:
        """JSON-LD documents built and written, then checked against the
        DuckDB oracle of the `somef_jsonld` query; then the corpus summary."""
        import __spark_entry__ as E
        from metacheck_spark.sources.jsonld import corpus_summary, nested_assessments

        nested, url = self._nested(spark), E._NESTED_URL_STATUS
        with tr.span("jsonld.nested_assessments_s"):
            # driver time to the physical plan: frame construction, analysis,
            # optimisation, planning; then every row through that plan, as a
            # noop sink would, without planning the frame a second time
            with tr.span("plan.build_s"):
                docs = nested_assessments(nested, url)
                qe = docs._jdf.queryExecution()
                qe.executedPlan()
            qe.toRdd().count()
        path = os.path.join(work, "assessments")
        with tr.span("sinks.assessments_write_s"):
            docs.write.parquet(path)
        out = spark.read.parquet(path)
        rows = [tuple(r) for r in out.collect()]
        shutil.rmtree(path, ignore_errors=True)
        if len(rows) != self.meta["somef_rows"] or (
            value_hash(out.columns, rows) != self.meta["somef_hash"]
        ):
            raise CheckFailed("JSON-LD documents differ from the DuckDB oracle")
        with tr.span("jsonld.corpus_summary_s"):
            corpus_summary(nested, url)
        return {"jsonld.flagged_ratio": len(rows) / self.input_rows}


WORKLOADS = {w.name: w for w in (ImagesFilter, DocsDedup)}
