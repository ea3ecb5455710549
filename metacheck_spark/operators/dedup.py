"""Deduplication operators for training-data pipelines — exact,
MinHash+LSH, SimHash, and n-gram Jaccard. All candidate generation is
band-bucketed (shuffle on small band keys, never O(n^2)); the only
quadratic step is the in-bucket verification, bounded by bucket size.

Scale notes: at 10^12 rows the LSH paths shuffle (band_id, signature)
pairs — ~bands x rows small tuples — then join candidates back to fetch
shingle sets only for verification. Exact dedup is one hash-shuffle on a
64-bit digest. Nothing collects to the driver.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from metacheck_spark.caching import CacheRegistry, persist_owned

# --- pinned cross-engine whitespace contract ---------------------------------
# Every engine in the verification chain has a different \s: Spark/Java
# [ \t\n\x0b\f\r] (ASCII), DuckDB/RE2 [ \t\n\f\r] (no \x0b), Python
# re / pandas str.split() full Unicode (NBSP, U+2028, ...). On the ASCII
# synthetic corpus they coincide; on real text they silently diverge and
# break the bit-exact hash oracles. So whitespace is pinned to ONE
# explicit class — the Java \s set — and every tokenizer/normalizer uses
# it spelled out instead of its engine's \s:
#   * pandas kernels (simhash_batch, winnow_batch) via WS_RE / NON_WS_RE,
#   * DuckDB oracle SQL via SQL_WS_RE (backslash-escaped for SQL literals),
#   * Spark native regexps may keep \s (it IS this class in Java).
# Case folding stays a documented domain restriction (utf8proc vs Python
# vs JVM lower() differ on locale-special folds like U+0130); whitespace
# no longer is one.
ASCII_WS = " \t\n\x0b\f\r"
WS_RE = "[" + ASCII_WS + "]+"  # Python-regex text (real control chars)
NON_WS_RE = "[^" + ASCII_WS + "]+"
SQL_WS_RE = "[ \\t\\n\\x0b\\f\\r]+"  # same class, escaped for SQL literals

# --- exact dedup -----------------------------------------------------------


def normalized_text(c: Column) -> Column:
    """lower + whitespace-collapse + trim: the canonical form for exact
    dedup and fingerprinting. Java \\s here == the pinned ASCII_WS class."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def _fan_out(df: DataFrame, num_partitions: str | None = None) -> DataFrame:
    """Optional pre-shingle repartition. Default (None) is NO repartition:
    a production-scale table already arrives well-partitioned, and silently
    coalescing it down to #cores would add a full extra shuffle on every
    dedup call. Pass "auto" to fan out to the cluster's defaultParallelism
    — right for small or few-split local sources feeding the shingle/
    signature stages, which multiply work ~100x per row, so an
    under-partitioned source serializes them while the repartitioned frame
    is a 2-column projection whose shuffle is negligible next to that work.
    No RDD partition probe to guess for the caller: that breaks under
    Spark Connect and forces plan conversion, so the choice is explicit."""
    if num_partitions is None:
        return df
    if num_partitions == "auto":
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    raise ValueError(f"num_partitions must be None or 'auto', got {num_partitions!r}")


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, key: str = "text"
) -> DataFrame:
    """One row per distinct normalized text: the smallest id wins, with
    the duplicate count. A single hash aggregation (map-side partial agg).

    key="text" groups on the full normalized text — exact by
    construction, but the shuffle row carries the whole document.
    key="digest" groups on md5(normalized text): a 16-byte shuffle row
    regardless of document width, which is the only sane shape at 10^12
    rows (a 1 KB mean caption would otherwise shuffle ~TBs purely as
    grouping keys). md5 collisions are ~2^-64 at that scale — the
    standard content-address tradeoff (same digest git/dedup stores rely
    on); both modes produce identical output whenever no collision
    occurs, asserted cross-engine by the driver's exact_dedup oracle."""
    if key == "digest":
        grp = F.md5(normalized_text(F.col(text_col))).alias("norm_key")
    elif key == "text":
        grp = normalized_text(F.col(text_col)).alias("norm_key")
    else:
        raise ValueError(f"exact_dedup key must be 'text' or 'digest', got {key!r}")
    return (
        df.groupBy(grp)
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stable document fingerprint: md5 of the normalized text (md5 exists
    in every engine, making the result portable/verifiable)."""
    return df.select(
        F.col(id_col),
        F.md5(normalized_text(F.col(text_col))).alias("fingerprint"),
    )


# --- shingling -------------------------------------------------------------


def word_ngrams(c: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles, built natively by zipping n shifted
    slices of the token array.

    Why slices and not transform(sequence(...), i -> element_at(toks, i+j)):
    higher-order functions are NOT whole-stage-codegen'd, and in the
    interpreted eval path a child expression referenced inside the lambda
    body (the `toks` split) is re-evaluated on EVERY element — an O(T)
    regex split per gram, O(T^2) per row, which showed up as a pinned
    single core under the dedup-chain scaling run. The slice/zip_with form
    evaluates the split a constant n+1 times per row and streams the
    already-materialized arrays: O(T) per row."""
    toks = F.split(F.trim(c), r"\s+")
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(grams)


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# --- n-gram Jaccard (exact, for bounded candidate sets) ---------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 2,
    threshold: float = 0.6,
    num_partitions: str | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold. Quadratic — use only on
    bounded inputs (a bucket, a partition); the LSH operators below are
    the scale path that feeds bounded candidate sets into this check."""
    sh = _fan_out(
        df.select(F.col(id_col).alias(id_col), F.col(text_col)), num_partitions
    ).select(
        F.col(id_col).alias("id"), word_ngrams(F.col(text_col), n).alias("sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jaccard(F.col("a.sh"), F.col("b.sh")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- MinHash + LSH -----------------------------------------------------------

# Mersenne prime 2^31-1: universal-hash arithmetic stays under 2^62, so it
# never overflows BIGINT (Spark 4 ANSI mode makes long overflow an error).
_MERSENNE31 = (1 << 31) - 1


def _hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE31), rnd.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_n: int = 2,
    seed: int = 42,
    num_partitions: str | None = None,
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures, fully native.

    Formulation: explode shingles -> xxhash64 once per shingle (reduced
    mod 2^31-1) -> ONE aggregation with num_hashes min((a_i*h+b_i) mod p)
    expressions -> assemble the array. The partial aggregation combines
    map-side, so the shuffle carries one 64-long row per id.

    (A pure-expression alternative — num_hashes array_min(transform(...))
    over a shared base array — re-inlines the base expression into every
    branch at plan time: O(num_hashes * |shingles|) codegen blow-up that
    falls back to interpreted eval. The explode+agg plan is linear and
    whole-stage-codegen'd.)

    Rows with zero shingles (empty/blank text) drop out — they have no
    candidate pairs by definition.
    """
    src = _fan_out(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")),
        num_partitions,
    )
    # project the base shingle hash to a COLUMN before aggregating: the 64
    # min-expressions then reference one materialized value per row, rather
    # than relying on codegen CSE to fold 64 copies of xxhash64(g)
    sh = src.select(
        "id",
        F.explode(word_ngrams(F.col("t"), shingle_n)).alias("g"),
    ).select("id", F.pmod(F.xxhash64("g"), F.lit(_MERSENNE31)).alias("h"))
    h = F.col("h")
    aggs = [
        F.min(F.pmod(F.lit(a) * h + F.lit(b), F.lit(_MERSENNE31))).alias(f"h{i}")
        for i, (a, b) in enumerate(_hash_params(num_hashes, seed))
    ]
    return (
        sh.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))
    )


def _bucket_pairs(sorted_ids: Column) -> Column:
    """All ordered pairs (a < b) within one bucket's PRE-SORTED id list,
    natively: nested transform over (index, suffix).

    Precondition: `sorted_ids` must be a bound column holding an already
    sorted array (the caller sorts inside its aggregate). Sorting here —
    or passing any non-trivial expression — would be re-evaluated on
    EVERY lambda element in the interpreted HOF path (HOFs are not
    codegen'd), turning the O(B^2) pair expansion into O(B^3 log B) per
    bucket; at the 1000-id bucket cap that is ~10^9 comparisons for what
    should be ~10^6 struct builds (found via a pinned-core thread dump in
    the dedup-chain scaling run)."""
    s = sorted_ids
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(s) - 1),
            lambda i: F.transform(
                F.slice(s, i + 1, F.size(s) - i),
                lambda y: F.struct(
                    F.element_at(s, i).alias("id_a"), y.alias("id_b")
                ),
            ),
        )
    )


def _bucket_sizes(keyed: DataFrame, key: list[str]) -> DataFrame:
    """The rows of an (id, *key) frame whose bucket holds two or more ids,
    each annotated with its bucket's size `bsz` and min-id `hub`. One
    window over the bucket key; singleton buckets carry no pair and drop
    out here."""
    w = Window.partitionBy(*key)
    return (
        keyed.withColumn("bsz", F.count(F.lit(1)).over(w))
        .withColumn("hub", F.min("id").over(w))
        .filter(F.col("bsz") > 1)
    )


def _expand_buckets(sized: DataFrame, key: list[str], max_bucket: int) -> DataFrame:
    """(id_a, id_b) pairs from a _bucket_sizes frame, one row per bucket
    per pair — the LSH bucket policy every pair operator here shares.

    Buckets of at most max_bucket ids expand to all pairs. Oversized
    buckets (boilerplate text duplicated millions of times is the common
    web-scale case) are NOT dropped and NOT expanded quadratically: they
    emit STAR pairs (hub -> every other id), which is O(bucket) rows,
    never materializes the bucket as an array (the all-pairs path
    collect_lists ids, which would blow the aggregation buffer on a
    10^7-id bucket), and preserves cluster connectivity — downstream
    verification confirms each member against the hub, which is exactly
    what dedup needs from a boilerplate cluster.

    Both routes are one aggregate over the window's frame, keyed by
    (key, hub, star): `star` is null for a small bucket, so the bucket is
    one group, and is the id itself in an oversized one, so each non-hub
    id is a group of its own. The window's hash partitioning on `key`
    already clusters those keys, so the aggregate adds no exchange."""
    big = F.col("bsz") > max_bucket
    hub_star = F.array(
        F.struct(F.col("hub").alias("id_a"), F.col("star").alias("id_b"))
    )
    return (
        sized.filter(~big | (F.col("id") != F.col("hub")))
        .groupBy(*key, "hub", F.when(big, F.col("id")).alias("star"))
        # sort ONCE in the aggregate: _bucket_pairs requires a bound
        # pre-sorted column (see its precondition note)
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .select(
            F.explode(
                F.when(F.col("star").isNull(), _bucket_pairs(F.col("ids")))
                .otherwise(hub_star)
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
    )


def bucketed_candidate_pairs(
    banded: DataFrame, max_bucket: int = 1000, observation=None
) -> DataFrame:
    """(id_a, id_b) candidates from a (id, band, band_sig) frame — the
    canonical LSH shape: one shuffle on the bucket key, then the size
    window (_bucket_sizes) and the in-bucket pair expansion
    (_expand_buckets, star-routed above max_bucket) over that one frame,
    so the upstream signature plan runs once. A pair sharing several
    bands appears once.

    Pass a pyspark.sql.Observation as `observation` to collect routing
    metrics (bucket count, max size, ids routed via star) with the action.
    """
    key = ["band", "band_sig"]
    sized = _bucket_sizes(banded, key)
    if observation is not None:
        sized = sized.observe(
            observation,
            # one row per bucket has id == hub (observe() forbids
            # distinct aggregates, so count hubs instead)
            F.sum(F.when(F.col("id") == F.col("hub"), 1).otherwise(0)).alias(
                "n_buckets"
            ),
            F.max("bsz").alias("max_bucket_size"),
            F.sum(
                F.when(
                    (F.col("bsz") > max_bucket) & (F.col("id") != F.col("hub")), 1
                ).otherwise(0)
            ).alias("star_routed_ids"),
        )
    return _expand_buckets(sized, key, max_bucket).distinct()


def _band_rows(sigs: DataFrame, band_keys: list[Column]) -> DataFrame:
    """(id, band, band_sig) rows from an (id, ...) frame: band b's bucket
    key is band_keys[b]. One explode of a literal array of structs — no
    lambda, so the keys stay in whole-stage codegen."""
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), k.alias("band_sig"))
                    for b, k in enumerate(band_keys)
                ]
            )
        ).alias("bv"),
    ).select("id", "bv.band", "bv.band_sig")


def bit_bands(sigs: DataFrame, bands: int, band_bits: int) -> DataFrame:
    """(id, band, band_sig) rows from an (id, sig: bigint) frame: band b
    is the band_bits-wide slice of the signature starting at bit
    b * band_bits. Pigeonhole: two signatures differing in fewer than
    `bands` bits agree on at least one whole band."""
    mask = (1 << band_bits) - 1
    return _band_rows(
        sigs,
        [
            F.shiftrightunsigned(F.col("sig"), b * band_bits).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ],
    )


def verify_pairs(
    cands: DataFrame,
    feats: DataFrame,
    feat: str,
    score: Callable[[Column, Column], Column],
    name: str,
    keep: Callable[[Column], Column],
) -> DataFrame:
    """(id_a, id_b, <name>) for the candidate pairs whose score passes:
    each side fetches its `feat` column from the (id, feat) frame by id,
    `score(a, b)` compares them, and `keep(score)` filters. Two narrow
    joins on the candidate set — the verify step of every LSH path."""
    a = feats.select(F.col("id").alias("id_a"), F.col(feat).alias(f"{feat}_a"))
    b = feats.select(F.col("id").alias("id_b"), F.col(feat).alias(f"{feat}_b"))
    s = score(F.col(f"{feat}_a"), F.col(f"{feat}_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", s.alias(name))
        .filter(keep(F.col(name)))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 2,
    num_partitions: str | None = None,
    observation=None,
) -> DataFrame:
    """Candidate duplicate pairs via banding: rows sharing any band
    signature. Shuffle volume = bands x rows small key/value pairs.
    `observation` (pyspark.sql.Observation) collects the bucket-routing
    metrics (n_buckets / max_bucket_size / star_routed_ids) with the
    first action — the measurement surface for the adversarial
    mega-bucket gate (tests/test_megabucket.py)."""
    sh = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, num_partitions=num_partitions
    )
    r = num_hashes // bands
    banded = _band_rows(
        sh, [F.xxhash64(F.slice(F.col("sig"), b * r + 1, r)) for b in range(bands)]
    )
    return bucketed_candidate_pairs(banded, observation=observation)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 2,
    num_partitions: str | None = None,
    caches: CacheRegistry | None = None,
    observation=None,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard — the standard
    minhash-LSH near-dup pipeline (shingle -> minhash -> band -> bucket
    expansion -> verify). Pass a CacheRegistry as `caches` to own the release
    of the persisted candidate and candidate-shingle frames (caching.py)."""
    # Persist the candidate pairs: they feed two verification joins, and
    # without materialization each join re-executes the whole banding and
    # bucket-expansion subplan (and its upstream signature aggregation) —
    # the standard LSH shape is generate-candidates once, then verify.
    cands = persist_owned(
        minhash_lsh_candidates(
            df, text_col, id_col, num_hashes, bands, shingle_n,
            num_partitions=num_partitions, observation=observation,
        ),
        caches,
    )
    # Shingle ONLY the docs that appear in some candidate pair: at web
    # scale the candidate set is a small fraction of the corpus, and the
    # shingle projection (regex split + n-gram zip + array_distinct) is
    # the chain's single heaviest per-row computation — computing it for
    # every doc (twice: once per join side, since codegen shares nothing
    # across the two subplan scans) was measured as the dominant CPU in
    # the verify stage of the dedup-chain scaling run. The id filter is a
    # narrow join (candidate ids broadcast when small; AQE picks a
    # shuffle join when not), and the filtered shingle frame is persisted
    # once and served to BOTH verify joins.
    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .unionAll(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh = persist_owned(
        _fan_out(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
            .join(cand_ids, "id"),
            num_partitions,
        ).select("id", word_ngrams(F.col("t"), shingle_n).alias("sh")),
        caches,
    )
    return verify_pairs(
        cands, sh, "sh", lambda a, b: F.round(jaccard(a, b), 6), "jaccard",
        lambda s: s >= threshold,
    )


# --- SimHash ----------------------------------------------------------------

# Token-hash spec, shared verbatim with the DuckDB oracle
# (__spark_entry__._simhash_pairs_sql): two independent FNV-1a-style
# 32-bit lanes over the token's code points (token truncated to
# SIMHASH_MAXLEN code points), concatenated into a 64-bit hash.
# Every intermediate stays below 2^64 (32-bit value * 32-bit prime), so
# both numpy (masked uint64) and DuckDB (UBIGINT % 2^32) compute it
# exactly — unlike pd.util.hash_array's pandas-internal SipHash, which
# no other engine can reproduce and whose stability is a pandas
# implementation detail.
SIMHASH_MAXLEN = 32
_FNV = ((2166136261, 16777619), (0x9747B28C, 0x85EBCA6B))


def simhash_batch(s: pd.Series) -> "pd.Series":
    """64-bit SimHash signatures for one batch of texts, fully vectorized:
    tokens are packed into a fixed-width code-point matrix (numpy UCS4
    view — one allocation, no per-token Python), the two FNV lanes fold
    over its <=SIMHASH_MAXLEN columns, then per-bit majority votes run as
    np.add.reduceat segment sums. Module-level (not closed over by the
    UDF) so tests can pin the cross-engine contract directly — see
    tests/test_simhash_cross_engine.py's hypothesis sweep against the
    DuckDB recomputation."""
    import numpy as np

    (b1, p1), (b2, p2) = _FNV
    m32 = np.uint64(0xFFFFFFFF)
    # tokenize on the pinned ASCII class, NOT str.split(): Python's
    # Unicode whitespace (NBSP, U+2028, ...) would split where DuckDB's
    # oracle does not, silently breaking the bit-exact contract on real
    # text. findall(non-ws runs) == split-and-drop-empties.
    toks_per = s.fillna("").str.lower().str.findall(NON_WS_RE)
    lens = toks_per.str.len().to_numpy(dtype=np.int64)
    out = np.zeros(len(s), dtype=np.uint64)
    nz = lens > 0
    if nz.any():
        flat = np.concatenate(
            [np.asarray(t, dtype=object) for t in toks_per[nz]]
        )
        mat = (
            flat.astype(f"U{SIMHASH_MAXLEN}")  # truncating fixed-width pack
            .view(np.uint32)
            .reshape(len(flat), SIMHASH_MAXLEN)
            .astype(np.uint64)
        )
        h1 = np.full(len(flat), b1, np.uint64)
        h2 = np.full(len(flat), b2, np.uint64)
        for j in range(SIMHASH_MAXLEN):
            cp = mat[:, j]
            live = cp != 0  # UCS4 pad: 0 never appears in a token
            if not live.any():
                break
            h1[live] = ((h1[live] ^ cp[live]) * np.uint64(p1)) & m32
            h2[live] = ((h2[live] ^ cp[live]) * np.uint64(p2)) & m32
        hs = h1 | (h2 << np.uint64(32))
        ends = lens[nz].cumsum()
        starts = ends - lens[nz]
        sig = np.zeros(int(nz.sum()), dtype=np.uint64)
        for b in range(64):
            bit = ((hs >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
            # majority vote per segment: ones*2 > len  <=>  sum(+-1) > 0
            ones = np.add.reduceat(bit, starts)
            sig |= ((ones * 2 > lens[nz]).astype(np.uint64)) << np.uint64(b)
        out[nz] = sig
    return pd.Series(out.view(np.int64), dtype="int64", index=s.index)


@F.pandas_udf(T.LongType())
def simhash_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in batches:
        yield simhash_batch(s)


def simhash_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    num_partitions: str | None = None,
    caches: CacheRegistry | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming. Candidates via
    4-way band split (pigeonhole: <=3 differing bits => at least one
    16-bit band identical), verified natively with bit_count(xor).
    Pass `caches` to own the persisted signature frame's release."""
    sh = _fan_out(
        df.select(F.col(id_col).alias(id_col), F.col(text_col)), num_partitions
    ).select(
        F.col(id_col).alias("id"), simhash_udf(F.col(text_col)).alias("sig")
    )
    # feeds banding AND the signature-fetch verify join
    sh = persist_owned(sh, caches)
    cands = bucketed_candidate_pairs(bit_bands(sh, bands=4, band_bits=16))
    return verify_pairs(
        cands, sh, "sig", lambda a, b: F.bit_count(a.bitwiseXOR(b)), "hamming",
        lambda s: s <= max_hamming,
    )


# --- Winnowing (rolling-hash document fingerprints) -------------------------

# Winnowing scheme (Schleimer/Wilkerson/Aiken, SIGMOD'03 — public
# algorithm): hash every k-gram of the normalized text, slide a window of
# w consecutive k-gram hashes, keep each window's minimum; the distinct
# kept hashes are the document's fingerprints. Guarantee: any shared
# substring of length >= k + w - 1 between two documents yields at least
# one shared fingerprint, while storage is ~2/(w+1) of the k-gram count.
WINNOW_K = 8
WINNOW_W = 4


def winnow_batch(
    s: pd.Series, k: int = WINNOW_K, w: int = WINNOW_W
) -> "pd.Series":
    """Winnowed fingerprint lists for one batch of texts, vectorized the
    simhash_batch way: every batch text concatenates into ONE code-point
    array (utf-32 view), the FNV lane folds over its k columns for every
    k-gram position at once, the w-window minima come from w shifted
    np.minimum passes, and per-doc slices of the global arrays yield the
    distinct fingerprints. Windows that straddle document boundaries are
    computed but never selected (each doc reads only its own valid
    range), so no masking pass is needed.

    The k-gram hash is the same 32-bit FNV-1a lane the SimHash contract
    pins (_FNV[0] over code points), chosen so DuckDB recomputes every
    fingerprint exactly (unicode() + list_reduce — see
    __spark_entry__._winnow_fp_sql). A polynomial rolling hash would
    make each k-gram O(1) instead of O(k), but at k=8 that optimizes a
    vectorized pass that is already memory-bound and costs cross-engine
    verifiability (modular-inverse arithmetic differs per engine).

    Why not native HOF expressions: the nested
    transform/aggregate/slice formulation measured ~36 ms/doc on the
    interpreted HOF path and was re-evaluated per OUTPUT row once an
    explode consumed it (~0.6 s/doc) — the same interpreted-vs-Arrow
    cliff simhash_batch exists to avoid. Module-level so tests can pin
    the cross-engine contract directly.

    Documents shorter than k code points have no k-grams and emit an
    empty list; with fewer than w k-grams the single global minimum is
    the fingerprint (the winnowing paper's degenerate-window case).
    """
    import numpy as np

    basis, prime = _FNV[0]
    # normalize on the pinned ASCII class (see WS_RE): Python \s and
    # str.strip() are Unicode-aware, the DuckDB oracle's regex is not —
    # explicit class + strip(" ") keep the k-gram stream byte-identical
    # across engines on real text.
    norm = (
        s.fillna("")
        .str.lower()
        .str.replace(WS_RE, " ", regex=True)
        .str.strip(" ")
    )
    lens = norm.str.len().to_numpy(dtype=np.int64)
    out: list = [[] for _ in range(len(s))]
    flat = "".join(norm)
    P = len(flat) - k + 1  # k-gram positions, counted across boundaries
    if P > 0:
        cp = np.frombuffer(flat.encode("utf-32-le"), dtype=np.uint32).astype(
            np.uint64
        )
        m32 = np.uint64(0xFFFFFFFF)
        h = np.full(P, basis, dtype=np.uint64)
        for j in range(k):
            h = ((h ^ cp[j : j + P]) * np.uint64(prime)) & m32
        Q = P - w + 1  # w-window start positions (global)
        if Q > 0:
            wm = h[:Q].copy()
            for j in range(1, w):
                np.minimum(wm, h[j : j + Q], out=wm)
        offs = np.concatenate(([0], lens.cumsum()[:-1]))
        for d in range(len(s)):
            m = lens[d] - k + 1  # this doc's k-gram count
            if m < 1:
                continue
            off = offs[d]
            if m < w:
                out[d] = [int(h[off : off + m].min())]
            else:
                out[d] = np.unique(wm[off : off + m - w + 1]).astype(
                    np.int64
                ).tolist()
    return pd.Series(out, index=s.index)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    num_partitions: str | None = None,
) -> DataFrame:
    """(id, fp) winnowed fingerprints: one Arrow crossing (the
    winnow_batch kernel) + a native explode of the materialized list
    column — no shuffle, no driver involvement.

    explode_outer + a null filter on the GENERATED attribute, not plain
    explode: InferFiltersFromGenerate rewrites a non-outer explode of a
    UDF column into Filter(size(udf(..)) > 0) + Generate(udf(..)), which
    evaluates the Arrow kernel twice per row (observed in the physical
    plan: two ArrowEvalPython nodes). The outer variant takes no such
    filter; empty-fingerprint docs surface as one null row each and are
    dropped after the Generate — same output, one kernel pass
    (plan-pinned in tests/test_plans.py)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield winnow_batch(s, k, w)

    return (
        _fan_out(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")),
            num_partitions,
        )
        .select("id", _udf("t").alias("fps"))
        .select("id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 2,
    max_bucket: int = 1000,
    max_doc_freq: int | None = None,
    num_partitions: str | None = None,
) -> DataFrame:
    """(id_a, id_b, shared_fps) document pairs ranked by how many winnowed
    fingerprints they share — the winnowing paper's overlap detector as
    one fingerprint-bucket shuffle, never a text self-join.

    max_doc_freq is the standard winnowing noise control (MOSS's
    "ignore fingerprints in more than N submissions"): a fingerprint
    appearing in more than max_doc_freq documents is corpus boilerplate
    carrying no similarity signal, and every one of its buckets costs
    O(bucket^2) pairs — on a template-heavy corpus those buckets
    dominate the whole job (measured: dropping the cutoff took the
    550k-doc bench query from ~29s to ~3s while leaving every seeded
    near-dup pair intact, since real near-dups share RARE fingerprints).
    None disables the cutoff — then the exact-count contract holds
    corpus-wide as long as buckets stay under max_bucket.

    Buckets go through the same routing as bucketed_candidate_pairs
    (_bucket_sizes / _expand_buckets): surviving buckets up to
    max_bucket expand all-pairs (each bucket contributes 1 to its pairs'
    shared count — multiplicity is the point here, so no global
    distinct); buckets above max_bucket route O(bucket) star pairs
    around the min-id hub instead of O(bucket^2). In that regime
    shared_fps undercounts for non-hub pairs — the hub-anchored counts
    still connect the cluster, which is what dedup consumes; set
    max_doc_freq <= max_bucket to keep counts exact for everything that
    survives the cutoff.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k, w, num_partitions)
    sized = _bucket_sizes(fps, ["fp"])
    if max_doc_freq is not None:
        sized = sized.filter(F.col("bsz") <= max_doc_freq)
    return (
        _expand_buckets(sized, ["fp"], max_bucket)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# --- embedding cosine (verify expression for operators/similarity.py) --------


def cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return dot / (na * nb)


# --- cluster resolution ------------------------------------------------------


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    caches: CacheRegistry | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, cluster_id) connected components over near-dup pairs — the
    step an actual dedup needs beyond pair emission: "keep one doc per
    CLUSTER", where clusters are the transitive closure of pairwise
    matches (A~B, B~C => {A,B,C} even if A~C was never emitted — exactly
    what the star-routed oversized buckets produce).

    Algorithm: iterative min-label propagation over the undirected edge
    set, driver-controlled loop with a convergence check per round —
    the standard DataFrame shape for iterative graph algorithms (each
    round is one shuffle join + aggregate; Catalyst/AQE optimize each
    round independently). Rounds needed = graph diameter, which for LSH
    dedup clusters (near-cliques, or stars around a hub) is 1-2; the
    default cap is far above any real corpus.

    Lineage is TRUNCATED per round with eager localCheckpoint — the
    standard iterative-DataFrame discipline (GraphFrames checkpoints the
    same way). persist() alone is NOT enough: every round's logical plan
    would keep nesting the full upstream pair-generation plan, and each
    action re-renders that growing tree for Catalyst and for the plan-
    description strings of AQE's listener events — measured as a pinned
    single driver core costing ~half the chain's wall-clock at 10k docs
    and collapsing core-count scaling to 0.54 efficiency (Amdahl). With
    the checkpoint cut, each round plans against two leaf RDDs. The
    previous round's storage is freed deterministically each round, so
    memory stays O(V).

    `checkpoint_dir` switches the per-round truncation from
    localCheckpoint (executor block storage — lost with the executor) to
    RELIABLE checkpoints under that directory: on a real cluster this is
    the executor-loss-tolerant mode (point it at HDFS/object storage).
    Each round's frame is persist()ed before checkpoint() so the
    checkpoint-writing job copies cached partitions instead of
    re-executing the round's plan, then unpersisted. Checkpoint FILES
    accumulate under the directory (O(V) per round, diameter rounds
    total); the CALLER owns the directory lifecycle — delete it after
    the consuming action.

    The FINAL labels frame remains checkpoint-backed. Pass `caches` to
    own its release (CacheRegistry.adopt_checkpoint — releasing FREES
    the data, so only release after the consuming action; reliable-mode
    frames are file-backed and survive release).
    """
    from metacheck_spark.caching import free_local_checkpoint

    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        df = df.persist()
        try:
            return df.checkpoint(eager=True)
        finally:
            df.unpersist()

    def _free(df: DataFrame) -> None:
        # reliable-mode frames are backed by checkpoint files, not
        # executor storage; nothing to free per-round (the caller owns
        # the directory)
        if checkpoint_dir is None:
            free_local_checkpoint(df)

    # Materialize the ONE-directional edge list first: unionAll(e, e')
    # over an unmaterialized pair plan executes the entire upstream
    # pair-generation TWICE inside the first checkpoint job (measured 2x
    # the winnow chain's wall-clock — its pairs aren't persisted, unlike
    # minhash's). Checkpointing e runs that plan once; the union then
    # reads the leaf RDD twice, and edge storage is O(E), not O(2E).
    e = _ckpt(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    )
    edges = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # labels is created INSIDE the try: if its eager checkpoint job fails,
    # the handler must still free the edges checkpoint (created above) or
    # that storage leaks for the session's lifetime.
    labels = None
    try:
        labels = _ckpt(
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("label", F.col("id"))
        )
        for _ in range(max_iters):
            neigh = (
                edges.join(labels, edges["dst"] == labels["id"])
                .groupBy("src")
                .agg(F.min("label").alias("nmin"))
            )
            # convergence check FUSED into the checkpoint job via
            # Observation: one action and one shuffle join per round,
            # not two of each — the changed-count is collected while the
            # same pass materializes the new labels (the old separate
            # new-vs-old join re-shuffled the whole label frame every
            # round purely to ask "did anything move?")
            obs = Observation()
            new_labels = (
                labels.join(neigh, labels["id"] == neigh["src"], "left")
                .select(
                    labels["id"],
                    F.col("label").alias("old_label"),
                    F.least(
                        F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                    ).alias("label"),
                )
                .observe(
                    obs,
                    F.sum(
                        (F.col("label") != F.col("old_label")).cast("long")
                    ).alias("n_changed"),
                )
                .select("id", "label")  # checkpoint stores 2 columns only
            )
            new_labels = _ckpt(new_labels)
            # Hand ownership of the freshly materialized checkpoint to
            # the except-handler BEFORE anything else can raise (obs.get
            # round-trips to the JVM): the handler frees whatever
            # `labels` points at, so reassign first, free the stashed
            # previous frame, and only then read the observation — no
            # window where a failure leaks a live checkpoint.
            prev_labels = labels
            labels = new_labels
            _free(prev_labels)
            changed = int(obs.get["n_changed"] or 0)
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"dedup_clusters did not converge in {max_iters} rounds — the "
                "pair graph has a component with diameter beyond the cap "
                "(e.g. a long drift chain); raise max_iters rather than "
                "accepting a silently split cluster"
            )
    except BaseException:
        _free(e)
        if labels is not None:
            _free(labels)
        raise
    _free(e)
    if caches is not None:
        caches.adopt_checkpoint(labels)
    return labels.select("id", F.col("label").alias("cluster_id"))
