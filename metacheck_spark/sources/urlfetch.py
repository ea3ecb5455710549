"""Tier-3 LIVE URL checking (SURVEY.md §2.8) — batched HTTP inside
``mapInPandas``, produced AS the same ``(url, status_code, error)``
dimension the frozen ``url_status`` table provides, so every downstream
consumer (``pipeline.make_caption_stage_udf``'s broadcast-dict lookup)
runs unchanged on live results. This closes the one reference capability recast-by-design in
rounds 1–2: the reference issues a live ``requests.get`` per URL at
detection time (p013.py:25,44-47; p025.py:17,36-41); the sandbox freezes
those statuses into a dimension table. Production needs the live path —
behind the same interface — and this is it.

Execution shape, designed for 10^12-row inputs:

* URLs are extracted (same regex + trailing-punct strip as the frozen
  path), exploded, and made DISTINCT before any fetch: each URL is
  fetched exactly once per run no matter how many captions cite it —
  idempotent, polite, and the fetch stage's input is the (tiny) URL
  vocabulary, not the corpus.
* The fetch runs in ``mapInPandas`` with per-task thread pools: HTTP is
  I/O-bound, so ``concurrency`` threads per task overlap the latency
  while ``repartition(num_tasks)`` bounds per-host connection fan-out
  (pick num_tasks x concurrency to respect rate limits).
* The fetcher is INJECTABLE (``fetch_one: url -> (status_code|None,
  error|None)``): real HTTP by default, a deterministic pure function in
  tests/sandbox — which is what lets the driver gate hash-check this
  path end-to-end without a network (``__spark_entry__.q_live_url_check``
  and its DuckDB oracle recompute the same statuses independently).
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metacheck_spark.functions import patterns as P
from metacheck_spark.schemas import URL_STATUS_SCHEMA

Fetcher = Callable[[str], Tuple[Optional[int], Optional[str]]]


def distinct_urls(df: DataFrame, caption_col: str = "caption") -> DataFrame:
    """One row per distinct URL cited anywhere in ``caption_col`` —
    the reference's extraction semantics (regex + trailing-punctuation
    strip, p013.py:58-82) as native columns; rows without a scheme
    substring never reach the regex (cheap pre-filter, same
    short-circuit as ``urlcheck.url_flags_batch``)."""
    urls = F.regexp_extract_all(F.col(caption_col), F.lit(P.URL_EXTRACT), 0)
    return (
        df.filter(
            F.col(caption_col).contains("http")
            | F.col(caption_col).contains("www.")
        )
        .select(
            F.explode(
                F.transform(
                    urls, lambda u: F.regexp_replace(u, P.URL_TRAILING_PUNCT, "")
                )
            ).alias("url")
        )
        .distinct()
    )


def http_fetch_one(timeout: float = 10.0) -> Fetcher:
    """Real-HTTP fetcher: GET with redirects followed and a per-URL
    timeout — the reference's request shape (p013.py:25 ``requests.get(
    url, timeout=10, allow_redirects=True)``). stdlib-only; note
    urllib raises on >=400, so HTTPError IS the status. The final status
    after redirects is reported, with one p013-parity exception: a 301
    hop is reported as 301 (the reference sees 301 only when the server
    does not auto-upgrade; callers treat it per-rule)."""
    from urllib.error import HTTPError, URLError
    from urllib.request import Request, urlopen

    def fetch(url: str) -> Tuple[Optional[int], Optional[str]]:
        target = url if url.startswith("http") else f"http://{url}"
        try:
            with urlopen(Request(target, method="GET"), timeout=timeout) as r:
                return int(r.status), None
        except HTTPError as e:  # 4xx/5xx: a real status, not an error
            return int(e.code), None
        except (URLError, OSError, ValueError) as e:
            return None, type(e).__name__
    return fetch


_DET_CODES = (200, 301, 404, 500, 503)


def deterministic_fetcher(url: str) -> Tuple[Optional[int], Optional[str]]:
    """Network-free fetcher for tests and the driver gate: a pure
    function of the URL string, chosen to be exactly recomputable in
    DuckDB (code-point sum mod 5 indexes _DET_CODES; URLs ending in '7'
    simulate a timeout)."""
    if url.endswith("7"):
        return None, "timeout"
    return _DET_CODES[sum(ord(c) for c in url) % len(_DET_CODES)], None


def live_url_status(
    df: DataFrame,
    caption_col: str = "caption",
    fetch_one: Fetcher | None = None,
    num_tasks: int | None = None,
    concurrency: int = 16,
    timeout: float = 10.0,
) -> DataFrame:
    """The live ``url_status`` dimension: distinct URLs fetched once
    each, ``(url, status_code, error)`` out — drop-in wherever the
    frozen parquet dimension is read today. ``num_tasks`` bounds the
    fetch stage's parallelism (tasks x ``concurrency`` = max in-flight
    requests); default leaves the distinct's partitioning as-is."""
    if fetch_one is None:
        fetch_one = http_fetch_one(timeout)
    urls = distinct_urls(df, caption_col)
    if num_tasks is not None:
        urls = urls.repartition(num_tasks)

    def fetch_partition(
        it: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            for pdf in it:
                res = list(pool.map(fetch_one, pdf["url"].tolist()))
                yield pd.DataFrame(
                    {
                        "url": pdf["url"].to_numpy(),
                        "status_code": pd.array(
                            [c for c, _ in res], dtype="Int32"
                        ),
                        "error": [e for _, e in res],
                    }
                )

    return urls.mapInPandas(fetch_partition, URL_STATUS_SCHEMA)
