"""URL extraction + frozen-status accessibility checks (P013/P025 analogs,
reference p013.py:25-82 / p025.py:17-48).

``url_flags_batch`` is a dictionary lookup against the (small, frozen)
url_status dimension, run inside the pipeline's fused caption-stage
pandas UDF (``pipeline.make_caption_stage_udf``) with the dimension
shipped once per executor as a Spark broadcast variable: the caption
crosses the Arrow boundary once for every caption check, and the fact
table is never shuffled. The pure-Python oracle calls its per-caption
core, ``url_flags_one``.

Quirk preserved from the reference: P013 treats 301 as accessible
(p013.py:47), P025 does not (p025.py:40-41).
"""

from __future__ import annotations

import re

import pandas as pd

from metacheck_spark.functions import patterns as P

_URL_RE = re.compile(P.URL_EXTRACT)
_TRAIL_RE = re.compile(P.URL_TRAILING_PUNCT)


def extract_urls(s: str | None) -> list[str]:
    """URLs in a text, trailing punctuation stripped (p013.py:58-82)."""
    if s is None:
        return []
    return [_TRAIL_RE.sub("", m.group(0)) for m in _URL_RE.finditer(s)]


def url_flags_one(s: str | None, status: dict[str, int]) -> tuple[bool, bool]:
    """(P013 fires, P025 fires) for one caption. Unknown URLs abstain."""
    p13 = p25 = False
    for u in extract_urls(s):
        code = status.get(u)
        if code is None:
            continue
        if not (200 <= code < 300 or code == 301):
            p13 = True
        if not (200 <= code < 300):
            p25 = True
        if p13 and p25:
            break
    return p13, p25


def url_flags_batch(captions: pd.Series, status: dict[str, int]) -> pd.DataFrame:
    """Vectorized batch evaluation: the regex scan short-circuits on the
    cheap 'no scheme substring' case before running the full extraction."""
    p13 = [False] * len(captions)
    p25 = [False] * len(captions)
    for i, s in enumerate(captions):
        if s is None or ("http" not in s and "www." not in s):
            continue
        a, b = url_flags_one(s, status)
        p13[i] = a
        p25[i] = b
    return pd.DataFrame({"P013": p13, "P025": p25}, index=captions.index)
