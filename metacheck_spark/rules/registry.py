"""Declarative rule registry — the analog of the reference's detector
registry (/root/reference .../detect_pitfalls_main.py:262-290).

Each rule is a pure per-row predicate. The reference implements them as 27
hard-coded Python functions walking nested dicts; here each rule is one
``Rule`` row carrying

* ``spark``  — a builder returning a native ``Column`` boolean (whole-stage
  codegen, zero Python in the hot path), parameterized on the caption
  column so the same rules run over any text column;
* ``py``     — the pure-Python oracle predicate (same shared pattern
  constants) used to produce golden keep/drop labels for pytest parity
  (BASELINE.json: F1 >= 0.99 vs reference labels);
* ``duckdb`` — a boolean SQL expression template (``{c}`` = column name)
  for the driver's DuckDB oracle where the pattern is RE2-expressible.

Most caption rules are pure regex: "every one of these patterns matches
and none of those does". ``_regex`` states such a rule once, as its two
pattern lists, and builds both sides from them — the Spark predicate
(Java regex via ``rlike``) and the Python oracle (``re``), which still
evaluate the patterns independently. The rules with any other shape keep
a hand-written builder and oracle.

Registry order is semantic: the reference's summary arrays and per-repo
``checks`` arrays follow registry order (detect_pitfalls_main.py:306-311),
so ``rule_hits`` arrays here follow the order of ``REGISTRY``.

Rules requiring relational context (URL-status broadcast lookup — P013/P025,
reference p013.py/p025.py) or binary decode (P001/P019/X001) set
``kind`` accordingly and are wired in pipeline.py; their ``py`` oracle
takes the shared context dict.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from metacheck_spark.functions import patterns as P
from metacheck_spark.functions.urlcheck import url_flags_one

# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Rule:
    code: str  # 'P…'/'X…' = pitfall (drop), 'W…' = warning (record only)
    description: str
    kind: str  # 'text' | 'binary' | 'url' | 'model'
    spark: Optional[Callable[[Column], Column]] = None  # caption col -> bool col
    py: Optional[Callable] = None  # text: (caption) -> bool; else (caption, ctx) -> bool
    duckdb: Optional[str] = None  # boolean SQL over {c}, RE2-safe


def _rx(pattern: str):
    """Compile once; Python-side oracle predicate for an rlike analog."""
    cre = re.compile(pattern)
    return lambda s: s is not None and cre.search(s) is not None


def _regex(*all_of: str, none_of: tuple[str, ...] = ()):
    """(spark, py) for a caption rule that fires when every ``all_of``
    pattern matches and no ``none_of`` pattern does."""

    def spark(c: Column) -> Column:
        cond = c.rlike(all_of[0])
        for p in all_of[1:]:
            cond = cond & c.rlike(p)
        for n in none_of:
            cond = cond & ~c.rlike(n)
        return cond

    must = [_rx(p) for p in all_of]
    must_not = [_rx(n) for n in none_of]

    def py(s) -> bool:
        return all(m(s) for m in must) and not any(n(s) for n in must_not)

    return spark, py


# --- text rules that are not pure regex -----------------------------------

def _p017_spark(c: Column) -> Column:
    # copyright marker, no license term, and short text (reference p017.py:74
    # caps at <=10 non-blank lines; captions are one line -> <=10 tokens)
    return (
        c.rlike(P.P017_COPYRIGHT)
        & ~c.rlike(P.P017_LICENSE_TERM)
        & (F.size(F.split(F.trim(c), r"\s+")) <= 10)
    )


_cpy = _rx(P.P017_COPYRIGHT)
_lic = _rx(P.P017_LICENSE_TERM)


def _p017_py(s):
    return (
        s is not None
        and _cpy(s)
        and not _lic(s)
        and len(re.split(r"\s+", s.strip())) <= 10
    )


def _p018_spark(c: Column) -> Column:
    return c.rlike(P.P018_NEWLINE) | (c != F.trim(c)) | c.contains("  ")


_nl = _rx(P.P018_NEWLINE)


def _p018_py(s):
    return s is not None and (_nl(s) or s != s.strip() or "  " in s)


def _p022_spark(c: Column) -> Column:
    cond = F.lit(False)
    for present, versioned in P.P022_FAMILIES:
        cond = cond | (c.rlike(present) & ~c.rlike(versioned))
    return cond


_p022_pairs = [(_rx(a), _rx(b)) for a, b in P.P022_FAMILIES]


def _p022_py(s):
    return any(p(s) and not v(s) for p, v in _p022_pairs)


def _extract_date(c: Column, marker_pattern: str) -> Column:
    """First marker-tagged datetime, parsed via the 5 accepted formats
    (reference w004.py:58-92) — coalesce(to_timestamp(fmt)...)."""
    raw = F.regexp_extract(c, marker_pattern, 1)
    attempts = [
        F.try_to_timestamp(raw, F.lit(spark_fmt)) for spark_fmt, _ in P.DATE_FORMATS
    ]
    return F.coalesce(*attempts)


def _w004_spark(c: Column) -> Column:
    upd = _extract_date(c, P.W004_UPDATED)
    mod = _extract_date(c, P.W004_MODIFIED)
    return upd.isNotNull() & mod.isNotNull() & (F.datediff(upd, mod) > 1)


_upd_re = re.compile(P.W004_UPDATED)
_mod_re = re.compile(P.W004_MODIFIED)


def _parse_date_py(raw: str):
    from datetime import datetime

    for _, py_fmt in P.DATE_FORMATS:
        try:
            return datetime.strptime(raw, py_fmt)
        except ValueError:
            continue
    return None


def _w004_py(s):
    if s is None:
        return False
    mu, mm = _upd_re.search(s), _mod_re.search(s)
    if not mu or not mm:
        return False
    du, dm = _parse_date_py(mu.group(1)), _parse_date_py(mm.group(1))
    # datediff() compares dates, not instants — mirror that exactly
    return du is not None and dm is not None and (du.date() - dm.date()).days > 1


def _w014_spark(c: Column) -> Column:
    return c.rlike(P.W014_NAME_ID) & (c.rlike(P.DOI_ANYWHERE) | c.rlike(P.DOI_URL))


_name_id = _rx(P.W014_NAME_ID)
_doi = _rx(P.DOI_ANYWHERE)
_doi_url = _rx(P.DOI_URL)


def _w014_py(s):
    return _name_id(s) and (_doi(s) or _doi_url(s))


def _w015_spark(c: Column) -> Column:
    return c.isNull() | (F.trim(c) == "")


def _w015_py(s):
    return s is None or s.strip() == ""


# --- binary / relational rule oracles (Spark side lives in pipeline.py) ----

def _p001_py(_s, ctx):
    """Declared w/h column vs dims parsed from the image header bytes
    (analog of version-vs-release mismatch, reference p001.py:65-94).
    Header parse is byte-offset arithmetic — mirrored natively in Spark via
    substring()/conv() on the binary column (see pipeline.binary_sanity_cols).

    A null declared value is never a mismatch (as for P026): the rule
    fires only when a non-null declared dimension differs from the header."""
    hdr = ctx.get("hdr_dims")  # (w, h) or None when unparseable
    if hdr is None:
        return False
    return any(d is not None and d != v for d, v in zip((ctx["w"], ctx["h"]), hdr))


def _p019_py(_s, ctx):
    """Stored phash vs phash recomputed from decoded pixels (analog of the
    download-url-version vs release-version mismatch, reference p019.py).
    Abstains when either is null: a null stored phash is never a mismatch."""
    ph, stored = ctx.get("phash_calc"), ctx["phash"]
    return ph is not None and stored is not None and ph != stored


def _p026_py(_s, ctx):
    """Declared fmt column vs magic-byte format (analog of declared
    code_repository vs GitHub_API repo mismatch, reference p026.py:27-82)."""
    magic = ctx.get("magic_fmt")
    return magic is not None and ctx["fmt"] is not None and magic != ctx["fmt"]


def _p027_py(s):
    """Two version tokens that differ strictly but match after v-strip —
    preserves the reference quirk pair: P001 normalizes the leading 'v',
    P027 compares strictly (p027.py:84 vs pitfall_utils.py:63-71)."""
    if s is None:
        return False
    toks = re.findall(r"\bv?\d+\.\d+(?:\.\d+)?\b", s)
    if len(toks) < 2:
        return False
    strict = len(set(toks)) > 1
    normalized = len({t.lstrip("vV") for t in toks}) > 1
    return strict and not normalized


def _p027_spark(c: Column) -> Column:
    toks = F.regexp_extract_all(c, F.lit(r"\bv?\d+\.\d+(?:\.\d+)?\b"), 0)
    strict = F.size(F.array_distinct(toks)) > 1
    norm = F.size(
        F.array_distinct(F.transform(toks, lambda t: F.regexp_replace(t, "^[vV]", "")))
    ) > 1
    return (F.size(toks) >= 2) & strict & ~norm


def _p013_py(s, ctx):
    """URL inaccessible, 2xx OR 301 counts as accessible (reference
    p013.py:47 treats 301 as OK — quirk preserved vs P025)."""
    return url_flags_one(s, ctx["url_status"])[0]


def _p025_py(s, ctx):
    """URL not strictly 2xx (reference p025.py:40-41 rejects 301)."""
    return url_flags_one(s, ctx["url_status"])[1]


def _x001_py(_s, ctx):
    """Decode failure — engine extension (the reference's per-file parse
    isolation, detect_pitfalls_main.py:357-362, recast as a drop rule)."""
    return not ctx.get("decoded_ok", True)


# ---------------------------------------------------------------------------
# Registry, in the reference's registry order (detect_pitfalls_main.py:262-290)
# with the three engine extensions (X001 decode, X002 langid, X003 ppl) last.

REGISTRY: list[Rule] = [
    Rule("P001", "declared w/h mismatch vs image header dims", "binary", py=_p001_py),
    Rule("P002", "placeholder token in caption", "text", *_regex(P.P002_PLACEHOLDER),
         duckdb="regexp_matches(lower({c}), '(<year>|<program>|<name>|<owner>|<copyright holders?>|\\[year\\]|\\[fullname\\]|\\[name of copyright owner\\]|\\[yyyy\\])')"),
    Rule("W003", "requirement named without version constraint", "text",
         *_regex(P.W003_REQUIRES, none_of=(P.W003_REQUIRES_VERSIONED,)),
         duckdb="(regexp_matches(lower({c}), 'requires [a-z][a-z0-9_-]*') AND NOT regexp_matches(lower({c}), 'requires [a-z][a-z0-9_-]*\\s*(==|>=|<=|~=|!=|[><^~]|v?[0-9])'))"),
    Rule("W004", "updated timestamp >1 day after modified", "text", _w004_spark, _w004_py),
    Rule("P005", "multiple entities in credit segment", "text", *_regex(P.P005_MULTI_AUTHOR)),
    Rule("P006", "documentation/homepage URL where content link belongs", "text", *_regex(P.P006_HOMEPAGE_DOC_URL),
         duckdb="regexp_matches(lower({c}), '(https?://|www\\.)[^ ]*(readthedocs\\.io|github\\.io|/wiki|docs\\.|documentation)')"),
    Rule("P007", "software-archive URL in caption", "text", *_regex(P.P007_ARCHIVE_URL),
         duckdb="regexp_matches(lower({c}), '(zenodo\\.org|figshare\\.com|sourceforge\\.net|archive\\.org|codeocean\\.com|osf\\.io|doi\\.org/10\\.5281|github\\.com/[^ ]+/releases)')"),
    Rule("P008", "local license-file path where URL belongs", "text", *_regex(P.P008_LOCAL_LICENSE_PATH)),
    Rule("W010", "language named without version", "text",
         *_regex(P.W010_LANG, none_of=(P.W010_LANG_VERSIONED,)),
         duckdb="(regexp_matches(lower({c}), 'written in (python|java|rust|c\\+\\+|ruby|go)') AND NOT regexp_matches(lower({c}), 'written in (python|java|rust|c\\+\\+|ruby|go) v?[0-9]'))"),
    # intra-row correlation: cite marker AND a URL present AND no DOI anywhere
    # (reference p011.py correlates three categories within one document)
    Rule("P011", "citation requested, URL present, no DOI", "text",
         *_regex(P.P011_CITE_MARKER, P.URL_EXTRACT, none_of=(P.DOI_ANYWHERE,))),
    Rule("W012", "multiple requirements packed in one string", "text", *_regex(P.W012_MULTI_DEP),
         duckdb="regexp_matches({c}, 'deps:\\s*[A-Z][A-Za-z0-9._-]*(\\s[A-Z][A-Za-z0-9._-]*)+')"),
    Rule("P013", "caption URL inaccessible (2xx∪301 accessible)", "url", py=_p013_py),
    Rule("W014", "name-like identifier while valid DOI present", "text", _w014_spark, _w014_py),
    Rule("W015", "caption empty or blank", "text", _w015_spark, _w015_py,
         duckdb="({c} IS NULL OR trim({c}) = '')"),
    Rule("P016", "homepage URL where repository link belongs", "text",
         *_regex(P.P016_HOMEPAGE_URL, none_of=(P.REPO_HOST,))),
    Rule("P017", "copyright-only short caption", "text", _p017_spark, _p017_py),
    Rule("P018", "malformed whitespace in caption", "text", _p018_spark, _p018_py,
         duckdb="(regexp_matches({c}, '[\\n\\r]') OR {c} != trim({c}) OR contains({c}, '  '))"),
    Rule("P019", "stored phash mismatch vs recomputed phash", "binary", py=_p019_py),
    Rule("P020", "caption is a bare URL", "text", *_regex(P.P020_BARE_URL),
         duckdb="regexp_matches(lower({c}), '^\\s*(https?://|www\\.)[^ ]+\\s*$')"),
    Rule("W021", "bracketed comma list in caption", "text", *_regex(P.W021_BRACKET_LIST),
         duckdb="regexp_matches({c}, '\\[[^\\]\\[]*,[^\\]\\[]*\\]')"),
    Rule("P022", "license family named without version", "text", _p022_spark, _p022_py),
    Rule("P023", "git-remote shorthand instead of URL", "text",
         *_regex(P.P023_GIT_SHORTHAND, none_of=(r"(?i)https?://",))),
    Rule("P024", "bare DOI instead of doi.org URL", "text",
         *_regex(P.P024_BARE_DOI, none_of=(P.DOI_URL,))),
    Rule("P025", "caption URL not strictly 2xx (301 rejected)", "url", py=_p025_py),
    Rule("P026", "declared fmt mismatch vs magic bytes", "binary", py=_p026_py),
    Rule("P027", "version tokens differing only by v-prefix", "text", _p027_spark, _p027_py),
    Rule("P028", "raw SWHID in caption", "text", *_regex(P.P028_SWHID),
         duckdb="regexp_matches({c}, '(^| )swh:1:[a-z]{{3}}:[0-9a-f]{{40}}($|[ .,;])')"),
    Rule("X001", "image bytes fail to decode (engine extension)", "binary", py=_x001_py),
    # Model-stage rules (engine extensions; the north_star's fastText-style
    # langid + KenLM-style perplexity scorer as drop criteria). Evaluated
    # from the lang/conf/ppl columns the pandas-UDF stage produces; the
    # oracle computes the same columns with the identical batch functions.
    Rule("X002", "language unidentifiable (langid confidence below threshold)", "model",
         py=lambda _s, ctx: ctx["lang"] == "und"),
    Rule("X003", "caption log-perplexity above threshold", "model",
         py=lambda _s, ctx: ctx["ppl"] > ctx["ppl_threshold"]),
]

TEXT_RULES: list[Rule] = [r for r in REGISTRY if r.kind == "text"]
# Rules whose predicate is RE2-expressible for the driver's DuckDB oracle
DUCKDB_SAFE: list[Rule] = [r for r in REGISTRY if r.duckdb is not None]

