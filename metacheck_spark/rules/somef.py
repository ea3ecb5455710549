"""MetaCheck-parity operators over the NESTED SoMEF document schema —
the F1-F6 sub-operators of SURVEY.md §2.2 and representative rules built
from them, expressed exactly as the survey prescribes: higher-order array
functions with `element_at(filter(...), 1)` first-match semantics, never
explode-and-pick.

This is the faithful-semantics surface (the reference's own data model,
FIXTURES.md §2); the production pipeline recasts the same predicates onto
the flat images table (rules/registry.py). Reference citations per item.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metacheck_spark.rules import registry as R

# The 8 metadata filenames the reference recognizes as metadata sources —
# the canonical list repeated in p001.py:18, w003.py:17, p005.py:55,
# p008/p013/p016/p022/p023/p027/w012/w021 (case varies per detector;
# comparison here is lowercase-contains, the broader of the two variants).
METADATA_FILES = [
    "codemeta.json",
    "description",
    "composer.json",
    "package.json",
    "pom.xml",
    "pyproject.toml",
    "requirements.txt",
    "setup.py",
]

# Every SoMEF category any rule reads — the scan schema for a corpus read
# (title/description exist only for P011's CITATION.cff presence probe,
# p011.py:42).
CORPUS_CATEGORIES = [
    "version", "releases", "license", "authors", "identifier",
    "code_repository", "date_updated", "requirements",
    "programming_languages", "readme_url", "reference_publication",
    "software_requirements", "issues_url", "download_url",
    "development_status", "continuous_integration", "title", "description",
    "full_name",
]

# DDL of one SoMEF entry under the fixed read schema
ENTRY_DDL = (
    "struct<confidence:double, technique:string, source:string,"
    " result:struct<type:string, value:string, name:string, tag:string,"
    " version:string>>"
)

# Target language set (pitfall_utils.py:10).
TARGET_LANGUAGES = ["Python", "Java", "C++", "C", "R", "Rust"]


# --- F1: category presence ---------------------------------------------------
# Reference: `if "version" not in somef_data` (p001.py:10-11, w015.py:15-16).
# Fixed schema => absent category is NULL or empty array; the F2 filter and
# F3 try_element_at selections below yield NULL for both, so the rules
# abstain without a separate presence predicate.


# --- F2: source/technique entry filter -------------------------------------
# Reference: keep entries whose source contains a metadata filename and/or
# technique == 'code_parser' (p001.py:18-24, p005.py:53-63, w004.py:19-23).


def _source_is_metadata(e: Column) -> Column:
    src = F.lower(F.coalesce(e["source"], F.lit("")))
    cond = F.lit(False)
    for fname in METADATA_FILES:
        cond = cond | src.contains(fname)
    return cond


# The reference's detectors disagree on source-matching case handling, and
# per-document parity (tools/ref_exec_parity.py) hinges on replicating each
# variant exactly — e.g. a `CodeMeta.json` source is INVISIBLE to the
# case-sensitive detectors (p001/w003/p022/w021) but visible to lowercase
# ones:
#  - case-sensitive `meta_file in source` with 'DESCRIPTION' uppercase:
#    p001.py:24, w003.py:23, p022.py:43, w021.py:34
#  - lowercase `src in source.lower()` with a LOWERCASE list ('description'
#    live): p005.py:62, p008.py:68, p013.py:113
#  - lowercase compare against the UPPERCASE list — the 'DESCRIPTION' arm
#    is dead code: p016.py:93, p023.py:58, p027.py:48
_METADATA_FILES_CS = [
    "codemeta.json", "DESCRIPTION", "composer.json", "package.json",
    "pom.xml", "pyproject.toml", "requirements.txt", "setup.py",
]


def _source_is_metadata_cs(e: Column) -> Column:
    src = F.coalesce(e["source"], F.lit(""))
    cond = F.lit(False)
    for fname in _METADATA_FILES_CS:
        cond = cond | src.contains(fname)
    return cond


def _source_is_metadata_nodesc(e: Column) -> Column:
    src = F.lower(F.coalesce(e["source"], F.lit("")))
    cond = F.lit(False)
    for fname in METADATA_FILES:
        if fname != "description":
            cond = cond | src.contains(fname)
    return cond


def _technique_is_filename(e: Column) -> Column:
    """`technique in metadata_sources` — the filename-as-technique quirk of
    w012.py:69 and p016.py:92 (techniques are 'code_parser'/'GitHub_API',
    so this arm matches nothing on well-formed data; kept verbatim)."""
    return F.coalesce(e["technique"], F.lit("")).isin(_METADATA_FILES_CS)


def _is_metadata_cp(e: Column) -> Column:
    """Parsed by the code parser from one of the 8 metadata files — the
    reference's canonical entry filter (p005/p013, SURVEY.md §2.2 F2)."""
    return (e["technique"] == "code_parser") & _source_is_metadata(e)


def metadata_entries(cat: Column) -> Column:
    return F.filter(cat, _is_metadata_cp)


def _is_metadata_cp_cs(e: Column) -> Column:
    """code_parser AND case-sensitive metadata source (w021.py:32-35,
    p022.py:41-43)."""
    return (e["technique"] == "code_parser") & _source_is_metadata_cs(e)


def _is_codemeta_or(e: Column) -> Column:
    """The canonical codemeta entry filter of the value rules
    (p007/p018/p020/p024/p025/p027/p028/w015, e.g. p024.py:55):
    `"codemeta.json" in source OR (technique == "code_parser" and
    "codemeta" in source.lower())` — note the case-sensitive first arm."""
    return F.coalesce(e["source"], F.lit("")).contains("codemeta.json") | (
        (e["technique"] == "code_parser")
        & F.lower(F.coalesce(e["source"], F.lit(""))).contains("codemeta")
    )


def codemeta_or_entries(cat: Column) -> Column:
    return F.filter(cat, _is_codemeta_or)


def _is_codemeta_cp(e: Column) -> Column:
    """technique == code_parser AND case-sensitive 'codemeta.json' in
    source — stricter than _is_codemeta_or (p006.py:71-73, w010.py:26 —
    `CodeMeta.json` sources are invisible; p011.py:28-35)."""
    return (e["technique"] == "code_parser") & F.coalesce(
        e["source"], F.lit("")
    ).contains("codemeta.json")


def _is_metadata_or(e: Column) -> Column:
    """technique == code_parser OR source contains a metadata filename —
    the OR-form entry filter of p023.py:58-63 and p008.py:63-68 (contrast
    _is_metadata_cp's AND form used by p013/p005)."""
    return (e["technique"] == "code_parser") | _source_is_metadata(e)


def scalar_value(e: Column) -> Column:
    """The reference handles result.value being a plain string OR a
    structured dict with a 'name' field, and SKIPS list values
    (e.g. p005.py:70-89: isinstance str -> use, isinstance dict -> use
    ['name'], else ignore). Spark's JSON reader stringifies objects into a
    declared string field, so a structured value arrives as JSON text —
    unwrap $.name for objects, null out arrays."""
    v = e["result"]["value"]
    t = F.trim(v)
    return (
        F.when(_is_stringified_array(t), F.lit(None).cast("string"))
        .when(_is_stringified_object(t), F.get_json_object(v, "$.name"))
        .otherwise(v)
    )


def string_value(e: Column) -> Column:
    """result.value only when it was a plain JSON string. The value-shape
    rules (P018/P020/P023/P024/P028...) guard with `isinstance(value, str)`
    and SKIP structured values without unwrapping (e.g. p024.py:10-12,
    p028.py:10-12) — so both stringified arrays AND objects null out here,
    unlike scalar_value's $.name unwrap."""
    v = e["result"]["value"]
    t = F.trim(v)
    return F.when(
        _is_stringified_array(t) | _is_stringified_object(t),
        F.lit(None).cast("string"),
    ).otherwise(v)


def is_structured_value(v: Column) -> Column:
    """value present but not a plain JSON string (stringified list/dict)."""
    t = F.trim(v)
    return v.isNotNull() & (_is_stringified_array(t) | _is_stringified_object(t))


def _is_structured(e: Column) -> Column:
    return is_structured_value(e["result"]["value"])


def let(value: Column, body) -> Column:
    """Catalyst 'let' binding: evaluate `value` once and hand it to
    `body` as a higher-order-function lambda variable. A Column is an
    expression TREE, so `f(x) & g(x)` embeds x's whole subtree at every
    use site — runtime subexpression elimination dedups the WORK, but
    nothing dedups the PLAN, and serialized task binaries grow with
    every reuse (measured: perfbench's plan.max_task_binary_kib / the
    18.6 MiB somef_jsonld stage). transform(array(x), v -> body(v))[1]
    keeps one copy of x; every reference inside body is a single
    NamedLambdaVariable node. Nesting is fine (inner bodies may close
    over outer lambda variables, standard SQL HOF scoping)."""
    return F.element_at(F.transform(F.array(value), body), 1)


def crash_aware_exists(entries: Column, fires) -> Column:
    """Scan-all / break-on-fire with the reference's CRASH semantics: a
    detector whose predicate calls a str method on a structured value
    raises, detect_pitfalls_main.py:335-337 catches it, and the whole rule
    reads as not-fired for that document. So a structured value ABORTS the
    scan iff it precedes the first firing entry — expressed as: find the
    first decisive entry (structured OR firing); the rule fires iff it is
    a firing one."""
    decisive = crash_aware_first(
        entries, lambda e: F.coalesce(fires(e), F.lit(False))
    )
    return let(decisive, lambda d: d.isNotNull() & ~_is_structured(d))


def crash_aware_first(entries: Column, fires) -> Column:
    """The decisive entry of crash_aware_exists: the first structured or
    firing one."""
    return first_match(F.filter(entries, lambda e: _is_structured(e) | fires(e)))


def _is_stringified_array(t: Column) -> Column:
    """True for Spark's stringification of a genuine JSON array (always
    double-quoted, no trailing text, so the first element starts with one
    of `"{[`, a digit/sign, or the array is empty). Bracketed plain text
    like "['William', 'Michael'] Landau" — a python-repr embedded in a
    real string, the very thing W021 hunts — starts `['` and stays a
    string. (A naive no-single-quote test wrongly reclassifies JSON
    arrays containing apostrophes — "O'Brien" — as plain text.)"""
    return (
        t.startswith("[")
        & t.endswith("]")
        & t.rlike(r'^\[\s*(["{\[]|[0-9.+-]|tru|fal|nul|\])')
    )


def _is_stringified_object(t: Column) -> Column:
    """JSON object keys are always double-quoted; python dict-reprs use
    single quotes and stay plain strings."""
    return t.startswith("{") & t.endswith("}") & t.rlike(r'^\{\s*(["}])')


# --- F3: first-match selection ---------------------------------------------
# Reference: linear scan with `break` — first qualifying entry wins, order =
# file order (p001.py:20-38, p005.py:56-88, w014.py:74-83). Spark:
# element_at(filter(arr, pred), 1) preserves array order exactly; NOT
# explode + arbitrary pick.


def first_match(filtered: Column) -> Column:
    return F.try_element_at(filtered, F.lit(1))


# --- F4: metadata-source filename projection --------------------------------
# Reference: map source URL -> one of the 8 filenames else 'metadata files'
# (pitfall_utils.py:73-96). Only evidence text renders it:
# sources/jsonld.py:metadata_source_filename.


# --- F5: version normalization ----------------------------------------------
# Reference: strip leading 'v'/'V', trim (pitfall_utils.py:63-71).


def normalize_version(v: Column) -> Column:
    # v-strip BEFORE trim (pitfall_utils.py:66-70: re.sub('^v', ...,
    # IGNORECASE) then .strip() — '  v1.0' keeps its v, 'v 1.0' loses it)
    return F.trim(F.regexp_replace(v, "^[vV]", ""))


# --- F6: language extraction + normalization + order-preserving dedup -------
# Reference: pitfall_utils.py:5-38 (target set :10), :41-60. Only the
# summary's language tallies read it:
# sources/jsonld.py:extract_target_languages.


# --- Representative rules over the nested schema ----------------------------


def p001_selected(version_cat: Column, releases_cat: Column) -> tuple[Column, Column]:
    """P001's two selections: the first metadata-file version entry —
    source-filename-only with CASE-SENSITIVE contains (p001.py:24 —
    `CodeMeta.json` sources are invisible), value key required (:26) —
    and the raw tag of the latest release, positional releases[0] (:54)."""
    meta = first_match(
        F.filter(
            version_cat,
            lambda e: _source_is_metadata_cs(e) & e["result"]["value"].isNotNull(),
        )
    )
    return meta, F.try_element_at(releases_cat, F.lit(1))["result"]["tag"]


def p001_version_mismatch(version_cat: Column, releases_cat: Column) -> Column:
    """First metadata-file version != releases[0].tag after v-strip
    (p001.py:65-94; selections: p001_selected). The release side must be
    truthy BEFORE normalization (:85 — a bare 'v' tag still compares, an
    empty tag abstains)."""
    meta, rel_raw = p001_selected(version_cat, releases_cat)
    return let(
        normalize_version(meta["result"]["value"]),
        lambda mv: let(
            rel_raw,
            lambda rr: mv.isNotNull()
            & rr.isNotNull()
            & (rr != "")
            & (mv != normalize_version(rr)),
        ),
    )


def p027_selected(version_cat: Column) -> Column:
    """P027's codemeta side: the FIRST entry passing the codemeta OR
    filter (p027.py:20) that carries a value."""
    return first_match(
        F.filter(
            version_cat, lambda e: _is_codemeta_or(e) & e["result"]["value"].isNotNull()
        )
    )


def p027_codemeta_version_mismatch(version_cat: Column) -> Column:
    """Codemeta version != any OTHER metadata-file version under STRICT
    compare (no v-strip — p027.py:84, the documented quirk vs P001).

    Selections per p027.py: the codemeta side is p027_selected, with a
    non-empty value (:73 falsy check); the other side is every
    non-codemeta entry with technique == code_parser OR a metadata source
    filename (:48 — OR, not AND)."""
    cm_first = p027_selected(version_cat)
    # other side: NOT codemeta.json (case-sensitive skip, :46), then
    # code_parser OR metadata source — p027.py:48's list compares its
    # uppercase 'DESCRIPTION' against source.lower(), a dead arm, so the
    # nodesc variant is the faithful one. Value key required (:49).
    others = F.filter(
        version_cat,
        lambda e: ~F.coalesce(e["source"], F.lit("")).contains("codemeta.json")
        & ((e["technique"] == "code_parser") | _source_is_metadata_nodesc(e))
        & e["result"]["value"].isNotNull(),
    )
    # crash semantics: .strip() on a structured value raises (p027.py:84)
    # and the caught exception reads as not-fired — both the selected
    # codemeta value and EVERY other value must be plain strings.
    return let(
        cm_first,
        lambda cf: let(
            others,
            lambda os: cf["result"]["value"].isNotNull()
            & (cf["result"]["value"] != "")
            & ~_is_structured(cf)
            & ~F.exists(os, _is_structured)
            & F.exists(
                os,
                lambda e: F.trim(e["result"]["value"])
                != F.trim(cf["result"]["value"]),
            ),
        ),
    )


def w015_empty_identifier(identifier_cat: Column) -> Column:
    """Codemeta identifier present-but-falsy (w015.py:22-35): the entry
    must carry a 'value' key (key-absent entries are skipped — after the
    schema read a null value is indistinguishable, so nulls abstain) and
    `not identifier_value or not value.strip()` fires — i.e. Python-falsy
    empty containers ([], {}) and blank/whitespace strings alike. Entry
    filter is the codemeta OR-form (w015.py:26)."""
    falsy = lambda v: F.trim(v).isin("", "[]", "{}")  # noqa: E731
    return F.exists(
        codemeta_or_entries(identifier_cat),
        lambda e: e["result"]["value"].isNotNull()
        & falsy(e["result"]["value"]),
    )


def _normalize_repo_url(u: Column) -> Column:
    """lower, strip git+ prefix / .git suffix / trailing slash, SSH->HTTPS
    (p026.py:6-24)."""
    x = F.lower(F.trim(u))
    x = F.regexp_replace(x, "^git\\+", "")
    x = F.regexp_replace(x, "^git@([^:]+):", "https://$1/")
    x = F.regexp_replace(x, "\\.git$", "")
    return F.regexp_replace(x, "/$", "")


def p026_api_entries(code_repository_cat: Column) -> Column:
    """The GitHub_API side of P026: every GitHub_API entry with a value;
    the LAST one wins (the loop overwrites, p026.py:56-57)."""
    return F.filter(
        code_repository_cat,
        lambda e: (e["technique"] == "GitHub_API")
        & e["result"]["value"].isNotNull(),
    )


def p026_repo_mismatch(code_repository_cat: Column) -> Column:
    """Normalized codemeta code_repository != normalized GitHub_API repo
    URL (p026.py:27-82): the LAST GitHub_API entry wins (the loop
    overwrites, :56-57), the metadata side is EVERY codemeta.json-sourced
    non-GitHub_API entry with a value key (:53-63 — note the elif), and
    ANY mismatch fires (:69-75). Crash semantics: normalize calls
    .lower() (p026.py:13), so a structured value on either side aborts
    the whole rule (both sides are normalized unconditionally before the
    compare loop)."""
    apis = p026_api_entries(code_repository_cat)
    metas = F.filter(
        code_repository_cat,
        lambda e: (F.coalesce(e["technique"], F.lit("")) != "GitHub_API")
        & F.lower(F.coalesce(e["source"], F.lit(""))).contains("codemeta.json")
        & e["result"]["value"].isNotNull(),
    )
    return let(
        apis,
        lambda a: let(
            F.when(F.size(a) > 0, F.try_element_at(a, F.size(a))),
            lambda al: let(
                metas,
                lambda ms: al["result"]["value"].isNotNull()
                & (al["result"]["value"] != "")
                & (F.size(ms) > 0)
                & ~_is_structured(al)
                & ~F.exists(ms, _is_structured)
                & F.exists(
                    ms,
                    lambda e: _normalize_repo_url(e["result"]["value"])
                    != _normalize_repo_url(al["result"]["value"]),
                ),
            ),
        ),
    )


# ---------------------------------------------------------------------------
# Full 27-rule battery over the nested schema.
#
# Each rule's selection — which entries qualify and which of them fire,
# or which value it picks first — is written once, in this module, and
# both outputs derive from it: nested_rule_flags computes hit_<code>, and
# sources/jsonld.py:evidence_columns quotes the entry the same selection
# picks. SELECTORS holds (category, entry predicate, fires predicate) for
# the scan-all rules; the *_selected functions return the first-match
# picks of P001/W003/W004/W014/P019/P027. Rules needing cross-entry or
# binary context get bespoke builders (p001/p019/p026/p027 above and
# below).


# --- Faithful value predicates for the codemeta value rules -----------------
# Each mirrors one reference helper exactly (file:line in docstring); all
# operate on a plain-string value (structured values skipped upstream via
# string_value, matching the isinstance-str guards).


def _contains_any(v: Column, subs: list[str]) -> Column:
    cond = F.lit(False)
    for s in subs:
        cond = cond | v.contains(s)
    return cond


def p006_is_homepage_url(url: Column) -> Column:
    """is_homepage_url, p006.py:6-50: raw.githubusercontent exempt;
    github/gitlab hosts are homepages unless the path shows 'readme' or
    'blob/'; doc-site indicators; generic .org/.com/.net domains unless
    they look like a file or the last dot-segment holds a path."""
    low = F.lower(F.coalesce(url, F.lit("")))
    doc_site = _contains_any(
        low, [".readthedocs.io", ".github.io", "wiki", "docs.", "documentation"]
    )
    generic = _contains_any(low, [".org", ".com", ".net"])
    file_like = _contains_any(low, [".md", ".txt", ".rst", ".html", "readme"])
    last_seg_has_path = F.element_at(F.split(low, r"\."), -1).contains("/")
    return (
        F.when(low == "", F.lit(False))
        .when(low.contains("raw.githubusercontent.com"), F.lit(False))
        .when(
            low.contains("github.com") | low.contains("gitlab.com"),
            ~(low.contains("readme") | low.contains("blob/")),
        )
        .when(doc_site, F.lit(True))
        .when(generic, ~file_like & ~last_seg_has_path)
        .otherwise(F.lit(False))
    )


_P007_ARCHIVE = (
    r"(zenodo\.org|figshare\.com|github\.com/.*/releases|sourceforge\.net"
    r"|archive\.org|codeocean\.com|osf\.io|doi\.org/10\.5281)"
)


def p007_is_software_archive_url(url: Column) -> Column:
    """is_software_archive_url, p007.py:5-31 (re.search over lower/strip)."""
    return F.lower(F.trim(F.coalesce(url, F.lit("")))).rlike(_P007_ARCHIVE)


def p018_has_format_violation(url: Column) -> Column:
    """has_url_format_violation, p018.py:4-21: newline/CR, untrimmed
    whitespace, or doubled spaces."""
    return url.isNotNull() & (url != "") & (
        url.contains("\n")
        | url.contains("\r")
        | (url != F.trim(url))
        | url.contains("  ")
    )


def p020_is_url(value: Column) -> Column:
    """is_url, p020.py:5-26: any of ^https?://, ^www\\., or a bare
    .org/.com/.net substring over the lower/stripped value."""
    low = F.lower(F.trim(F.coalesce(value, F.lit(""))))
    return (
        low.rlike(r"^https?://")
        | low.rlike(r"^www\.")
        | _contains_any(low, [".org", ".com", ".net"])
    ) & (low != "")


def p023_is_git_remote_shorthand(url: Column) -> Column:
    """is_git_remote_shorthand, p023.py:5-27: host:path shorthand, not a
    full http(s) URL (the second pattern subsumes the .git-suffixed one)."""
    t = F.trim(F.coalesce(url, F.lit("")))
    return (
        ~t.startswith("http://")
        & ~t.startswith("https://")
        & t.rlike(r"^[a-zA-Z0-9.-]+:[a-zA-Z0-9._/-]+$")
    )


def p024_is_bare_doi(ident: Column) -> Column:
    """is_bare_doi, p024.py:5-29: doi:10.N/ or 10.N/ prefix without the
    https://doi.org/ resolver."""
    t = F.trim(F.coalesce(ident, F.lit("")))
    return ~t.startswith("https://doi.org/") & (
        t.rlike(r"^doi:10\.\d+/") | t.rlike(r"^10\.\d+/")
    )


def p028_is_raw_swhid(ident: Column) -> Column:
    """is_raw_swhid, p028.py:5-25."""
    t = F.trim(F.coalesce(ident, F.lit("")))
    return (
        ~t.startswith("http://")
        & ~t.startswith("https://")
        & t.rlike(r"^swh:1:[a-z]+:[a-f0-9]{40}$")
    )


_P017_COPYRIGHT_ONLY = [
    r"year:\s*\d{4}",
    r"copyright\s+holder:\s*[a-zA-Z]",
    r"author:\s*[a-zA-Z]",
    r"copyright\s*©?\s*\d{4}",
    r"©\s*\d{4}",
    r"\(c\)\s*\d{4}",
]
_P017_LICENSE_TERMS = [
    r"permission\s+is\s+hereby\s+granted",
    r"subject\s+to\s+the\s+following\s+conditions",
    r"redistribution\s+and\s+use",
    r"without\s+restriction",
    r"without\s+warranty",
    r"liability",
    r"terms\s+and\s+conditions",
    r"licensed\s+under",
    r"mit\s+license",
    r"apache\s+license",
    r"gnu\s+general\s+public\s+license",
    r"bsd\s+license",
    r"creative\s+commons",
]


def p017_copyright_only(content: Column) -> Column:
    """check_copyright_only_license, p017.py:30-88: copyright markers with
    no license terms in a <=10 non-blank-line file, OR the exact
    YEAR:/COPYRIGHT HOLDER: pair."""
    low = F.lower(F.coalesce(content, F.lit("")))
    has_cpy = F.lit(False)
    for p in _P017_COPYRIGHT_ONLY:
        has_cpy = has_cpy | low.rlike(p)
    has_terms = F.lit(False)
    for p in _P017_LICENSE_TERMS:
        has_terms = has_terms | low.rlike(p)
    n_lines = F.size(
        F.filter(F.split(content, "\n"), lambda l: F.trim(l) != "")
    )
    pair = low.rlike(r"year:\s*\d{4}") & low.rlike(r"copyright\s+holder:")
    return (low != "") & (
        (has_cpy & ~has_terms & (n_lines <= 10)) | pair
    )


def p017_flag(license_cat: Column) -> Column:
    """First LICENSE.md-sourced entry carrying a value (p017.py:7-27 —
    entries without result.value are passed over, unlike P002's
    break-on-first-source), then the copyright-only predicate."""
    lic = first_match(
        F.filter(
            license_cat,
            lambda e: F.coalesce(e["source"], F.lit("")).contains("LICENSE.md")
            & e["result"]["value"].isNotNull(),
        )
    )
    return p017_copyright_only(lic["result"]["value"])


def w003_selected(req_cat: Column) -> Column:
    """FIRST metadata-source requirements entry (w003.py:20-28, source-
    filename match only, CASE-SENSITIVE contains, break on first)."""
    return first_match(
        F.filter(
            req_cat,
            lambda e: e["source"].isNotNull() & _source_is_metadata_cs(e),
        )
    )


def w003_unversioned_requirement(req_cat: Column) -> Column:
    """w003_selected is unversioned: no non-blank version field and no
    operator in the value (w003.py:33-52 — operators
    {== >= <= > < ~= != ^ ~})."""
    first = w003_selected(req_cat)
    has_version = (
        first["result"]["version"].isNotNull()
        & (F.trim(first["result"]["version"]) != "")
    ) | F.coalesce(first["result"]["value"], F.lit("")).rlike(
        r"(==|>=|<=|~=|!=|[><^~])"
    )
    return first.isNotNull() & ~has_version


_P005_SEPARATORS = r"(?i)( and | & |;|\n|,(?!\s+Jr\.?))"


def _p005_fires(e: Column) -> Column:
    """The author value (plain string or structured $.name) holds multiple
    entities: ' and ', ' & ', ';', newline, or ',' unless followed by Jr.
    — the Jr. comma exception and IGNORECASE matching are p005.py:14-29;
    the scan-all loop over code_parser metadata authors is p005.py:58-89."""
    return F.coalesce(scalar_value(e), F.lit("")).rlike(_P005_SEPARATORS)


def w012_packed_requirements(req_cat: Column) -> Column:
    """One requirement STRING encoding several: splits into >1 part on
    2+ spaces, else on space-before-capital (w012.py:6-39).

    Entry filter preserved verbatim from w012.py:66-70 including its
    oddity: technique ∈ metadata FILENAMES (SURVEY.md §2.2 notes the
    quirk) OR source containing one of ONLY {codemeta.json, setup.py,
    pom.xml}. String values and single-element list values are examined
    (w012.py:74-98); longer lists are skipped."""

    def qualifies(e: Column) -> Column:
        src = F.lower(F.coalesce(e["source"], F.lit("")))
        return _technique_is_filename(e) | (
            src.contains("codemeta.json")
            | src.contains("setup.py")
            | src.contains("pom.xml")
        )

    def fires(e: Column) -> Column:
        raw = e["result"]["value"]
        t = F.trim(raw)
        # 1-element stringified list -> its sole string; longer lists skipped
        v = (
            F.when(
                _is_stringified_array(t),
                F.when(
                    F.get_json_object(raw, "$[1]").isNull(),
                    F.get_json_object(raw, "$[0]"),
                ),
            )
            .when(_is_stringified_object(t), F.lit(None).cast("string"))
            .otherwise(raw)
        )
        v = F.trim(F.coalesce(v, F.lit("")))
        # branch 1 (w012.py:28-31): interior 2+ whitespace run on the
        # stripped string always yields >1 parts; branch 2 (:33-37): a
        # whitespace run followed by CAPITAL+letter
        return qualifies(e) & (
            v.rlike(r"\s{2,}") | v.rlike(r"\s[A-Z][A-Za-z]")
        )

    return F.exists(req_cat, fires)


def _w021_fires(e: Column) -> Column:
    """Metadata author STRING embedding a bracketed comma list like
    "['William', 'Michael'] Landau" (w021.py:41-54: lazy `\\[(.*?)\\]`
    findall — content stops at the first ], cannot span newlines — fires
    when any content holds a comma). Entry filter: code_parser AND
    case-sensitive source contains (w021.py:32-35); genuine structured
    values are skipped by the isinstance-str guard."""
    return F.coalesce(string_value(e), F.lit("")).rlike(r"\[[^\]\n]*,[^\]\n]*\]")


# The 13 placeholder patterns of p002.py:37-51, as one alternation over
# the lowercased LICENSE.md content.
_P002_PLACEHOLDERS_FULL = (
    r"(<program>|<year>|<name of author>|<name>|<copyright holders?>|<owner>"
    r"|<author>|\[year\]|\[fullname\]|\[name\]|\[copyright holder\]|<yyyy>"
    r"|<name of copyright owner>)"
)


def p002_license_placeholders(license_cat: Column) -> Column:
    """FIRST entry whose source contains LICENSE.md (p002.py:17-26, break
    on first) has template placeholders in its content (13 patterns,
    lowercased match, p002.py:30-59)."""
    lic = first_match(
        F.filter(
            license_cat,
            lambda e: F.coalesce(e["source"], F.lit("")).contains("LICENSE.md"),
        )
    )
    return F.lower(F.coalesce(lic["result"]["value"], F.lit(""))).rlike(
        _P002_PLACEHOLDERS_FULL
    )


# p022.py:28-43 — family presence is SUBSTRING on the UPPERCASED value
# with MIXED-CASE needles and patterns, faithfully including the dead
# arms: 'Apache' (mixed case) is never found in an uppercase string, so
# the Apache family can never fire; 'BSD-?\d+[- ]Clause' can never MATCH
# an uppercase string, so any 'BSD' mention always fires. 'LGPL-3.0'
# contains 'GPL' but its version pattern also matches, so it does not
# fire.
_P022_FAMILIES_FULL = [
    ("GPL", r"GPL-?\d+(\.\d+)?"),
    ("LGPL", r"LGPL-?\d+(\.\d+)?"),
    ("AGPL", r"AGPL-?\d+(\.\d+)?"),
    # ("Apache", ...): dead — mixed-case needle vs uppercased haystack
    ("CC", r"CC[- ]BY[- ]?\d+(\.\d+)?"),
    ("BSD", None),  # pattern r"BSD-?\d+[- ]Clause" cannot match uppercase
]


def _p022_fires(e: Column) -> Column:
    """A code_parser + case-sensitive-metadata-source license entry
    (p022.py:41-43) naming a license family without its version
    (p022.py:48-61, scan-all; string values only)."""
    up = F.upper(F.coalesce(string_value(e), F.lit("")))
    cond = F.lit(False)
    for fam, pat in _P022_FAMILIES_FULL:
        hit = up.contains(fam)
        if pat is not None:
            hit = hit & ~up.rlike(pat)
        cond = cond | hit
    return cond


_P016_REPO_INDICATORS = [
    "github.com/", "gitlab.com/", "bitbucket.org/",
    "sourceforge.net/projects/", "git.", ".git",
]
_P016_HOME_INDICATORS = [
    ".org/", ".com/", ".net/", ".io/", "www.", "docs.",
    "documentation", "readthedocs", "github.io",
]


def _p016_qualifies(e: Column) -> Column:
    """technique-in-filenames quirk OR lowercase source contains with the
    dead-DESCRIPTION list (p016.py:92-94)."""
    return _technique_is_filename(e) | _source_is_metadata_nodesc(e)


def _p016_fires(e: Column) -> Column:
    """The metadata code_repository value looks like a homepage, not a
    repo (p016.py:14-22 repo indicators, :41-51 homepage indicators,
    :88-107 scan-all loop with break-on-fire; repo indicator wins).
    Crash-aware because is_homepage_url_repo calls .lower() (p016.py:38)."""
    v = F.lower(F.coalesce(string_value(e), F.lit("")))
    return ~_contains_any(v, _P016_REPO_INDICATORS) & _contains_any(
        v, _P016_HOME_INDICATORS
    )


_P008_FILE_NAMES = [
    "license", "license.md", "license.txt", "license.rst",
    "copying", "copying.md", "copying.txt",
    "copyright", "copyright.md", "copyright.txt",
    "licence", "licence.md", "licence.txt",
    "readme.md", "doc.txt", "file.rst",
]


def p008_is_local(v: Column) -> Column:
    """p008.py:5-38: http(s) exempt; ./ or ../ prefix, any slash or
    backslash, a known license filename, or a .md/.txt/.rst suffix."""
    low = F.lower(F.trim(v))
    not_http = ~low.startswith("http://") & ~low.startswith("https://")
    rel = v.startswith("./") | v.startswith("../")
    slash = v.contains("/") | v.contains("\\")
    named = low.isin(_P008_FILE_NAMES)
    ext = low.endswith(".md") | low.endswith(".txt") | low.endswith(".rst")
    return v.isNotNull() & not_http & (rel | slash | named | ext)


def _p008_fires(e: Column) -> Column:
    """A license entry from code_parser OR a metadata source whose value is
    a local file reference instead of a license name (p008.py:63-77 entry
    loop — note the OR between technique and source, unlike p005/p022's
    AND)."""
    return p008_is_local(e["result"]["value"])


_W004_FORMATS = [
    "yyyy-MM-dd'T'HH:mm:ss'Z'",
    "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'",
    "yyyy-MM-dd",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
]


def w004_parse_date(raw: Column) -> Column:
    """normalize_date_for_comparison, w004.py:57-93: the 5 strptime
    formats (fraction variants folded in) plus the date-prefix regex
    fallback, so any value starting YYYY-MM-DD parses."""
    t = F.trim(raw)
    return F.coalesce(
        *[F.try_to_timestamp(t, F.lit(f)) for f in _W004_FORMATS],
        F.try_to_timestamp(
            F.nullif(F.regexp_extract(t, r"^(\d{4}-\d{2}-\d{2})", 1), F.lit("")),
            F.lit("yyyy-MM-dd"),
        ),
    )


def w004_selected(date_updated_cat: Column) -> tuple[Column, Column]:
    """W004's two raw date values: the first GitHub_API entry with a value
    (w004.py:19-22), and the codemeta side — the first entry with a source
    containing 'codemeta.json' CASE-SENSITIVELY, or (only when the source
    key is absent entirely) any code_parser entry (w004.py:39-52's
    if/elif)."""
    api_raw = first_match(
        F.filter(
            date_updated_cat,
            lambda e: (e["technique"] == "GitHub_API")
            & e["result"]["value"].isNotNull(),
        )
    )["result"]["value"]
    cm_raw = first_match(
        F.filter(
            date_updated_cat,
            lambda e: (
                (
                    e["source"].isNotNull()
                    & e["source"].contains("codemeta.json")
                )
                | (e["source"].isNull() & (e["technique"] == "code_parser"))
            )
            & e["result"]["value"].isNotNull(),
        )
    )["result"]["value"]
    return api_raw, cm_raw


def w004_stale_vs_codemeta(date_updated_cat: Column) -> Column:
    """GitHub_API date_updated newer than codemeta dateModified by more
    than 1 full day (w004.py:104-145; selections: w004_selected).
    Parse ladder: the 5 strptime formats of w004.py:71-77 plus the
    date-prefix regex fallback (:85-90), so any value starting
    YYYY-MM-DD parses. Fire: api > codemeta AND floor-days diff > 1
    (timestamp subtraction, not calendar datediff — w004.py:96-100)."""
    api_raw, cm_raw = w004_selected(date_updated_cat)
    return let(
        w004_parse_date(api_raw),
        lambda upd: let(
            w004_parse_date(cm_raw),
            lambda mod: upd.isNotNull()
            & mod.isNotNull()
            & (upd > mod)
            & (
                F.floor(
                    (F.unix_timestamp(upd) - F.unix_timestamp(mod))
                    / F.lit(86400)
                )
                > 1
            ),
        ),
    )


def _w014_is_valid_identifier(raw: Column) -> Column:
    """is_valid_identifier, w014.py:5-44 — the exact decision ladder:
    DOI prefix => valid; 'doi:'/'10.' alone => invalid; http(s) URL =>
    valid; spaced text without /:. => invalid (name); letters-only after
    dropping spaces/hyphens/underscores => invalid (name); ANYTHING ELSE
    => valid (the default-True tail)."""
    t = F.trim(F.coalesce(raw, F.lit("")))
    doi = t.rlike(r"(?i)^doi:10\.\d+/.") | t.rlike(r"(?i)^10\.\d+/.")
    bare_prefix = F.lower(t).isin("doi:", "10.")
    url = t.rlike(r"(?i)^https?://.")
    name_spaced = (
        t.contains(" ")
        & ~t.contains("/")
        & ~t.contains(":")
        & ~t.contains(".")
    )
    cleaned = F.translate(t, " -_", "")
    name_alpha = (cleaned != "") & cleaned.rlike(r"^\p{IsAlphabetic}+$")
    return (
        F.when(t == "", F.lit(False))
        .when(doi, F.lit(True))
        .when(bare_prefix, F.lit(False))
        .when(url, F.lit(True))
        .when(name_spaced, F.lit(False))
        .when(name_alpha, F.lit(False))
        .otherwise(F.lit(True))
    )


def _w014_is_codemeta(e: Column) -> Column:
    return (e["technique"] == "code_parser") & F.lower(
        F.coalesce(e["source"], F.lit(""))
    ).contains("codemeta.json")


def w014_selected(identifier_cat: Column) -> Column:
    """W014's codemeta side (w014.py:73-112): the first code_parser +
    lowercase-'codemeta.json' entry with a value."""
    return first_match(
        F.filter(
            identifier_cat,
            lambda e: _w014_is_codemeta(e) & e["result"]["value"].isNotNull(),
        )
    )


def w014_name_id_while_valid_exists(identifier_cat: Column) -> Column:
    """Codemeta identifier (w014_selected) is invalid per the w014 ladder
    while a valid DOI/URL identifier exists in ANOTHER (non-codemeta)
    entry (w014.py:73-112); a structured value is invalid (isinstance-str
    guard returns False => 'not valid' fires)."""
    cm_first = w014_selected(identifier_cat)
    other_valid = F.exists(
        F.filter(
            identifier_cat,
            lambda e: ~_w014_is_codemeta(e) & e["result"]["value"].isNotNull(),
        ),
        lambda e: ~_is_structured(e)
        & _w014_is_valid_identifier(e["result"]["value"]),
    )
    return let(
        cm_first,
        lambda cf: cf["result"]["value"].isNotNull()
        & (cf["result"]["value"] != "")
        & (
            _is_structured(cf)
            | ~_w014_is_valid_identifier(cf["result"]["value"])
        )
        & other_valid,
    )


def p011_citation_missing_reference(
    reference_publication_cat: Column, citation_cats: list[Column]
) -> Column:
    """Faithful p011.py:4-57: codemeta.json declares a referencePublication
    (code_parser entry, :28-35) AND CITATION.cff exists in the repo
    (appears as a source in any of authors/title/description/version/
    license, :40-52) AND no code_parser reference_publication entry is
    CITATION.cff-sourced (:33-37 elif — case-sensitive 'CITATION.cff')."""
    codemeta_has = F.exists(reference_publication_cat, _is_codemeta_cp)
    cff_has = F.exists(
        reference_publication_cat,
        lambda e: (e["technique"] == "code_parser")
        & ~F.coalesce(e["source"], F.lit("")).contains("codemeta.json")
        & F.coalesce(e["source"], F.lit("")).contains("CITATION.cff"),
    )
    cff_exists = F.lit(False)
    for cat in citation_cats:
        if cat is None:
            continue
        cff_exists = cff_exists | F.coalesce(
            F.exists(
                cat,
                lambda e: F.coalesce(e["source"], F.lit("")).contains(
                    "CITATION.cff"
                ),
            ),
            F.lit(False),
        )
    return codemeta_has & cff_exists & ~cff_has


def p019_selected(download_url_cat: Column) -> Column:
    """P019's codemeta downloadURL: the first codemeta-OR entry with a
    value (p019.py:85-94)."""
    return first_match(
        F.filter(
            download_url_cat,
            lambda e: _is_codemeta_or(e) & e["result"]["value"].isNotNull(),
        )
    )


def p019_download_url_version_mismatch(download_url_cat: Column,
                                       releases_cat: Column) -> Column:
    """Version parsed from the codemeta downloadURL != latest release
    version (p019.py:60-110), faithfully including the greedy suffix
    quirk: the version char class includes dots and letters, so
    '/archive/1.2.3.tar.gz' extracts '1.2.3.tar.gz' (pattern 1, no
    trailing anchor) and '-1.2.3.tar.gz' extracts '1.2.3.tar' (pattern 2
    backtracks one dot) — mismatches by construction.

    Selection: p019_selected; a structured value crashes re.search =>
    rule not fired. Release side (p019.py:28-57): releases[0].result.tag
    if truthy (strip one leading LOWERCASE 'v'), else a version re.search
    over result.name."""
    cm_first = p019_selected(download_url_cat)
    _VER = r"(\d+\.\d+(?:\.\d+)?(?:[a-zA-Z0-9\-\.]*)?)"

    def _url_v(url: Column) -> Column:
        return F.coalesce(
            F.nullif(F.regexp_extract(url, r"/archive/(?:v)?" + _VER, 1), F.lit("")),
            F.nullif(F.regexp_extract(url, r"[-_](?:v)?" + _VER + r"\.", 1), F.lit("")),
            F.nullif(F.regexp_extract(url, r"/(?:v)?" + _VER + r"/[^/]*$", 1), F.lit("")),
        )

    rel = F.try_element_at(releases_cat, F.lit(1))
    tag = rel["result"]["tag"]
    name = rel["result"]["name"]
    rel_v = F.when(
        tag.isNotNull() & (tag != ""),
        F.when(tag.startswith("v"), F.substring(tag, 2, 2147483647)).otherwise(tag),
    ).otherwise(
        F.when(
            name.isNotNull() & (name != ""),
            F.nullif(F.regexp_extract(name, r"(?:v)?" + _VER, 1), F.lit("")),
        )
    )
    return let(
        cm_first,
        lambda cf: let(
            _url_v(cf["result"]["value"]),
            lambda uv: let(
                rel_v,
                lambda rv: cf["result"]["value"].isNotNull()
                & (cf["result"]["value"] != "")
                & ~_is_structured(cf)
                & uv.isNotNull()
                & rv.isNotNull()
                & (uv != rv),
            ),
        ),
    )




# --- URL-accessibility rules against the frozen dimension -------------------
# Quirk pair: P013 2xx∪301 ok (p013.py:47), P025 strict 2xx (p025.py:40-41).
# Faithful semantics: P013 scans ALL code_parser+
# metadata-source software_requirements entries (p013.py:105-114),
# P025 scans ALL codemeta continuous_integration entries (p025.py:73);
# a URL that is invalid (no http(s) scheme — urlparse gate,
# p013.py:8-22) or ABSENT from the frozen dimension (reference:
# request error => inaccessible, p013.py:50-53) FIRES rather than
# abstains. With no dimension at all the rules abstain.


def url_status_literal(url_status_map: dict[str, int]) -> Column:
    """The frozen URL-status dimension as one map literal (url -> status)."""
    return F.create_map(
        *[F.lit(x) for url, code in url_status_map.items() for x in (url, code)]
    )


def entry_urls(e: Column) -> Column:
    """The URLs of an entry's value. The reference extracts them with TWO
    independent findall passes (https?:// and www., p013.py:66-71), so a
    www. host inside an https URL is re-extracted bare (and, lacking a
    scheme, is always invalid => fires); one trailing punct char is
    stripped (p013.py:78)."""
    text = F.coalesce(e["result"]["value"], F.lit(""))
    u1 = F.regexp_extract_all(text, F.lit(r"(?i)(https?://[^\s<>\"']+)"), 0)
    u2 = F.regexp_extract_all(text, F.lit(r"(?i)(www\.[^\s<>\"']+)"), 0)
    return F.transform(
        F.concat(u1, u2), lambda u: F.regexp_replace(u, r"[,;.!?)]$", "")
    )


def url_accessible(u: Column, status_map: Column, ok) -> Column:
    """`u` is a valid http(s) URL whose frozen status is known and passes
    the `ok` test."""
    s = status_map[F.trim(u)]
    return u.rlike(r"^(?i)https?://[^/\s]+") & s.isNotNull() & ok(s)


def p013_url_bad(u: Column, status_map: Column) -> Column:
    return ~url_accessible(
        u, status_map, lambda s: ((s >= 200) & (s < 300)) | (s == 301)
    )


def p013_fires(e: Column, status_map: Column) -> Column:
    urls = entry_urls(e)
    return (F.size(urls) > 0) & F.exists(urls, lambda u: p013_url_bad(u, status_map))


def p013_inaccessible_requirement(sw_req_cat: Column, status_map: Column) -> Column:
    return F.exists(
        metadata_entries(sw_req_cat), lambda e: p013_fires(e, status_map)
    )


def p025_fires(e: Column, status_map: Column) -> Column:
    return e["result"]["value"].isNotNull() & ~url_accessible(
        e["result"]["value"], status_map, lambda s: (s >= 200) & (s < 300)
    )


def p025_inaccessible_ci(ci_cat: Column, status_map: Column) -> Column:
    return F.exists(
        codemeta_or_entries(ci_cat), lambda e: p025_fires(e, status_map)
    )


def _on_string(pred):
    """Per-entry fires of a value rule: `pred` over the plain-string value
    (structured values null out, matching the isinstance-str guards).
    A closure factory, not a lambda default: PySpark derives a
    higher-order function's arity from the Python signature."""
    return lambda e: pred(string_value(e))


# The scan-all rules whose evidence quotes a firing entry: code ->
# (category, entry predicate, per-entry fires predicate). The reference
# loops fire on ANY qualifying entry (e.g. p020.py:46-62, p024.py:50-66),
# so the flag is an exists() over the qualifying entries, never
# first_match; the evidence quotes the first firing entry, or the last
# where the reference loop never breaks (w021, p022).
SELECTORS: dict[str, tuple[str, Callable[[Column], Column], Callable[[Column], Column]]] = {
    "P005": ("authors", _is_metadata_cp, _p005_fires),
    "P006": ("readme_url", _is_codemeta_cp, _on_string(p006_is_homepage_url)),
    "P007": ("reference_publication", _is_codemeta_or,
             _on_string(p007_is_software_archive_url)),
    "P008": ("license", _is_metadata_or, _p008_fires),
    # a codemeta language entry with NULL result.version (w010.py:26, :32-34)
    "W010": ("programming_languages", _is_codemeta_cp,
             lambda e: e["result"]["version"].isNull()),
    "P016": ("code_repository", _p016_qualifies, _p016_fires),
    "P018": ("issues_url", _is_codemeta_or, _on_string(p018_has_format_violation)),
    "P020": ("development_status", _is_codemeta_or, _on_string(p020_is_url)),
    "W021": ("authors", _is_metadata_cp_cs, _w021_fires),
    "P022": ("license", _is_metadata_cp_cs, _p022_fires),
    "P023": ("code_repository", _is_metadata_or,
             _on_string(p023_is_git_remote_shorthand)),
    "P024": ("identifier", _is_codemeta_or, _on_string(p024_is_bare_doi)),
    "P028": ("identifier", _is_codemeta_or, _on_string(p028_is_raw_swhid)),
}


def _scan_rule(code: str):
    """FLAG_RULES entry of SELECTORS rule `code`: does any qualifying
    entry fire? A null fire reads as not-fired under nested_rule_flags'
    coalesce."""
    category, qualifies, fires = SELECTORS[code]
    return (category,), lambda cat: F.exists(F.filter(cat, qualifies), fires)


# Pseudo-inputs of FLAG_RULES besides the category columns: the frozen
# URL-status map literal, and P011's CITATION.cff probe categories (each
# one optional, p011.py:40-52).
URL_STATUS = "<url_status>"
CITATION_SOURCES = "<citation_sources>"
_CITATION_CATEGORIES = ("authors", "title", "description", "version", "license")

# code -> (required inputs, builder over them). A rule abstains (false)
# when a required input is absent, mirroring F1.
FLAG_RULES: dict[str, tuple[tuple[str, ...], Callable[..., Column]]] = {
    "P001": (("version", "releases"), p001_version_mismatch),
    "P002": (("license",), p002_license_placeholders),
    "W003": (("requirements",), w003_unversioned_requirement),
    "W004": (("date_updated",), w004_stale_vs_codemeta),
    "P005": _scan_rule("P005"),
    "P006": _scan_rule("P006"),
    "P007": _scan_rule("P007"),
    "P008": _scan_rule("P008"),
    "W010": _scan_rule("W010"),
    "P011": (("reference_publication", CITATION_SOURCES),
             p011_citation_missing_reference),
    "W012": (("requirements",), w012_packed_requirements),
    "P013": (("software_requirements", URL_STATUS), p013_inaccessible_requirement),
    "W014": (("identifier",), w014_name_id_while_valid_exists),
    "W015": (("identifier",), w015_empty_identifier),
    # a structured value aborts the reference's scan (crash_aware_exists)
    "P016": (("code_repository",),
             lambda cat: crash_aware_exists(F.filter(cat, _p016_qualifies), _p016_fires)),
    "P017": (("license",), p017_flag),
    "P018": _scan_rule("P018"),
    "P019": (("download_url", "releases"), p019_download_url_version_mismatch),
    "P020": _scan_rule("P020"),
    "W021": _scan_rule("W021"),
    "P022": _scan_rule("P022"),
    "P023": _scan_rule("P023"),
    "P024": _scan_rule("P024"),
    "P025": (("continuous_integration", URL_STATUS), p025_inaccessible_ci),
    "P026": (("code_repository",), p026_repo_mismatch),
    "P027": (("version",), p027_codemeta_version_mismatch),
    "P028": _scan_rule("P028"),
}


def nested_rule_flags(df: DataFrame, url_status_map: dict[str, int] | None = None) -> DataFrame:
    """Append one boolean `hit_<code>` column per reference rule, evaluated
    over the nested SoMEF columns with the reference's own selection
    semantics. Missing categories (column absent from df) make the rule
    abstain (null -> false), mirroring F1.

    URL-status rules (P013 over software_requirements, P025 over
    continuous_integration) evaluate against the frozen dict when given
    (the dimension the pipeline's fused caption stage broadcasts), else
    abstain.
    """
    present = set(df.columns)
    inputs = {c: F.col(c) for c in CORPUS_CATEGORIES if c in present}
    inputs[CITATION_SOURCES] = [inputs.get(c) for c in _CITATION_CATEGORIES]
    if url_status_map:
        inputs[URL_STATUS] = url_status_literal(url_status_map)

    def flag(code: str) -> Column:
        needs, build = FLAG_RULES[code]
        if not all(n in inputs for n in needs):
            return F.lit(False)
        return F.coalesce(build(*(inputs[n] for n in needs)), F.lit(False))

    codes = [r.code for r in R.REGISTRY if not r.code.startswith("X")]
    return df.withColumns({f"hit_{code}": flag(code) for code in codes})
