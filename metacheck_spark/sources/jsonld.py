"""Reference-shaped JSON-LD assessment documents over the nested SoMEF
schema — the S5 sink at full fidelity: the complete document shell
(@context / creator / assessedSoftware / license set-typo and all,
json_ld_utils.py:462-508), per-check `process` descriptions
(json_ld_utils.py:54-88), `evidence` templates (:141-315) and
`suggestion` texts (:402-436), assembled natively with to_json(struct)
— no driver-side loop, one projection per document.

Parity: tools/ref_jsonld_parity.py executes the reference's own
create_pitfall_jsonld over the shipped corpus and deep-compares every
generated document (modulo dateCreated, which the reference stamps with
utcnow)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metacheck_spark.rules import somef as M
from metacheck_spark.sources.jsonld_text import (  # noqa: F401
    CATEGORIES,
    CODES,
    DESCRIPTIONS,
    SUGGESTIONS,
    SUMMARY_DESCRIPTIONS,
)
from metacheck_spark.tally import fold, hit_histogram, label_hits

_META_EXTS = [".json", ".xml", ".yml", ".toml", ".txt"]


def metadata_source_filename(src: Column) -> Column:
    """extract_metadata_source_filename, pitfall_utils.py:73-96 /
    json_ld_utils.py:107-138: case-sensitive known-filename contains,
    then a path-basename fallback gated on known metadata extensions,
    else 'metadata files'."""
    known = [
        F.when(src.contains(f), F.lit(f)) for f in M._METADATA_FILES_CS
    ]

    def _with_base(base: Column) -> Column:
        ext_ok = F.lit(False)
        for ext in _META_EXTS:
            ext_ok = ext_ok | F.lower(base).contains(ext)
        fallback = F.when(
            (src.contains("/") | src.contains("\\"))
            & (base.isin(M._METADATA_FILES_CS) | ext_ok),
            base,
        )
        return F.coalesce(*known, fallback, F.lit("metadata files"))

    return F.when(
        src.isNull() | (src == ""), F.lit("metadata files")
    ).otherwise(
        M.let(F.element_at(F.split(src, r"[/\\]"), -1), _with_base)
    )


def _q(v: Column) -> Column:
    """'{v}' with the reference's `or 'unknown'` falsy fallback."""
    return F.when(v.isNull() | (v == ""), F.lit("unknown")).otherwise(v)


def _pyrepr(v: Column) -> Column:
    """How the reference's f-string renders the raw value: a Python list
    of strings interpolates as its repr (['a', 'b']); our schema carries
    it as the stringified source JSON, so parse and re-render. Plain
    strings pass through."""
    t = F.trim(v)
    return M.let(
        F.from_json(v, "array<string>"),
        lambda arr: F.when(
            M._is_stringified_array(t) & arr.isNotNull() & (F.size(arr) == 0),
            F.lit("[]"),
        )
        .when(
            M._is_stringified_array(t) & arr.isNotNull(),
            F.concat(F.lit("['"), F.array_join(arr, "', '"), F.lit("']")),
        )
        .otherwise(v),
    )


def _iso(ts: Column) -> Column:
    """datetime.isoformat(): microseconds rendered as .%06d only when
    nonzero (w004 evidence dates)."""
    micros = F.unix_micros(ts) % 1000000
    return F.concat(
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
        F.when(micros != 0, F.format_string(".%06d", micros)).otherwise(F.lit("")),
    )


def _first_firing(entries: Column, fires) -> Column:
    return M.first_match(F.filter(entries, fires))


def _last_firing(entries: Column, fires) -> Column:
    hits = F.filter(entries, fires)
    return F.when(F.size(hits) > 0, F.try_element_at(hits, F.size(hits)))


def evidence_columns(
    url_status_map: dict[str, int] | None = None,
) -> tuple[list[dict[str, Column]], dict[str, Column]]:
    """code -> evidence string Column (meaningful only where the rule
    fired), plus the bottom-up LEVELS of intermediate columns the render
    expressions reference (each level is name -> Column, to be added
    with .select("*", ...) before the next level / the renders). Each
    evidence string reproduces format_evidence_text's branch for that
    code (json_ld_utils.py:141-315). The entry it quotes comes from the
    rule's own selection in rules/somef.py — SELECTORS' entry and fires
    predicates, picked first (or last, where the reference loop never
    breaks), and the *_selected first-match picks — the same definitions
    nested_rule_flags derives hit_<code> from, so the quoted entry is the
    one the detector stored its payload from.

    Task-binary discipline (round-5): a render used to be ONE
    self-contained Column tree, and wrappers like _q (3 references of
    their argument) and _pyrepr (~5) cloned each ~80-node selector
    subtree into it 3-15x — the collapsed document projection
    serialized to 18.6 MiB of Catalyst nodes (measured by perfbench's
    plan.max_task_binary_kib). Materializing every selected entry /
    derived scalar as a named column one level below keeps one copy of
    each: CollapseProject never inlines a non-cheap alias referenced
    more than once (canCollapseExpressions), so the lower projections
    survive optimization and the renders reference attributes. The
    shared url-status map literal gets its own level for the same
    reason (it used to be re-inlined per use). Selectors are
    hit-guarded (F.when(hit_X, sel)) to keep the old lazy-skip
    semantics: unfired rows evaluate a boolean attribute, not the
    selector scan, exactly like the previous when(hit, struct(..ev..))
    shape evaluated lazily under codegen."""
    lvl0: dict[str, Column] = {}  # shared literals (url-status map)
    lvl1: dict[str, Column] = {}  # hit-guarded selected entries/values
    lvl2: dict[str, Column] = {}  # derived scalars over lvl1 columns
    ev: dict[str, Column] = {}

    def base(code: str) -> Column:
        return F.lit(f"{code} detected: ")

    cols = F.col

    def guard(code: str, c: Column) -> Column:
        return F.when(cols(f"hit_{code}"), c)

    def scan(code: str, pick=_first_firing) -> Column:
        """Materialize the entry SELECTORS rule `code` quotes."""
        category, qualifies, fires = M.SELECTORS[code]
        name = f"_evs_{code.lower()}"
        lvl1[name] = guard(code, pick(F.filter(cols(category), qualifies), fires))
        return cols(name)

    # P001 — normalized versions + metadata_source_file (p001.py:88-99)
    p001_meta, p001_tag = M.p001_selected(cols("version"), cols("releases"))
    lvl1["_evs_p001"] = guard("P001", p001_meta)
    lvl1["_evs_p001_rv"] = guard("P001", M.normalize_version(p001_tag))
    lvl2["_evd_p001_mv"] = M.normalize_version(
        cols("_evs_p001")["result"]["value"]
    )
    ev["P001"] = F.concat(
        base("P001"),
        metadata_source_filename(cols("_evs_p001")["source"]),
        F.lit(" version '"), _q(cols("_evd_p001_mv")),
        F.lit("' does not match release version '"),
        _q(cols("_evs_p001_rv")), F.lit("'"),
    )

    ev["P002"] = F.concat(
        base("P002"), F.lit(" License file contains unreplaced template placeholders")
    )

    # W003 — the single selected requirement's name-else-value (w003.py:78)
    lvl1["_evs_w003"] = guard("W003", M.w003_selected(cols("requirements")))
    # w003 label: req.get("name", req.get("value", "unknown")) — SoMEF
    # requirement results virtually always CARRY a name key (often null),
    # and a present-null name renders the fallback text (the None is
    # filtered, json_ld_utils.py:164); so name-null => fallback, NOT value
    req_label = cols("_evs_w003")["result"]["name"]
    ev["W003"] = F.when(
        req_label.isNotNull(),
        F.concat(
            base("W003"),
            metadata_source_filename(cols("_evs_w003")["source"]),
            F.lit(" contains software requirements without versions: "),
            req_label,
        ),
    ).otherwise(
        F.concat(
            base("W003"),
            F.lit("Software requirements found without version specifications"),
        )
    )

    # W004 — parsed isoformat dates (w004 evidence, json_ld_utils.py:172-176)
    api_raw, cm_raw = M.w004_selected(cols("date_updated"))
    lvl1["_evs_w004_api"] = guard("W004", api_raw)
    lvl1["_evs_w004_cm"] = guard("W004", cm_raw)
    lvl2["_evd_w004_api_ts"] = M.w004_parse_date(cols("_evs_w004_api"))
    lvl2["_evd_w004_cm_ts"] = M.w004_parse_date(cols("_evs_w004_cm"))
    ev["W004"] = F.concat(
        base("W004"), F.lit("codemeta.json dateModified '"),
        _iso(cols("_evd_w004_cm_ts")),
        F.lit("' is outdated compared to repository date '"),
        _iso(cols("_evd_w004_api_ts")), F.lit("'"),
    )

    # P005 — the firing author value (scalar; dict -> $.name)
    p005 = scan("P005")
    lvl2["_evd_p005_val"] = M.scalar_value(p005)
    ev["P005"] = F.concat(
        base("P005"),
        metadata_source_filename(p005["source"]),
        F.lit(" Multiple authors found in single field: '"),
        _q(cols("_evd_p005_val")), F.lit("'"),
    )

    ev["P006"] = F.concat(
        base("P006"),
        F.lit(" codemeta.json README property points to homepage/wiki instead of README file: "),
        F.coalesce(M.string_value(scan("P006")), F.lit("unknown URL")),
    )

    ev["P007"] = F.concat(
        base("P007"),
        F.lit("codemeta.json Reference publication points to software archive instead of paper: "),
        F.coalesce(M.string_value(scan("P007")), F.lit("unknown URL")),
    )

    p008 = scan("P008")
    ev["P008"] = F.concat(
        base("P008"),
        metadata_source_filename(p008["source"]),
        F.lit(" License points to local file instead of license name: '"),
        _q(p008["result"]["value"]), F.lit("'"),
    )

    # W010 — every null-version codemeta language name (w010.py:32-34)
    w010_cat, w010_codemeta, w010_fires = M.SELECTORS["W010"]
    lvl1["_evs_w010_names"] = guard(
        "W010",
        F.transform(
            F.filter(cols(w010_cat), lambda e: w010_codemeta(e) & w010_fires(e)),
            lambda e: F.coalesce(e["result"]["name"], F.lit("Unknown")),
        ),
    )
    ev["W010"] = F.when(
        F.size(cols("_evs_w010_names")) > 0,
        F.concat(
            base("W010"),
            F.lit("codemeta.json Programming languages without versions: "),
            F.array_join(cols("_evs_w010_names"), ", "),
        ),
    ).otherwise(
        F.concat(
            base("W010"),
            F.lit(" codemeta.json Programming languages in metadata do not have version specifications"),
        )
    )

    ev["P011"] = F.concat(
        base("P011"),
        F.lit("CITATION.cff file exists but does not contain referencePublication while codemeta.json references it"),
    )

    # W012 — the evidence template reads 'requirements_string' but the
    # detector stores 'requirement_string' (w012.py:78), so the DEFAULT
    # fallback always renders (json_ld_utils.py:313-315)
    ev["W012"] = F.concat(
        base("W012"), F.lit("Issue detected in "), cols("_file")
    )

    # P013 — invalid URLs of the firing entry, first 3 (json_ld_utils:219-235)
    if url_status_map:
        lvl0["_evm_status"] = M.url_status_literal(url_status_map)
        smap = cols("_evm_status")

        p013_sel = _first_firing(
            M.metadata_entries(cols("software_requirements")),
            lambda e: M.p013_fires(e, smap),
        )
        lvl1["_evs_p013"] = guard("P013", p013_sel)
        lvl2["_evd_p013_bad"] = F.filter(
            M.entry_urls(cols("_evs_p013")), lambda u: M.p013_url_bad(u, smap)
        )
        bad = cols("_evd_p013_bad")
        ev["P013"] = F.concat(
            base("P013"),
            metadata_source_filename(cols("_evs_p013")["source"]),
            F.lit(" Software requirements contain invalid URLs: "),
            F.array_join(F.slice(bad, 1, 3), ", "),
            F.when(F.size(bad) > 3, F.lit("...")).otherwise(F.lit("")),
        )

        # P025 — status of the firing CI url (json_ld_utils:295-299)
        def _ci_status(e: Column) -> Column:
            u = e["result"]["value"]
            return F.when(
                M.url_accessible(u, smap, lambda s: s >= 0),
                smap[F.trim(u)].cast("string"),
            ).otherwise(F.lit("unknown"))

        p025_sel = _first_firing(
            M.codemeta_or_entries(cols("continuous_integration")),
            lambda e: M.p025_fires(e, smap),
        )
        lvl1["_evs_p025"] = guard("P025", p025_sel)
        lvl2["_evd_p025_status"] = _ci_status(cols("_evs_p025"))
        lvl2["_evd_p025_rep"] = _pyrepr(cols("_evs_p025")["result"]["value"])
        ev["P025"] = F.concat(
            base("P025"),
            F.lit("codemeta.json Continuous integration URL returns "),
            cols("_evd_p025_status"), F.lit(": "),
            F.when(
                F.trim(
                    F.coalesce(cols("_evs_p025")["result"]["value"], F.lit(""))
                ).isin("", "[]", "{}"),
                F.lit("unknown URL"),
            ).otherwise(cols("_evd_p025_rep")),
        )
    else:
        ev["P013"] = F.concat(
            base("P013"), F.lit("Software requirements contain invalid URLs")
        )
        ev["P025"] = F.concat(base("P025"), F.lit("Issue detected in "), cols("_file"))

    lvl1["_evs_w014"] = guard("W014", M.w014_selected(cols("identifier"))["result"]["value"])
    lvl2["_evd_w014_rep"] = _pyrepr(cols("_evs_w014"))
    ev["W014"] = F.concat(
        base("W014"),
        F.lit("codemeta.json Identifier is a name instead of valid unique identifier: '"),
        _q(cols("_evd_w014_rep")), F.lit("'"),
    )

    ev["W015"] = F.concat(
        base("W015"), F.lit("codemeta.json identifier field is empty or missing")
    )

    # the entry P016's crash-aware scan decides on
    p016 = scan("P016", M.crash_aware_first)
    ev["P016"] = F.concat(
        base("P016"),
        metadata_source_filename(p016["source"]),
        F.lit(" codeRepository points to homepage instead of repository: "),
        F.coalesce(M.string_value(p016), F.lit("unknown URL")),
    )

    ev["P017"] = F.concat(
        base("P017"),
        F.lit("LICENSE file only contains copyright information without actual license terms"),
    )

    ev["P018"] = F.concat(
        base("P018"),
        F.lit("codemeta.json IssueTracker URL violates expected format: "),
        F.coalesce(M.string_value(scan("P018")), F.lit("unknown URL")),
    )

    lvl1["_evs_p019"] = guard("P019", M.p019_selected(cols("download_url")))
    ev["P019"] = F.concat(
        base("P019"), F.lit("codemeta.json downloadURL is outdated or invalid: "),
        F.coalesce(cols("_evs_p019")["result"]["value"], F.lit("unknown URL")),
    )

    lvl2["_evd_p020_val"] = M.string_value(scan("P020"))
    ev["P020"] = F.concat(
        base("P020"),
        F.lit("codemeta.json developmentStatus is a URL instead of status string: "),
        _q(cols("_evd_p020_val")),
    )

    # w021's entry loop never breaks, so the LAST firing entry's payload
    # survives (w021.py:29-54)
    w021 = scan("W021", _last_firing)
    lvl2["_evd_w021_val"] = M.string_value(w021)
    ev["W021"] = F.concat(
        base("W021"),
        metadata_source_filename(w021["source"]),
        F.lit(" GivenName is a list instead of string: "),
        _q(cols("_evd_w021_val")),
    )

    # p022's entry loop never breaks either — LAST firing entry wins
    # (p022.py:37-61)
    p022 = scan("P022", _last_firing)
    lvl2["_evd_p022_val"] = M.string_value(p022)
    ev["P022"] = F.concat(
        base("P022"),
        metadata_source_filename(p022["source"]),
        F.lit(" License does not specify version: '"),
        _q(cols("_evd_p022_val")), F.lit("'"),
    )

    p023 = scan("P023")
    ev["P023"] = F.concat(
        base("P023"),
        metadata_source_filename(p023["source"]),
        F.lit(" codeRepository uses Git shorthand instead of full URL: '"),
        F.coalesce(M.string_value(p023), F.lit("unknown URL")),
        F.lit("'"),
    )

    lvl2["_evd_p024_val"] = M.string_value(scan("P024"))
    ev["P024"] = F.concat(
        base("P024"), F.lit("Identifier uses bare DOI instead of full URL: '"),
        _q(cols("_evd_p024_val")), F.lit("'"),
    )

    apis = M.p026_api_entries(cols("code_repository"))
    api_v = F.when(
        F.size(apis) > 0, F.try_element_at(apis, F.size(apis))["result"]["value"]
    )
    lvl1["_evs_p026"] = guard("P026", api_v)
    ev["P026"] = F.concat(
        base("P026"), F.lit("codeRepository points to different repository: "),
        F.coalesce(cols("_evs_p026"), F.lit("unknown URL")),
    )

    lvl1["_evs_p027"] = guard("P027", M.p027_selected(cols("version"))["result"]["value"])
    ev["P027"] = F.concat(
        base("P027"), F.lit("codemeta.json version '"), _q(cols("_evs_p027")),
        F.lit("' does not match package version"),
    )

    lvl2["_evd_p028_val"] = M.string_value(scan("P028"))
    ev["P028"] = F.concat(
        base("P028"),
        F.lit("codemeta Identifier uses raw SWHID without resolvable URL: '"),
        _q(cols("_evd_p028_val")), F.lit("'"),
    )

    return [lvl0, lvl1, lvl2], ev


TARGET_LANGUAGES = M.TARGET_LANGUAGES

# The summary shell's own wording (detect_pitfalls_main.py:62-253) — a
# THIRD description table, diverging from both json_ld_utils'
# get_pitfall_description and the JSON-LD process strings; W-rules use
# warning_code/warning_desc keys. Kept verbatim for analysis_results.json
# parity.


def extract_target_languages(langs_cat: Column) -> Column:
    """extract_programming_languages + normalize_language_name
    (pitfall_utils.py:5-60): value-first-else-name per entry, 'python*'
    prefix => Python, cpp variants => C++, exact-lower map for the rest,
    filtered to the target set, order-preserving dedup."""
    def norm(e: Column) -> Column:
        raw = F.trim(F.coalesce(e["result"]["value"], e["result"]["name"]))
        low = F.lower(raw)
        return (
            F.when(low.startswith("python"), F.lit("Python"))
            .when(low.isin("c++", "cpp", "cplusplus"), F.lit("C++"))
            .when(low == "java", F.lit("Java"))
            .when(low == "c", F.lit("C"))
            .when(low == "r", F.lit("R"))
            .when(low == "rust", F.lit("Rust"))
            .otherwise(raw)
        )

    names = F.transform(langs_cat, norm)
    return F.array_distinct(
        F.filter(
            names,
            lambda n: n.isNotNull() & (n != "") & n.isin(TARGET_LANGUAGES),
        )
    )


def language_extraction_crash(langs_cat: Column) -> Column:
    """True where the reference main loop's language extraction raises —
    a structured (non-string, truthy) language value hits .strip() in
    normalize_language_name, and the per-FILE handler skips the document
    entirely: no detectors run, no JSON-LD file, no summary contribution
    beyond the total (detect_pitfalls_main.py:293-299, :361-363)."""

    def _picked(e: Column) -> Column:
        return F.coalesce(e["result"]["value"], e["result"]["name"])

    return F.coalesce(
        F.exists(
            langs_cat,
            lambda e: _picked(e).isNotNull()
            & ~F.trim(_picked(e)).isin("", "[]", "{}")
            & (
                M._is_stringified_array(F.trim(_picked(e)))
                | M._is_stringified_object(F.trim(_picked(e)))
            ),
        ),
        F.lit(False),
    )


def corpus_summary(
    df: DataFrame, url_status_map: dict[str, int] | None = None
) -> dict:
    """The reference's analysis_results.json (detect_pitfalls_main.py:
    52-253 shell, :325-330 language tallies, :364-391 totals/percentages)
    over a nested corpus frame — one (target languages, identifier crash,
    rule_hits) histogram, folded on the driver, where percentages use
    Python round (banker's) exactly as json.dump saw them. A document
    whose language extraction crashes counts in the total only; one whose
    identifier crashes is tallied but gets no JSON-LD file."""
    df = _with_all_categories(df)
    lang_crash, ident_crash = _reference_skips()
    none = F.array().cast("array<string>")
    labeled = label_hits(M.nested_rule_flags(df, url_status_map), CODES)
    skipped = labeled.withColumn("_skip", lang_crash)
    hist = hit_histogram(
        skipped.select(
            F.when(F.col("_skip"), none)
            .otherwise(F.col("rule_hits"))
            .alias("rule_hits"),
            F.when(F.col("_skip"), none)
            .otherwise(extract_target_languages(F.col("programming_languages")))
            .alias("langs"),
            ident_crash.alias("ident_crash"),
        ),
        "langs",
        "ident_crash",
    )
    t = fold(hist, lambda row: row["langs"] or ())  # null: no languages entry
    total = t.rows
    return {
        "summary": {
            "total_repositories_analyzed": total,
            "repositories_with_target_languages": sum(
                r["count"] for r in hist if r["langs"]
            ),
            "individual_jsonld_files_created": sum(
                r["count"] for r in hist if r["rule_hits"] and not r["ident_crash"]
            ),
            "total_pitfalls_detected": t.pitfalls,
            "total_warnings_detected": t.warnings,
            "target_languages": list(TARGET_LANGUAGES),
        },
        "pitfalls & warnings": [
            {
                ("warning_code" if code.startswith("W") else "pitfall_code"): code,
                ("warning_desc" if code.startswith("W") else "pitfall_desc"):
                    SUMMARY_DESCRIPTIONS[code],
                "count": t.rules[code],
                "percentage": round((t.rules[code] / total) * 100, 2)
                if total > 0
                else 0.0,
                "languages": {
                    lang: t.by_group[code, lang]
                    for lang in TARGET_LANGUAGES
                    if t.by_group[code, lang] > 0
                },
            }
            for code in CODES
        ],
    }


def _with_all_categories(df: DataFrame) -> DataFrame:
    """Every category the rule and evidence expressions reference exists
    (absent -> empty array), so missing-category documents analyze and
    abstain exactly like F1."""
    for cat in M.CORPUS_CATEGORIES:
        if cat not in df.columns:
            df = df.withColumn(cat, F.array().cast(f"array<{M.ENTRY_DDL}>"))
    return df


def _reference_skips() -> tuple[Column, Column]:
    """The two per-document crashes of the reference main loop, as
    (language, identifier) predicates: the language extraction that runs
    BEFORE the detectors (language_extraction_crash), and the identifier
    startswith probe on a structured first value
    (detect_pitfalls_main.py:352-354)."""
    ident = _first_value(F.col("identifier"))
    return (
        language_extraction_crash(F.col("programming_languages")),
        F.coalesce(M.is_structured_value(ident), F.lit(False)),
    )


def _first_value(cat: Column) -> Column:
    """First entry carrying a value (the extract_software_info pattern)."""
    return M.first_match(
        F.filter(cat, lambda e: e["result"]["value"].isNotNull())
    )["result"]["value"]


def assessed_software(df_cols: set[str]) -> Column:
    """assessedSoftware shell, json_ld_utils.py:357-400. to_json drops
    null struct fields, which reproduces the optional schema:identifier."""
    cols = F.col
    name = (
        _first_value(cols("full_name")) if "full_name" in df_cols else F.lit(None)
    )
    version = (
        F.try_element_at(cols("releases"), F.lit(1))["result"]["tag"]
        if "releases" in df_cols
        else F.lit(None)
    )
    url = (
        _first_value(cols("code_repository"))
        if "code_repository" in df_cols
        else F.lit(None)
    )
    ident = (
        _first_value(cols("identifier")) if "identifier" in df_cols else F.lit(None)
    )
    ident_id = F.when(
        ident.startswith("https://doi.org/"), ident
    ).when(ident.startswith("10."), F.concat(F.lit("https://doi.org/"), ident))
    return F.struct(
        F.lit("schema:SoftwareApplication").alias("@type"),
        F.coalesce(name, F.lit("Unknown")).alias("name"),
        F.coalesce(version, F.lit("Unknown")).alias("softwareVersion"),
        F.coalesce(url, F.lit("Unknown")).alias("url"),
        F.when(
            ident_id.isNotNull(), F.struct(ident_id.alias("@id"))
        ).alias("schema:identifier"),
    )


def nested_assessments(
    df: DataFrame,
    url_status_map: dict[str, int] | None = None,
    date_created: str = "1970-01-01T00:00:00Z",
    file_col: str = "_file",
) -> DataFrame:
    """(file, assessment) — one reference-shaped JSON-LD document per
    flagged document (create_pitfall_jsonld, json_ld_utils.py:462-508),
    built in one distributed projection. `license` reproduces the
    reference's set-literal typo (a one-element array). Documents whose
    first identifier value would crash the reference's startswith probe
    (structured value) are dropped, as the reference's caught exception
    drops them (detect_pitfalls_main.py:352-354)."""
    df = _with_all_categories(df.withColumnRenamed(file_col, "_file"))
    # Document-level skips (no JSON-LD file), applied BELOW the giant
    # checks projection (a filter added ABOVE it makes Catalyst's
    # CollapseProject inline the whole evidence expression tree into the
    # predicate — minutes of single-core optimizer time)
    lang_crash, ident_crash = _reference_skips()
    df = df.filter(~lang_crash).filter(~ident_crash)
    flagged = M.nested_rule_flags(df, url_status_map)
    levels, ev = evidence_columns(url_status_map)
    # Each level materializes selector/derived subtrees as named columns
    # so the renders reference attributes instead of re-cloning the
    # trees (see evidence_columns docstring); CollapseProject keeps the
    # lower projections because their aliases are non-cheap and
    # multi-referenced, and the whole chain stays one narrow stage.
    for lvl in levels:
        if lvl:
            flagged = flagged.select(
                "*", *[c.alias(n) for n, c in lvl.items()]
            )
    # Task-binary discipline (round-5): the serialized stage plan must
    # carry the 27 evidence expression trees exactly ONCE — and, since
    # the level split above, each selector subtree once rather than the
    # 3-15 clones the _q/_pyrepr wrappers used to make (18.6 MiB; see
    # perfbench's plan.max_task_binary_kib). The old shape inlined the
    # full check structs into BOTH the materialized `checks` column and
    # the to_json(doc) projection, and filter(size(checks)>0)
    # substituted the tree a third time via predicate pushdown — a
    # 35.7 MiB broadcast task
    # binary per stage. (An explode + broadcast rule-text-dimension
    # join was measured WORSE: optimizer rules around Generate
    # re-duplicate the generator's child, 26.8 MiB and minutes of
    # fixpoint iteration.) So:
    # * the fired checks carry only (checkId, evidence) — array already
    #   in CODES order, no sort key needed;
    # * the static output fragments (indicator id / process /
    #   suggestion, jsonld_text tables = reference analog
    #   json_ld_utils.py:54-88,402-436 keyed by checkId) ship ONCE as a
    #   single ~11 KB map literal that a transform() lambda looks up
    #   per fired check — not re-rendered into 27 struct literals;
    # * zero-check documents are dropped by the cheap hit_* disjunction
    #   (tiny predicate trees), never by size(<giant array expr>) > 0.
    fired = F.filter(
        F.array(
            *[
                F.when(
                    F.col(f"hit_{code}"),
                    F.struct(
                        F.lit(code).alias("checkId"),
                        ev[code].alias("evidence"),
                    ),
                )
                for code in CODES
            ]
        ),
        lambda x: x.isNotNull(),
    )
    statics = F.create_map(
        *[
            part
            for code in CODES
            for part in (
                F.lit(code),
                F.struct(
                    F.lit(
                        "https://w3id.org/example/metacheck/i/indicators/"
                        + CATEGORIES[code]
                    ).alias("indicator"),
                    F.lit(DESCRIPTIONS[code]).alias("process"),
                    F.lit(SUGGESTIONS[code]).alias("suggestion"),
                ),
            )
        ]
    )

    def _render(c: Column) -> Column:
        t = F.element_at(statics, c["checkId"])
        return F.struct(
            F.lit("CheckResult").alias("@type"),
            F.struct(t["indicator"].alias("@id")).alias("assessesIndicator"),
            F.struct(
                F.lit("schema:SoftwareApplication").alias("@type"),
                F.lit("metacheck").alias("name"),
                F.lit("https://w3id.org/example/metacheck/tools/").alias("@id"),
                F.lit("0.1.0").alias("softwareVersion"),
            ).alias("checkingSoftware"),
            t["process"].alias("process"),
            F.struct(F.lit("schema:CompletedActionStatus").alias("@id")).alias(
                "status"
            ),
            c["checkId"].alias("checkId"),
            c["evidence"].alias("evidence"),
            t["suggestion"].alias("suggestion"),
        )

    checks = F.transform(fired, _render)
    cols_present = set(df.columns)
    name = _first_value(F.col("full_name"))
    desc = _first_value(F.col("description"))
    doc = F.struct(
        F.lit("https://w3id.org/example/metacheck/0.1.0/").alias("@context"),
        F.lit("SoftwareQualityAssessment").alias("@type"),
        F.concat(
            F.lit("Quality Assessment for "), F.coalesce(name, F.lit("Unknown"))
        ).alias("name"),
        F.coalesce(
            desc, F.lit("Software quality assessment for repository metadata")
        ).alias("description"),
        F.struct(
            F.lit("schema:Person").alias("@type"),
            F.lit("Anas El Hounsri").alias("name"),
            F.lit("a.elhounsri@upm.com").alias("email"),
        ).alias("creator"),
        F.lit(date_created).alias("dateCreated"),
        F.array(F.lit("@id: https://opensource.org/license/mit")).alias("license"),
        assessed_software(cols_present).alias("assessedSoftware"),
        checks.alias("checks"),
    )
    # Zero-check documents are dropped AFTER rendering, in an
    # Arrow-batched suffix probe on the OUTPUT string: `checks` is the
    # document's last field, so an empty array renders as a literal
    # `"checks":[]}` tail (a non-empty array always ends `}]}`, and no
    # text inside the array can fake the suffix — the char before the
    # final `}` must be `[`). Every declarative formulation of this drop
    # was measured to bloat the serialized stage: a flag-derived
    # predicate (any_hit / size(checks) > 0) either gets the 27
    # rule/evidence trees re-rendered into the Filter via alias
    # substitution or — when pinned above with a nondeterministic
    # barrier — splits the collapsed projection in two (~1.8 MiB task
    # binary), and a suffix predicate above the collapsed projection
    # re-serializes it wholesale (~19 MiB); the single collapsed
    # projection with NO Catalyst filter above it stays under the 1 MiB
    # broadcast-warning line. mapInPandas is a hard optimizer barrier,
    # its input is the rendered output itself (the same bytes the S5
    # sink writes next), and the probe is a vectorized str.endswith —
    # the same row set as before, one output-sized Arrow hop.
    out = flagged.select(
        F.col("_file").alias("file"), F.to_json(doc).alias("assessment")
    )

    def _drop_empty(batches):
        for pdf in batches:
            yield pdf[~pdf["assessment"].str.endswith('"checks":[]}')]

    return out.mapInPandas(_drop_empty, "file string, assessment string")
