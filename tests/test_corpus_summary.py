"""jsonld.corpus_summary (the reference's analysis_results.json) against
an independent DuckDB oracle over the deterministic nested fixture, plus
a hand-built frame that reaches the reference's per-document skip paths,
which the fixture never does."""

import __spark_entry__ as E
from metacheck_spark.rules.somef import ENTRY_DDL, TARGET_LANGUAGES
from metacheck_spark.sources.jsonld import corpus_summary
from metacheck_spark.sources.jsonld_text import CODES, SUMMARY_DESCRIPTIONS
from tools.check_entry import oracle_connection

SF = "/root/testdata/sf0.01"

# Per document: the fixture's one programming_languages entry and its
# first identifier value (the entry the reference's startswith probe
# reads), recomputed from doc_id as _nested_fixture_df builds them. The
# language-extraction rule (pitfall_utils.py:5-60) normalizes the raw
# value and keeps it if it is a target language; a stringified JSON
# array or object crashes the extraction, and the reference then skips
# the document (detect_pitfalls_main.py:293-299). A structured first
# identifier value crashes the JSON-LD write (:352-354).
_TARGETS = ", ".join(f"'{t}'" for t in TARGET_LANGUAGES)
_SUMMARY_SQL = f"""
WITH battery AS ({E._SOMEF_NESTED_FULL_SQL}),
raw AS (
  SELECT doc_id,
    trim('Python') AS lang_raw,
    trim(CASE doc_id % 6 WHEN 0 THEN '   '
                         WHEN 2 THEN 'doi:10.1234/x' || doc_id
                         WHEN 3 THEN 'mytool'
                         WHEN 4 THEN 'swh:1:rev:' || repeat('ab', 20)
                         WHEN 5 THEN 'https://doi.org/10.1/ok' END) AS ident
  FROM documents
),
docs AS (
  SELECT doc_id,
    coalesce(lang_raw NOT IN ('', '[]', '{{}}') AND (
        (starts_with(lang_raw, '[') AND ends_with(lang_raw, ']')
         AND regexp_matches(lang_raw, '^\\[\\s*(["{{\\[]|[0-9.+-]|tru|fal|nul|\\])'))
        OR (starts_with(lang_raw, '{{') AND ends_with(lang_raw, '}}')
            AND regexp_matches(lang_raw, '^\\{{\\s*(["}}])'))), FALSE) AS lang_crash,
    coalesce((starts_with(ident, '[') AND ends_with(ident, ']'))
             OR (starts_with(ident, '{{') AND ends_with(ident, '}}')), FALSE) AS ident_crash,
    CASE WHEN lower(lang_raw) LIKE 'python%' THEN 'Python'
         WHEN lower(lang_raw) IN ('c++', 'cpp', 'cplusplus') THEN 'C++'
         WHEN lower(lang_raw) = 'java' THEN 'Java'
         WHEN lower(lang_raw) = 'c' THEN 'C'
         WHEN lower(lang_raw) = 'r' THEN 'R'
         WHEN lower(lang_raw) = 'rust' THEN 'Rust'
         ELSE lang_raw END AS lang
  FROM raw
),
labelled AS (
  SELECT doc_id, lang_crash, ident_crash,
         CASE WHEN NOT lang_crash AND lang IN ({_TARGETS}) THEN lang END AS lang
  FROM docs
),
hits AS (
  SELECT doc_id, upper(code) AS code
  FROM (UNPIVOT battery ON COLUMNS(* EXCLUDE (doc_id)) INTO NAME code VALUE hit)
  WHERE hit
)
SELECT NULL AS code, NULL AS lang,
       count(*) AS total,
       count(lang) AS with_langs,
       count(*) FILTER (WHERE NOT lang_crash AND NOT ident_crash
                        AND doc_id IN (SELECT doc_id FROM hits)) AS files
FROM labelled
UNION ALL
SELECT h.code, l.lang, count(*), NULL, NULL
FROM hits h JOIN labelled l USING (doc_id)
WHERE NOT l.lang_crash
GROUP BY h.code, l.lang
"""


def _oracle_summary() -> dict:
    con = oracle_connection(SF)
    rows = con.execute(_SUMMARY_SQL).fetchall()
    con.close()
    total, with_langs, files = next(r[2:] for r in rows if r[0] is None)
    count = {c: 0 for c in CODES}
    langs: dict = {c: {} for c in CODES}
    for code, lang, n, _, _ in rows:
        if code is None:
            continue
        count[code] += n
        if lang is not None:
            langs[code][lang] = n

    def entry(code):
        kind = "warning" if code.startswith("W") else "pitfall"
        return {
            f"{kind}_code": code,
            f"{kind}_desc": SUMMARY_DESCRIPTIONS[code],
            "count": count[code],
            "percentage": round(count[code] / total * 100, 2),
            "languages": {
                t: langs[code][t] for t in TARGET_LANGUAGES if t in langs[code]
            },
        }

    return {
        "summary": {
            "total_repositories_analyzed": total,
            "repositories_with_target_languages": with_langs,
            "individual_jsonld_files_created": files,
            "total_pitfalls_detected": sum(
                count[c] for c in CODES if c.startswith("P")
            ),
            "total_warnings_detected": sum(
                count[c] for c in CODES if c.startswith("W")
            ),
            "target_languages": list(TARGET_LANGUAGES),
        },
        "pitfalls & warnings": [entry(c) for c in CODES],
    }


def test_corpus_summary_matches_oracle(spark):
    got = corpus_summary(E._nested_fixture_df(spark, SF), E._NESTED_URL_STATUS)
    want = _oracle_summary()
    assert got == want
    # the comparison is not vacuous: most rules fire, in the one language
    fired = [r for r in got["pitfalls & warnings"] if r["count"]]
    assert len(fired) >= 20
    assert all(r["languages"] == {"Python": r["count"]} for r in fired)


def _entry(value=None, version=None):
    return (1.0, "code_parser", "codemeta.json", ("String", value, None, None, version))


def test_corpus_summary_skip_paths(spark):
    """One document per path: a language-extraction crash (a stringified
    JSON array as the language), an identifier crash (a stringified JSON
    object as the first identifier), a document with no target language,
    one with no languages entry at all (null), and one on which no rule
    fires. Each of the first four fires W003 (an unversioned
    requirement); the language-crash document also fires W010."""
    cats = ["programming_languages", "identifier", "requirements"]
    schema = ", ".join(f"{c} array<{ENTRY_DDL}>" for c in cats)
    unversioned = [_entry("numpy")]
    df = spark.createDataFrame(
        [
            ([_entry('["Python"]')], [], unversioned),
            ([_entry("Java", "17")], [_entry('{"a": 1}')], unversioned),
            ([_entry("Haskell", "9.4")], [], unversioned),
            (None, [], unversioned),
            ([_entry("Python", "3.11")], [], []),
        ],
        schema,
    )
    s = corpus_summary(df)
    assert s["summary"] == {
        "total_repositories_analyzed": 5,
        # the identifier-crash and zero-hit documents
        "repositories_with_target_languages": 2,
        # the two documents without a target language: the language
        # crash is skipped, the identifier crash writes no file, and a
        # document with no hits gets none
        "individual_jsonld_files_created": 2,
        "total_pitfalls_detected": 0,
        "total_warnings_detected": 3,
        "target_languages": list(TARGET_LANGUAGES),
    }
    counts = {
        r.get("pitfall_code") or r["warning_code"]: (r["count"], r["languages"])
        for r in s["pitfalls & warnings"]
    }
    # the language-crash document counts in the total only: its W003 and
    # W010 hits are not tallied. The identifier crash happens after the
    # tally (detect_pitfalls_main.py:317-330 before :352-354), so its
    # W003 is counted, under its language.
    assert counts["W003"] == (3, {"Java": 1})
    assert counts["W010"] == (0, {})
    assert {c for c, (n, _) in counts.items() if n} == {"W003"}
