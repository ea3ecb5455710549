"""Nested-schema MetaCheck-parity tests (FIXTURES.md §2): the F1-F6
sub-operators and representative rules over SoMEF-shaped rows, including
the edge quirks SURVEY.md §7.4 calls out — first-match order dependence,
P001 v-normalization vs P027 strict compare, alias-folding language dedup."""

import pytest
from pyspark.sql import functions as F

from metacheck_spark.rules import somef as M
from metacheck_spark.sources import jsonld as J

ENTRY = (
    "struct<confidence:double, technique:string, source:string,"
    " result:struct<type:string, value:string, name:string, tag:string,"
    " version:string>>"
)
SCHEMA = (
    f"file_name string, version array<{ENTRY}>, releases array<{ENTRY}>,"
    f" identifier array<{ENTRY}>, code_repository array<{ENTRY}>,"
    f" programming_languages array<{ENTRY}>"
)


def e(value=None, technique="code_parser", source="codemeta.json", tag=None,
      name=None, version=None, conf=1.0):
    return (conf, technique, source, ("String", value, name, tag, version))


def docs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def flags(df, col):
    return {r["file_name"]: r["flag"] for r in df.select("file_name", col.alias("flag")).collect()}


def test_p001_first_match_and_v_normalization(spark):
    rows = [
        # v2.0.1 metadata vs release tag 2.0.1 -> v-strip makes them EQUAL
        ("equal_after_vstrip",
         [e("v2.0.1")], [e(tag="2.0.1")], [], [], []),
        # genuine mismatch
        ("mismatch", [e("2.0.1")], [e(tag="2.0.2")], [], [], []),
        # FIRST metadata entry wins even when a later one matches (the
        # reference breaks on first qualifying entry, p001.py:20-38)
        ("first_wins",
         [e("9.9.9", source="package.json"), e("2.0.1")],
         [e(tag="2.0.1")], [], [], []),
        # non-metadata sources are filtered out before selection (F2)
        ("only_readme_source",
         [e("9.9.9", technique="regular_expression", source="README.md")],
         [e(tag="2.0.1")], [], [], []),
        ("no_release", [e("1.0")], [], [], [], []),
    ]
    df = docs(spark, rows)
    got = flags(df, M.p001_version_mismatch(F.col("version"), F.col("releases")))
    assert got == {
        "equal_after_vstrip": False,
        "mismatch": True,
        "first_wins": True,   # first metadata entry 9.9.9 != 2.0.1
        "only_readme_source": False,
        "no_release": False,
    }


def test_p027_strict_vs_p001_normalized(spark):
    """The quirk pair: same document, P027 fires (strict 'v2.0.1' !=
    '2.0.1'), P001-style normalization would not."""
    rows = [
        ("v_prefix_only",
         [e("v2.0.1", source="codemeta.json"), e("2.0.1", source="package.json")],
         [e(tag="v2.0.1")], [], [], []),
        ("identical",
         [e("2.0.1", source="codemeta.json"), e("2.0.1", source="package.json")],
         [], [], [], []),
    ]
    df = docs(spark, rows)
    strict = flags(df, M.p027_codemeta_version_mismatch(F.col("version")))
    assert strict == {"v_prefix_only": True, "identical": False}
    norm = flags(df, M.p001_version_mismatch(F.col("version"), F.col("releases")))
    assert norm["v_prefix_only"] is False  # v-strip equalizes


def test_w015_empty_identifier(spark):
    rows = [
        ("blank", [], [], [e("   ")], [], []),
        # value-key-absent entries are SKIPPED by the reference
        # (w015.py:27 requires "value" in entry["result"]) — after a
        # schema read that's a null value, which must abstain
        ("missing_value", [], [], [e(None)], [], []),
        ("ok", [], [], [e("doi:10.1234/x")], [], []),
        ("absent_category", [], [], [], [], []),
    ]
    df = docs(spark, rows)
    got = flags(df, M.w015_empty_identifier(F.col("identifier")))
    assert got == {
        "blank": True,
        "missing_value": False,
        "ok": False,
        "absent_category": False,  # F1: rule abstains when category absent
    }


def test_p026_two_selections_same_array(spark):
    rows = [
        ("ssh_vs_https_equal", [], [], [],
         [e("git@github.com:org/repo.git"),
          e("https://github.com/org/repo", technique="GitHub_API", source=None)],
         []),
        ("mismatch", [], [], [],
         [e("https://github.com/org/other"),
          e("https://github.com/org/repo", technique="GitHub_API", source=None)],
         []),
        ("api_only", [], [], [],
         [e("https://github.com/org/repo", technique="GitHub_API", source=None)],
         []),
    ]
    df = docs(spark, rows)
    got = flags(df, M.p026_repo_mismatch(F.col("code_repository")))
    assert got == {
        "ssh_vs_https_equal": False,  # SSH->HTTPS + .git strip equalize
        "mismatch": True,
        "api_only": False,
    }


def test_w010_and_language_extraction(spark):
    rows = [
        ("unversioned", [], [], [], [],
         [e("Python", name="Python", version=None), e("Java", version="17")]),
        ("all_versioned", [], [], [], [],
         [e("Python", version="3.11")]),
        ("alias_dedup", [], [], [], [],
         [e("python3"), e("Python"), e("cpp"), e("ruby")]),
    ]
    df = docs(spark, rows)
    got = flags(M.nested_rule_flags(df), F.col("hit_W010"))
    assert got["unversioned"] is True and got["all_versioned"] is False

    langs = flags(df, J.extract_target_languages(F.col("programming_languages")))
    # alias folding + order-preserving dedup + non-target (ruby) dropped
    assert langs["alias_dedup"] == ["Python", "C++"]

    # the W010 evidence names every unversioned codemeta language
    levels, ev = J.evidence_columns()
    out = M.nested_rule_flags(J._with_all_categories(df))
    for lvl in levels:
        if lvl:
            out = out.select("*", *[c.alias(n) for n, c in lvl.items()])
    names = flags(out, F.when(F.col("hit_W010"), ev["W010"]))
    assert names["unversioned"] == (
        "W010 detected: codemeta.json Programming languages without versions: Python"
    )


def test_source_filename_projection(spark):
    df = spark.createDataFrame(
        [("https://x/codemeta.json",), ("https://x/setup.py",), ("https://x/README.md",)],
        "src string",
    )
    got = [r["f"] for r in df.select(J.metadata_source_filename(F.col("src")).alias("f")).collect()]
    assert got == ["codemeta.json", "setup.py", "metadata files"]
