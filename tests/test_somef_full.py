"""Full 27-rule nested-schema battery (rules/somef.py nested_rule_flags):
one trigger + one non-trigger document per rule, table-driven."""

import os

import pytest
from pyspark.sql import functions as F

from metacheck_spark.rules.somef import nested_rule_flags

ENTRY = (
    "struct<confidence:double, technique:string, source:string,"
    " result:struct<type:string, value:string, name:string, tag:string,"
    " version:string>>"
)
CATEGORIES = [
    "version", "releases", "license", "authors", "identifier",
    "code_repository", "date_updated", "requirements",
    "programming_languages", "readme_url", "reference_publication",
    "software_requirements", "issues_url", "download_url",
    "development_status", "continuous_integration",
]
SCHEMA = "file_name string, " + ", ".join(f"{c} array<{ENTRY}>" for c in CATEGORIES)

URL_STATUS = {
    "https://ok.example.org/a": 200,
    "https://moved.example.org/a": 301,
    "https://gone.example.org/a": 404,
}


def e(value=None, technique="code_parser", source="codemeta.json", tag=None,
      name=None, version=None):
    return (1.0, technique, source, ("String", value, name, tag, version))


def doc(name, **cats):
    row = [name]
    for c in CATEGORIES:
        row.append(cats.get(c, []))
    return tuple(row)


# (rule, trigger doc, non-trigger doc) — each pair differs only in the
# field the rule inspects.
CASES = [
    ("P001",
     doc("t", version=[e("1.0.0")], releases=[e(tag="2.0.0")]),
     doc("n", version=[e("v1.0.0")], releases=[e(tag="1.0.0")])),
    ("P002",
     doc("t", license=[e("copyright <year> template",
                         source="https://x/blob/main/LICENSE.md",
                         technique="file_exploration")]),
     doc("n", license=[e("copyright 2024 Alice",
                         source="https://x/blob/main/LICENSE.md",
                         technique="file_exploration")])),
    ("W003",
     doc("t", requirements=[e("numpy")]),
     doc("n", requirements=[e("numpy >= 1.4"), e("pandas", version="2.0")])),
    ("W004",
     doc("t", date_updated=[e("2024-03-10", technique="GitHub_API", source=None),
                            e("2024-03-01")]),
     doc("n", date_updated=[e("2024-03-02", technique="GitHub_API", source=None),
                            e("2024-03-01")])),
    ("P005",
     doc("t", authors=[e("Alice and Bob")]),
     doc("n", authors=[e("Smith, Jr.")])),
    ("P006",
     doc("t", readme_url=[e("https://proj.readthedocs.io/en/latest")]),
     doc("n", readme_url=[e("https://raw.githubusercontent.com/o/r/README.md")])),
    ("P007",
     doc("t", reference_publication=[e("https://zenodo.org/record/9")]),
     doc("n", reference_publication=[e("https://doi.org/10.1234/x")])),
    ("P008",
     doc("t", license=[e("./LICENSE.md")]),
     doc("n", license=[e("https://spdx.org/licenses/MIT")])),
    ("W010",
     doc("t", programming_languages=[e("Python", name="Python")]),
     doc("n", programming_languages=[e("Python", name="Python", version="3.11")])),
    ("P011",
     # codemeta declares a referencePublication, CITATION.cff exists in the
     # repo (authors sourced from it) but carries no reference (p011.py)
     doc("t", reference_publication=[e("https://papers.org/p1")],
         authors=[e("Alice", source="CITATION.cff")]),
     doc("n", reference_publication=[
             e("https://papers.org/p1"),
             e("https://papers.org/p1", source="CITATION.cff")],
         authors=[e("Alice", source="CITATION.cff")])),
    ("W012",
     doc("t", requirements=[e("Numpy Pandas")]),
     doc("n", requirements=[e("numpy")])),
    ("P013",
     doc("t", software_requirements=[e("see https://gone.example.org/a")]),
     doc("n", software_requirements=[e("see https://moved.example.org/a")])),
    ("W014",
     doc("t", identifier=[e("mytool"), e("10.1234/abc", source="citation.cff")]),
     doc("n", identifier=[e("10.1234/abc")])),
    ("W015",
     doc("t", identifier=[e("   ")]),
     doc("n", identifier=[e("doi:10.1/x")])),
    ("P016",
     doc("t", code_repository=[e("https://www.photosite.com/gallery")]),
     doc("n", code_repository=[e("https://github.com/o/r")])),
    ("P017",
     # selection is the first LICENSE.md-sourced entry (p017.py:17-26)
     doc("t", license=[e("YEAR: 2017\nCOPYRIGHT HOLDER: Adam H. Sparks",
                         source="https://x/blob/main/LICENSE.md",
                         technique="file_exploration")]),
     doc("n", license=[e("copyright 2020, released under the MIT license",
                         source="https://x/blob/main/LICENSE.md",
                         technique="file_exploration")])),
    ("P018",
     doc("t", issues_url=[e("https://x.org/issues  ")]),
     doc("n", issues_url=[e("https://x.org/issues")])),
    ("P019",
     # /archive/ pattern (p019.py:14); extension-free so the greedy
     # suffix quirk doesn't absorb '.zip' into the version
     doc("t", download_url=[e("https://x.org/archive/v2.0.0")],
         releases=[e(tag="v3.0.0")]),
     doc("n", download_url=[e("https://x.org/archive/v2.0.0")],
         releases=[e(tag="v2.0.0")])),
    ("P020",
     doc("t", development_status=[e("https://www.repostatus.org/#active")]),
     doc("n", development_status=[e("active")])),
    ("W021",
     doc("t", authors=[e("The [red, fox] team")]),
     doc("n", authors=[e("The [fox] team")])),
    ("P022",
     doc("t", license=[e("released under GPL")]),
     doc("n", license=[e("released under GPL-3.0")])),
    ("P023",
     doc("t", code_repository=[e("example.com:user/repo.git")]),
     doc("n", code_repository=[e("https://example.com/user/repo.git")])),
    ("P024",
     doc("t", identifier=[e("doi:10.1234/abc")]),
     doc("n", identifier=[e("https://doi.org/10.1234/abc")])),
    ("P025",
     # the WHOLE value is the CI URL (no extraction, p025.py:77-81); 301
     # is inaccessible under P025's strict-2xx check (the quirk vs P013)
     doc("t", continuous_integration=[e("https://moved.example.org/a")]),
     doc("n", continuous_integration=[e("https://ok.example.org/a")])),
    ("P026",
     doc("t", code_repository=[
         e("https://github.com/o/other"),
         e("https://github.com/o/repo", technique="GitHub_API", source=None)]),
     doc("n", code_repository=[
         e("git@github.com:o/repo.git"),
         e("https://github.com/o/repo", technique="GitHub_API", source=None)])),
    ("P027",
     doc("t", version=[e("v2.0.1"), e("2.0.1", source="package.json")]),
     doc("n", version=[e("2.0.1"), e("2.0.1", source="package.json")])),
    ("P028",
     doc("t", identifier=[e("swh:1:rev:" + "ab" * 20)]),
     doc("n", identifier=[e("swh:1:rev:xyz")])),
]


@pytest.fixture(scope="module")
def battery(spark):
    rows = []
    names = {}
    for code, trig, non in CASES:
        t = (f"{code}_trig",) + trig[1:]
        n = (f"{code}_non",) + non[1:]
        rows += [t, n]
        names[code] = (t[0], n[0])
    df = spark.createDataFrame(rows, SCHEMA)
    flagged = nested_rule_flags(df, URL_STATUS)
    got = {
        r["file_name"]: r.asDict() for r in flagged.collect()
    }
    return names, got


@pytest.mark.parametrize("code", [c for c, _, _ in CASES])
def test_nested_rule(battery, code):
    names, got = battery
    tname, nname = names[code]
    assert got[tname][f"hit_{code}"] is True, f"{code} trigger did not fire"
    assert got[nname][f"hit_{code}"] is False, f"{code} non-trigger fired"


def test_all_27_rules_covered():
    assert len({c for c, _, _ in CASES}) == 27


def test_json_ingest_to_battery_e2e(spark, tmp_path):
    """The reference's own workflow, Spark-first: a directory of SoMEF
    JSON documents (one corrupt, skipped with isolation) -> schema-on-read
    nested scan -> the 27-rule battery -> per-document hits."""
    import json

    from pyspark.sql.types import StructType

    from metacheck_spark.sources.readers import read_json_dir

    d = tmp_path / "somef_docs"
    d.mkdir()
    doc1 = {
        "file_name": "repo1",
        "license": [
            {"confidence": 1.0, "technique": "code_parser",
             "source": "codemeta.json",
             "result": {"type": "String", "value": "released under GPL"}}
        ],
        "identifier": [
            {"confidence": 1.0, "technique": "code_parser",
             "source": "codemeta.json",
             "result": {"type": "String", "value": "doi:10.1234/abc"}}
        ],
    }
    doc2 = {
        "file_name": "repo2",
        "license": [
            {"confidence": 1.0, "technique": "code_parser",
             "source": "codemeta.json",
             "result": {"type": "String", "value": "GPL-3.0"}}
        ],
    }
    (d / "a.json").write_text(json.dumps(doc1) + "\n" + json.dumps(doc2) + "\n")
    (d / "broken.json").write_text("{not json at all\n")

    schema = StructType.fromDDL(SCHEMA)
    docs_df = read_json_dir(spark, str(d), schema)
    flagged = nested_rule_flags(docs_df, URL_STATUS)
    got = {r["file_name"]: r.asDict() for r in flagged.collect()}
    assert set(got) == {"repo1", "repo2"}  # corrupt file isolated
    assert got["repo1"]["hit_P022"] is True     # GPL without version
    assert got["repo1"]["hit_P024"] is True     # bare DOI
    assert got["repo2"]["hit_P022"] is False
    # absent categories abstain (F1) — no spurious hits on repo2
    assert not any(
        v for k, v in got["repo2"].items() if k.startswith("hit_") and k != "hit_P022"
    )


# code -> the evidence_columns level-1 columns holding the entry (or
# value) the rule's evidence quotes
EVIDENCE_SELECTION = {
    "P001": ["_evs_p001"],
    "W003": ["_evs_w003"],
    "W004": ["_evs_w004_api", "_evs_w004_cm"],
    "P005": ["_evs_p005"],
    "P006": ["_evs_p006"],
    "P007": ["_evs_p007"],
    "P008": ["_evs_p008"],
    "W010": ["_evs_w010_names"],
    "P013": ["_evs_p013"],
    "P025": ["_evs_p025"],
    "W014": ["_evs_w014"],
    "P016": ["_evs_p016"],
    "P018": ["_evs_p018"],
    "P019": ["_evs_p019"],
    "P020": ["_evs_p020"],
    "W021": ["_evs_w021"],
    "P022": ["_evs_p022"],
    "P023": ["_evs_p023"],
    "P024": ["_evs_p024"],
    "P026": ["_evs_p026"],
    "P027": ["_evs_p027"],
    "P028": ["_evs_p028"],
}
# scan-all value rules: the selector finds an entry exactly when the rule
# fires
BOTH_WAYS = {"P006", "P007", "P018", "P020", "P023", "P024", "P028"}
FIXTURE_DIR = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench", "data")


def test_flags_and_evidence_select_alike(spark):
    """hit_<code> and the JSON-LD evidence read one selection per rule
    (rules/somef.py). Over the nested fixture and its URL dimension, every
    fired rule's unguarded evidence selector finds an entry, and for the
    scan-all value rules a found entry means the rule fired."""
    import __spark_entry__ as E
    from metacheck_spark.sources.jsonld import evidence_columns

    fx = E._nested_fixture_df(spark, FIXTURE_DIR)
    flagged = nested_rule_flags(fx, E._NESTED_URL_STATUS)
    # every guard true: the level-1 columns are the bare selectors
    df = flagged.select(
        *fx.columns,
        *[F.col(f"hit_{c}").alias(f"fired_{c}") for c in EVIDENCE_SELECTION],
        *[F.lit(True).alias(f"hit_{c}") for c in EVIDENCE_SELECTION],
    )
    levels, _ = evidence_columns(E._NESTED_URL_STATUS)
    for lvl in levels[:2]:
        df = df.select("*", *[c.alias(n) for n, c in lvl.items()])

    aggs = []
    for code, names in EVIDENCE_SELECTION.items():
        if code == "W010":
            found = F.size(names[0]) > 0
        else:
            found = F.lit(True)
            for n in names:
                found = found & F.col(n).isNotNull()
        fired = F.col(f"fired_{code}")
        aggs += [
            F.sum(fired.cast("int")).alias(f"n_{code}"),
            F.sum((fired & ~found).cast("int")).alias(f"miss_{code}"),
            F.sum((found & ~fired).cast("int")).alias(f"extra_{code}"),
        ]
    row = df.agg(*aggs).collect()[0]
    assert {c for c in EVIDENCE_SELECTION if not row[f"n_{c}"]} == set()
    assert {c: row[f"miss_{c}"] for c in EVIDENCE_SELECTION if row[f"miss_{c}"]} == {}
    assert {c: row[f"extra_{c}"] for c in BOTH_WAYS if row[f"extra_{c}"]} == {}
