"""Per-rule unit tests (SURVEY.md §5.1): a trigger and a non-trigger case
per text rule — including the reference's documented edge quirks — checked
on BOTH sides (Spark Column vs Python oracle) so the duals never drift."""

import pytest
from pyspark.sql import functions as F

from metacheck_spark.rules.registry import TEXT_RULES

# (caption, codes expected to fire among TEXT rules)
CASES = [
    ("a photo of a red fox in the snow", []),
    # P002 placeholders
    ("see <year> placeholder", ["P002"]),
    ("license year 2024 stated", []),
    # P005 multi-author — ',' fires unless followed by Jr. (p005.py:17 quirk)
    ("photo by Alice and Bob at the lake", ["P005"]),
    ("photo by Smith, Jr. at the lake", []),
    ("photo by Smith, Jones", ["P005"]),
    # W003 unversioned requirement
    ("requires numpy", ["W003"]),
    ("requires numpy >= 1.2 for math", []),
    ("requires numpy ~= 1.2", []),
    # W004 — fires only when gap > 1 day (w004.py:143 quirk)
    ("updated: 2024-03-05 modified: 2024-03-01 view", ["W004"]),
    ("updated: 2024-03-02 modified: 2024-03-01 view", []),
    ("updated: Mar 5, 2024 modified: 01-03-2024 view", ["W004"]),
    ("updated: 2024-03-05T10:30:00Z modified: 2024/03/01 x", ["W004"]),
    # P006 / P007 / P008
    ("docs at https://proj.readthedocs.io/en/latest page", ["P006"]),
    ("archived at https://zenodo.org/record/123 page", ["P007"]),
    ("terms in ./LICENSE.md", ["P008"]),
    ("terms at https://example.org/LICENSE", []),
    # W010
    ("written in Python for fun", ["W010"]),
    ("written in Python 3.10 for fun", []),
    # P011 — cite + URL + no DOI
    ("please cite https://papers.example.org/p1", ["P011"]),
    ("please cite https://doi.org/10.1234/x see 10.1234/x", []),
    # W012
    ("deps: Numpy Pandas here", ["W012"]),
    ("deps: numpy only", []),
    # W014 / W015
    ("id: mytool see https://doi.org/10.9999/xyz", ["W014"]),
    ("", ["W015"]),
    ("   ", ["W015", "P018"]),
    (None, ["W015"]),
    # P016 / P017 / P018
    ("see https://www.photosite.com/gallery here", ["P016"]),
    ("see https://github.com/u/r and https://www.x.com/y", []),
    ("copyright 2020 fox studio", ["P017"]),
    ("copyright 2020 released under MIT license terms ok", []),
    ("double  space here", ["P018"]),
    ("line\nbreak", ["P018"]),
    # P020
    ("https://example.org/page", ["P020"]),
    # W021 / P022
    ("tags [red, fox] included", ["W021"]),
    ("tags [red fox] included", []),
    ("licensed under GPL", ["P022"]),
    ("licensed under GPL-3.0", []),
    ("released under Apache terms", ["P022"]),
    ("released Apache-2.0 licensed", []),
    # P023 / P024
    ("clone example.com:user/repo.git today", ["P023"]),
    ("clone https://example.com/user/repo.git today", []),
    ("see doi:10.1234/abcd for details", ["P024"]),
    ("see https://doi.org/10.1234/abcd for details", []),
    # P027 — strict-vs-normalized version compare quirk (p027.py:84)
    ("compare v1.2.3 with 1.2.3", ["P027"]),
    ("compare v1.2.3 with v1.2.3", []),
    ("compare v1.2.3 with v1.2.4 and 1.2.4", []),
    # P028
    ("swh:1:rev:0123456789abcdef0123456789abcdef01234567 x", ["P028"]),
    ("swh:1:rev:012345 x", []),
]


@pytest.mark.parametrize("caption,expected", CASES, ids=lambda v: repr(v)[:40])
def test_python_oracle(caption, expected):
    got = [r.code for r in TEXT_RULES if r.py(caption)]
    assert got == [c for c in (r.code for r in TEXT_RULES) if c in expected]


def test_spark_matches_oracle(spark):
    df = spark.createDataFrame([(c,) for c, _ in CASES], "caption string")
    c = F.col("caption")
    rows = df.select("caption", *[r.spark(c).alias(r.code) for r in TEXT_RULES]).collect()
    for row in rows:
        s = row["caption"]
        for r in TEXT_RULES:
            # a null predicate (null caption) is a non-hit, as in assemble_flags
            assert bool(row[r.code]) == bool(r.py(s)), f"{r.code} caption={s!r}"
