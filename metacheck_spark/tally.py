"""One tally for every rule count.

The reference counts each fired rule once per document and tallies its
languages in the same loop (detect_pitfalls_main.py:317-330, :364-391).
Here that loop is split in two:

- `hit_histogram`: one Spark action counts the rows of each distinct
  (group, hit set). Every count a summary needs is a function of a row's
  hit array, so this histogram holds all of them in at most
  groups x distinct-hit-sets rows.
- `fold`: a driver-side pass over those rows gives the per-rule counts,
  the per-rule per-group counts and the row totals.

`label_hits` builds the `rule_hits` array those two read from the
`hit_<code>` flags of any rule set: the images registry, the 27 SoMEF
rules or the docs queries' DuckDB-safe subset.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


def label_hits(flagged: DataFrame, codes: Sequence[str]) -> DataFrame:
    """rule_hits (fired codes in `codes` order — the analog of the
    reference's ordered `checks` array, json_ld_utils.py:462-508),
    n_pitfalls/n_warnings and keep (no pitfall fired), from one
    `hit_<code>` column per code. W-codes are warnings; every other code
    is a pitfall."""
    hit_structs = [F.when(F.col(f"hit_{c}"), F.lit(c)) for c in codes]
    hits = F.filter(F.array(*hit_structs), lambda x: x.isNotNull())
    n_pit = F.size(F.filter(hits, lambda c: ~c.startswith("W")))
    n_warn = F.size(F.filter(hits, lambda c: c.startswith("W")))
    return (
        flagged.withColumn("rule_hits", hits)
        .withColumn("n_pitfalls", n_pit)
        .withColumn("n_warnings", n_warn)
        .withColumn("keep", n_pit == 0)
    )


def hit_histogram(labeled: DataFrame, *by: str) -> list[Row]:
    """(*by, rule_hits, count) per distinct group and hit set, in one
    Spark action; only these few rows reach the driver."""
    return labeled.groupBy(*by, "rule_hits").count().collect()


@dataclass
class Tally:
    rows: int = 0
    flagged: int = 0  # rows with any hit
    kept: int = 0  # rows with no pitfall hit
    pitfalls: int = 0
    warnings: int = 0
    rules: Counter = field(default_factory=Counter)  # code -> rows
    by_group: Counter = field(default_factory=Counter)  # (code, group) -> rows


def fold(
    hist: Iterable[Row], groups: Callable[[Row], Iterable] | None = None
) -> Tally:
    """Every count of a histogram from `hit_histogram`. `groups` maps a
    histogram row to the groups its hits are tallied under — one value,
    or several when the group column is an array (a document's target
    languages)."""
    t = Tally()
    for row in hist:
        n, hits = row["count"], row["rule_hits"]
        gs = groups(row) if groups else ()
        n_warn = sum(c.startswith("W") for c in hits)
        t.rows += n
        t.flagged += n if hits else 0
        t.kept += n if n_warn == len(hits) else 0
        t.pitfalls += n * (len(hits) - n_warn)
        t.warnings += n * n_warn
        for code in hits:
            t.rules[code] += n
            for g in gs:
                t.by_group[code, g] += n
    return t
