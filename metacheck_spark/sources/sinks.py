"""Sinks — the engine's write surface (SURVEY.md §2.1 S5-S7).

The reference writes one JSON-LD file per flagged repo plus a single
summary JSON (json_ld_utils.py:511-530, detect_pitfalls_main.py:375-391).
Here the per-row assessments are one audit table write (bucketed, see
pipeline.write_audit; the JSON-LD documents themselves are
sources/jsonld.py:nested_assessments), and the summary is this module's.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from metacheck_spark.rules.registry import REGISTRY
from metacheck_spark.tally import fold, hit_histogram


def summary_dict(audit: DataFrame) -> dict:
    """Corpus summary (S6 analog, detect_pitfalls_main.py:317-330,
    :364-391): per-rule counts with their per-language tallies, and the
    totals — one (lang, rule_hits) histogram, folded on the driver."""
    t = fold(hit_histogram(audit, "lang"), lambda row: [row["lang"]])
    total = t.rows or 1
    rules = [
        {
            "code": r.code,
            "desc": r.description,
            "count": t.rules[r.code],
            "percentage": round(100.0 * t.rules[r.code] / total, 2),
            "languages": {
                lang: n for (code, lang), n in sorted(t.by_group.items())
                if code == r.code
            },
        }
        for r in REGISTRY
    ]
    return {
        "summary": {
            "total_rows": t.rows,
            "kept_rows": t.kept,
            "flagged_rows": t.flagged,
            "total_pitfalls": t.pitfalls,
            "total_warnings": t.warnings,
        },
        "pitfalls & warnings": rules,
    }


def write_summary(audit: DataFrame, path: str) -> dict:
    s = summary_dict(audit)
    with open(path, "w") as f:
        json.dump(s, f, indent=2)
    return s
