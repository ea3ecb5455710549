"""Pure-Python per-row oracle — the independent reference implementation
of the full rule semantics (SURVEY.md §5.2). pytest compares the Spark
pipeline's keep/drop + rule_hits + scrubbed captions row-by-row against
these labels (BASELINE.json: F1 >= 0.99 keep/drop, exact caption match).

Shares the pattern constants and the model/scrub batch functions with the
Spark side, but evaluates everything row-at-a-time in plain Python — the
structural opposite of the columnar engine, which is what makes agreement
meaningful.
"""

from __future__ import annotations

import pandas as pd

from metacheck_spark.fixtures import codec
from metacheck_spark.functions.langid import langid_batch
from metacheck_spark.functions.perplexity import PPL_THRESHOLD, ppl_batch
from metacheck_spark.functions.scrub import scrub_one
from metacheck_spark.rules.registry import REGISTRY


def label_row(
    row: dict,
    url_status: dict[str, int | None],
    model: tuple[str, float, float],
) -> dict:
    """Golden labels for one images-table row, given its batch-scored
    (lang, conf, ppl) from label_rows."""
    b = row.get("bytes")
    arr = codec.decode(b)
    lang, conf, ppl = model
    ctx = {
        "w": row.get("w"),
        "h": row.get("h"),
        "fmt": row.get("fmt"),
        "phash": row.get("phash"),
        "hdr_dims": codec.header_dims(b),
        "magic_fmt": codec.sniff_format(b),
        "decoded_ok": arr is not None,
        "phash_calc": codec.average_phash(arr) if arr is not None else None,
        "url_status": url_status,
        "lang": lang,
        "ppl": ppl,
        "ppl_threshold": PPL_THRESHOLD,
    }
    caption = row.get("caption")
    hits = [r.code for r in REGISTRY if _fires(r, caption, ctx)]
    pitfalls = [c for c in hits if not c.startswith("W")]
    warnings = [c for c in hits if c.startswith("W")]
    keep = len(pitfalls) == 0
    return {
        "image_id": row.get("image_id"),
        "rule_hits": hits,
        "n_pitfalls": len(pitfalls),
        "n_warnings": len(warnings),
        "keep": keep,
        "lang": ctx["lang"],
        "lang_conf": conf,
        "ppl": ppl,
        "scrubbed_caption": scrub_one(caption) if keep else None,
    }


def _fires(rule, caption, ctx) -> bool:
    try:
        if rule.kind == "text":
            return bool(rule.py(caption))
        return bool(rule.py(caption, ctx))
    except Exception:
        return False  # abstain on error, mirroring the reference's
        # per-detector isolation (detect_pitfalls_main.py:335-337)


def label_rows(rows: list[dict], url_status: dict[str, int | None]) -> list[dict]:
    caps = pd.Series([r.get("caption") for r in rows])
    langs, confs = langid_batch(caps)
    ppls = ppl_batch(caps)
    return [
        label_row(r, url_status, (str(langs.iloc[i]), float(confs.iloc[i]), float(ppls.iloc[i])))
        for i, r in enumerate(rows)
    ]
