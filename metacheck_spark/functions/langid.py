"""Language identification — a fastText-style linear bag-of-features
scorer, fully vectorized (pandas .str.count per language lexicon, C-level;
no per-row Python). Deterministic: the lexicons below ARE the model
weights, shipped with the package (--py-files on a real cluster).

The exact same batch function is used by the Spark pandas UDF (pipeline)
and by the pure-Python oracle (fixtures/oracle.py calls it on a 1-element
batch), so labels agree bit-for-bit.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# 12 languages, lexicons pairwise disjoint by construction. These double as
# the fixture caption vocabulary (fixtures/gen_images.py).
LEXICONS: dict[str, list[str]] = {
    "en": ["photo", "image", "fox", "river", "mountain", "sunset", "forest",
           "winter", "bright", "ancient", "quiet", "stone", "garden", "cloud"],
    "es": ["foto", "imagen", "zorro", "montaña", "atardecer", "bosque",
           "invierno", "brillante", "antiguo", "piedra", "jardín", "nube",
           "camino", "cielo"],
    "fr": ["cliché", "renard", "rivière", "montagne", "crépuscule",
           "forêt", "hiver", "lumineux", "ancien", "pierre", "jardin",
           "nuage", "chemin", "fleuve"],
    "de": ["lichtbild", "fuchs", "fluss", "gebirge", "sonnenuntergang",
           "wald", "frost", "hell", "uralt", "stein", "garten", "wolke",
           "pfad", "himmelszelt"],
    "it": ["fotografia", "volpe", "fiume", "collina", "tramonto", "foresta",
           "inverno", "luminoso", "antico", "pietra", "giardino", "nuvola",
           "sentiero", "celeste"],
    "pt": ["retrato", "raposa", "ribeira", "serra", "entardecer",
           "floresta", "geada", "brilho", "antigo", "pedra", "jardim",
           "nuvem", "caminho", "céu"],
    "nl": ["kiekje", "vos", "rivier", "gebergte", "zonsondergang", "bos",
           "vrieskou", "helder", "oeroud", "steen", "tuin", "wolk", "paadje",
           "lucht"],
    "sv": ["fotografi", "räv", "flod", "fjäll", "solnedgång", "skog",
           "vinter", "ljus", "uråldrig", "sten", "trädgård", "moln",
           "stig", "himmel"],
    "pl": ["zdjęcie", "lis", "rzeka", "góra", "zachód", "las", "zima",
           "jasny", "starożytny", "kamień", "ogród", "chmura", "ścieżka",
           "niebo"],
    "tr": ["fotoğraf", "tilki", "nehir", "dağ", "günbatımı", "orman",
           "kış", "parlak", "kadim", "taş", "bahçe", "bulut", "patika",
           "gökyüzü"],
    "id": ["potret", "rubah", "sungai", "gunung", "senja", "hutan",
           "dingin", "terang", "kuno", "batu", "taman", "awan", "jalur",
           "langit"],
    "ro": ["vedere", "vulpe", "râu", "munte", "apus", "pădure",
           "iarnă", "luminos", "străvechi", "piatră", "grădină", "nor",
           "potecă", "cer"],
}

LANGS = list(LEXICONS.keys())
UNKNOWN = "und"
CONF_THRESHOLD = 0.5

# Guard: disjoint lexicons are what make the scorer well-posed.
_seen: dict[str, str] = {}
for _lang, _words in LEXICONS.items():
    for _w in _words:
        key = _w.lower()
        if key in _seen and _seen[key] != _lang:
            raise AssertionError(f"lexicon collision: {_w} in {_seen[key]} and {_lang}")
        _seen[key] = _lang


# token -> language index (the linear model's feature table). A lexicon
# word matches `(?<!\w)w(?!\w)` exactly when a maximal \w+ token equals it
# (lexicon words contain no non-word chars), so counting dict-mapped tokens
# is equivalent to counting a per-language alternation regex — at ~1/30th
# the cost.
_WORD2LANG = {
    w.lower(): i for i, (_lang, words) in enumerate(LEXICONS.items()) for w in words
}
_TOKEN_RE = re.compile(r"\w+")


def langid_batch(captions: pd.Series) -> tuple[pd.Series, pd.Series]:
    """(lang, confidence) per caption. Vectorized: one tokenize pass, one
    dict lookup per token, per-row per-lang tallies via np.add.at.
    conf = top_count / total_count; 'und' when no lexicon word matches or
    confidence < CONF_THRESHOLD."""
    toks_per = captions.fillna("").str.lower().str.findall(_TOKEN_RE)
    lens = toks_per.str.len().to_numpy(dtype=np.int64)
    n = len(captions)
    counts = np.zeros((n, len(LANGS)), dtype=np.int64)
    if lens.sum():
        get = _WORD2LANG.get
        flat = np.fromiter(
            (get(t, -1) for row in toks_per for t in row),
            dtype=np.int64,
            count=int(lens.sum()),
        )
        row_ids = np.repeat(np.arange(n, dtype=np.int64), lens)
        hit = flat >= 0
        np.add.at(counts, (row_ids[hit], flat[hit]), 1)
    total = counts.sum(axis=1)
    best = counts.argmax(axis=1)
    top = counts[np.arange(n), best]
    with np.errstate(divide="ignore", invalid="ignore"):
        conf = np.where(total > 0, top / np.maximum(total, 1), 0.0)
    langs = np.where(
        (total > 0) & (conf >= CONF_THRESHOLD),
        np.array(LANGS, dtype=object)[best],
        UNKNOWN,
    )
    return (
        pd.Series(langs, index=captions.index, dtype=object),
        pd.Series(conf.astype(np.float64), index=captions.index),
    )
