"""Doc-path guard: every repo path the prose docs cite in code — an
inline `span` or a fenced block — must exist in the checkout. A doc that
points at a deleted file sends its reader nowhere; fix the doc in the
change that deletes the file.

A repo path starts with tools/, tests/, metacheck_spark/ or perfbench/,
or is an upper-case root *.json / *.md, bench.py or __spark_entry__.py;
a ::test or :line suffix is dropped before the check. The history
records (CHANGES.md, VERDICT.md, ROADMAP.md) cite deleted files on
purpose and are not checked.
"""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = [
    "README.md", "BASELINE.md", "COVERAGE.md", "FIXTURES.md", "PARITY.md",
    "TESTDATA.md", os.path.join(".claude", "skills", "verify", "SKILL.md"),
]
CODE = re.compile(r"```.*?```|`[^`\n]+`", re.S)
REPO_PATH = re.compile(
    r"(?<![\w/.$-])(?:(?:tools|tests|metacheck_spark|perfbench)/[\w./-]*"
    r"|[A-Z][A-Z0-9_]*\.(?:json|md)|bench\.py|__spark_entry__\.py)(?![\w-])"
)


def test_every_cited_repo_path_exists():
    missing = []
    for doc in DOCS:
        with open(os.path.join(ROOT, doc), encoding="utf-8") as f:
            text = f.read()
        for code in CODE.finditer(text):
            for m in REPO_PATH.finditer(code.group()):
                if not os.path.exists(os.path.join(ROOT, m.group())):
                    line = text.count("\n", 0, code.start() + m.start()) + 1
                    missing.append(f"{doc}:{line} {m.group()}")
    assert not missing, "docs cite paths that do not exist:\n" + "\n".join(missing)
