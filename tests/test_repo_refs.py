"""Every ``scripts/<name>.py`` that the README, the verify skill, the
package, the tests, ``__spark_entry__.py`` or bench.py names must exist, so
a deleted or renamed script cannot leave a reader a dead command.

History files (CHANGES, ROADMAP, BENCH/, VERDICT, COVERAGE, OPTIMIZATION_r08)
name scripts as a record of past runs and are out of scope, as is
perfbench/, which keeps its own archive table."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_SCOPE = (
    "README.md",
    ".claude/skills",
    "esmarc_spark",
    "tests",
    "__spark_entry__.py",
    "bench.py",
)
_SCRIPT_REF = re.compile(r"(?<![\w.-])scripts/(\w+\.py)")


def _scoped_files():
    for entry in _SCOPE:
        path = REPO / entry
        if path.is_file():
            yield path
        elif path.is_dir():
            yield from (
                p for p in sorted(path.rglob("*")) if p.suffix in (".py", ".md")
            )


def test_named_scripts_exist():
    refs = {
        (str(p.relative_to(REPO)), name)
        for p in _scoped_files()
        for name in _SCRIPT_REF.findall(p.read_text(encoding="utf-8"))
    }
    assert refs  # the scan reads the files it should
    missing = sorted(
        (src, name) for src, name in refs if not (REPO / "scripts" / name).is_file()
    )
    assert missing == []
