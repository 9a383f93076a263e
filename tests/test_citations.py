"""Every script or plan-dump path that the package, the tests, README.md
or PLANS.md cites must exist, so a comment's proof never points at a
deleted file.  Historical round reports are out of scope."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "mysql_postgres_debezium_cdc_spark"
CITED = re.compile(r"(?<![\w/.-])(scripts/[\w/-]+\.py|plans/[\w/.-]*\w)")


def _sources() -> list[Path]:
    return [
        *sorted(PACKAGE.rglob("*.py")),
        *sorted((REPO / "tests").glob("*.py")),
        REPO / "README.md",
        REPO / "PLANS.md",
    ]


def test_cited_paths_exist():
    dangling = []
    for src in _sources():
        for n, line in enumerate(src.read_text().splitlines(), 1):
            for path in CITED.findall(line):
                # `plans/...` may name the package's plans/ subpackage
                if not ((REPO / path).exists() or (PACKAGE / path).exists()):
                    dangling.append(f"{src.relative_to(REPO)}:{n}: {path}")
    assert not dangling, "cited paths that do not exist:\n" + "\n".join(dangling)


def test_citation_pattern_sees_both_kinds():
    gone = "/".join(("plans", "r12", "q1_before.txt"))  # kept off this file's own scan
    line = f"see scripts/ab.py, {gone} and plans/observe.py."
    assert CITED.findall(line) == ["scripts/ab.py", gone, "plans/observe.py"]
