"""Every benchmark report and tool that the code and the current docs
cite must exist in the repo.

History files (VERDICT.md, CHANGES.md, ROADMAP.md) are left out: they
record reports and tools that later changes removed.  Outputs that a
tool writes and ``.gitignore`` lists (``BENCH_DETAIL.json``) are not
citations of a committed file.  No Spark session.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

REPORT = re.compile(r"\bBENCH_\w+\.(?:md|json)\b")
TOOL = re.compile(r"\btools/(\w+\.py)\b|\b(bench_\w+\.py)\b")


def _scanned() -> list[Path]:
    files = sorted((REPO / "realdeal_spark").rglob("*.py"))
    files += sorted((REPO / "tools").glob("*.py"))
    files += sorted((REPO / "jobs").glob("*.py"))
    files += [REPO / n for n in ("bench.py", "README.md", "COVERAGE.md", "BASELINE.md")]
    files += sorted(REPO.glob("BENCH_*.md"))
    return files


def _ignored() -> set[str]:
    lines = (REPO / ".gitignore").read_text().splitlines()
    return {ln.strip() for ln in lines if ln.strip() and not ln.startswith("#")}


def test_cited_reports_and_tools_exist():
    ignored = _ignored()
    missing = []
    for path in _scanned():
        text = path.read_text(encoding="utf-8")
        rel = path.relative_to(REPO)
        for m in REPORT.finditer(text):
            name = m.group(0)
            if name not in ignored and not (REPO / name).is_file():
                missing.append(f"{rel}: {name}")
        for m in TOOL.finditer(text):
            name = m.group(1) or m.group(2)
            if not (REPO / "tools" / name).is_file():
                missing.append(f"{rel}: tools/{name}")
    assert not missing, "cited but missing:\n" + "\n".join(sorted(set(missing)))

