"""Every entry point in lakeflow/ that only tests reach is listed, with
a reason, in COVERAGE.md's "Kept test-only surface" table. AST only; no
Spark session."""

from __future__ import annotations

import os
import re

from tools import surface

_COVERAGE = os.path.join(surface.REPO, "COVERAGE.md")


def _kept_table() -> list[str]:
    with open(_COVERAGE, encoding="utf-8") as fh:
        text = fh.read()
    section = text.split("## Kept test-only surface", 1)[1].split("\n## ", 1)[0]
    return re.findall(r"^\| `([\w.]+)` \|", section, flags=re.M)


def test_coverage_table_lists_exactly_the_test_only_surface():
    found = surface.find_test_only()
    kept = _kept_table()
    assert found, "the scan found nothing: its roots are broken"
    assert sorted(kept) == kept, "keep the table sorted"
    missing = sorted(set(found) - set(kept))
    stale = sorted(set(kept) - set(found))
    assert not missing, f"test-only code with no reason in COVERAGE.md: {missing}"
    assert not stale, f"COVERAGE.md rows for code outside tests now reaches, or gone: {stale}"
