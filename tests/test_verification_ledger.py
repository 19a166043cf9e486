"""The "every entry has a verification signal" invariant, enforced
(VERDICT r3 item 8): the registry and VERIFICATION.md must stay in
lockstep, so a new query cannot land without an oracle and a recorded
verification signal, and the ledger cannot go stale when entries are
added, renamed, or removed.

No SparkSession needed - this is pure registry/ledger introspection.
"""

from __future__ import annotations

import json
import os
import re

from data_pipeline_capstone_project_spark.registry import (
    ENTRIES,
    ORACLES,
    QUERIES,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Entries intentionally shipped without a SQL oracle (non-SQL-expressible
# by design; each must have a props/exact twin gating its invariants).
ROWS_ONLY: set[str] = set()


def _ledger_rows() -> dict[str, dict[str, str]]:
    rows: dict[str, dict[str, str]] = {}
    with open(os.path.join(REPO, "VERIFICATION.md")) as fh:
        for line in fh:
            m = re.match(
                r"\|\s*\d+\s*\|\s*([a-z0-9_]+)\s*\|\s*([^|]+)\|\s*([^|]+)\|"
                r"\s*([^|]+)\|\s*([^|]+)\|\s*([^|]+)\|",
                line,
            )
            if m:
                rows[m.group(1)] = {
                    "oracle": m.group(2).strip(),
                    "window": m.group(3).strip(),
                    "driver": m.group(4).strip(),
                    "sf0.01": m.group(5).strip(),
                    "sf0.1": m.group(6).strip(),
                }
    return rows


def test_every_query_has_an_oracle_or_is_allowlisted_rows_only():
    names = [e.name for e in ENTRIES]
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, f"registry names on more than one row: {dupes}"
    missing = [n for n in QUERIES if n not in ORACLES and n not in ROWS_ONLY]
    assert not missing, (
        f"registry entries without an oracle_sql() entry (add the SQL twin "
        f"or, for genuinely non-SQL ops, extend ROWS_ONLY with a props "
        f"twin): {missing}"
    )
    stale = [n for n in ORACLES if n not in QUERIES]
    assert not stale, f"oracles for entries not in the registry: {stale}"


def test_readme_catalogue_names_every_entry():
    """README's "Query catalogue" section is the one description of
    what each entry computes; every registry name must appear in it
    as a `code` span."""
    with open(os.path.join(REPO, "README.md")) as fh:
        readme = fh.read()
    section = readme.split("## Query catalogue", 1)[1].split("\n## ", 1)[0]
    named = set(re.findall(r"`([a-z0-9_]+)`", section))
    missing = [n for n in QUERIES if n not in named]
    assert not missing, (
        f"registry entries missing from README's query catalogue: {missing}"
    )


def test_ledger_covers_the_registry_exactly():
    ledger = _ledger_rows()
    assert ledger, "VERIFICATION.md has no parseable rows"
    unledgered = [n for n in QUERIES if n not in ledger]
    assert not unledgered, (
        f"registry entries missing from VERIFICATION.md - regenerate the "
        f"ledger (tools/verification_ledger.py) after adding entries: "
        f"{unledgered}"
    )
    removed = [n for n in ledger if n not in QUERIES]
    assert not removed, (
        f"VERIFICATION.md rows for entries no longer in the registry: "
        f"{removed}"
    )


def test_two_scale_sweep_is_on_record():
    """The repo's stated contract (BASELINE/VERDICT r3-r4) is a FULL
    two-scale oracle sweep: every entry must show a green sweep at
    BOTH sf0.01 and sf0.1 in the ledger. Round 4 wiped the sf0.1
    column and did not re-run it; this test makes that state a
    failure, not a footnote. Regenerate with:
    tools/check_oracle.py at each scale -> tools/verification_ledger.py."""
    ledger = _ledger_rows()
    blank = {
        scale: [
            n
            for n in QUERIES
            if not ledger.get(n, {}).get(scale, "").startswith(("OK", "rows-only"))
        ]
        for scale in ("sf0.01", "sf0.1")
    }
    assert not blank["sf0.01"] and not blank["sf0.1"], (
        f"entries without a green sweep per scale: {blank}"
    )


def test_every_entry_has_at_least_one_green_signal():
    """Every registry name must carry a driver-green CORRECTNESS row or
    a green local sweep at some scale factor - 'in the registry but
    never verified' is the state this test forbids."""
    ledger = _ledger_rows()
    driver_green: set[str] = set()
    for path in sorted(os.listdir(REPO)):
        if re.match(r"CORRECTNESS_r\d+\.json$", path):
            for name, row in json.load(open(os.path.join(REPO, path))).items():
                if (
                    isinstance(row, dict)
                    and row.get("rows_match")
                    and row.get("schema_match")
                    and (row.get("hash_match") in (True, None))
                ):
                    driver_green.add(name)
    unverified = []
    for name in QUERIES:
        row = ledger.get(name, {})
        sweep_ok = any(
            row.get(k, "").startswith(("OK", "rows-only"))
            for k in ("sf0.01", "sf0.1")
        )
        if name not in driver_green and not sweep_ok:
            unverified.append(name)
    assert not unverified, (
        f"entries with NO verification signal (no driver-green row, no "
        f"green sweep) - run tools/check_oracle.py and regenerate the "
        f"ledger: {unverified}"
    )
