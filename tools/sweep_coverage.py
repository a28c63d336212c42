#!/usr/bin/env python
"""Registered-queries-vs-committed-sweep coverage gate (round-8 verdict
task 8).

The committed ``LOCAL_CORRECTNESS.md`` sweep record is the only proof
for the queries the driver's 50-query sample never touches; rounds 7
and 8 both shipped queries with no committed oracle record.  This tool
lists every query in the registry that the committed sweep does not
cover, so a new query cannot merge silently unverified, and every
recorded name that is no longer registered, so the record cannot go
stale when a query is deleted — wired into pytest via
``tests/test_sweep_coverage.py``.

Usage:
    python tools/sweep_coverage.py     # prints missing/stale names, exit 1 if any
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SWEEP_MD = os.path.join(REPO, "LOCAL_CORRECTNESS.md")


def sweep_names(path: str = SWEEP_MD) -> set[str]:
    """Query names recorded in the sweep table (first column of
    ``| name | OK | ... |`` rows), plus any single-query addendum lines
    of the form ``query `name` ... OK``."""
    names: set[str] = set()
    with open(path) as f:
        for line in f:
            m = re.match(r"\|\s*([a-zA-Z0-9_]+)\s*\|", line)
            if m and m.group(1) not in ("query",):
                names.add(m.group(1))
            for am in re.finditer(r"`([a-zA-Z0-9_]+)`\s*\(query", line):
                names.add(am.group(1))
    return names


def registered_names() -> set[str]:
    sys.path.insert(0, REPO)
    from star_schema_etl_airflow_spark import registry
    return set(registry.queries())


def missing() -> list[str]:
    return sorted(registered_names() - sweep_names())


def stale() -> list[str]:
    return sorted(sweep_names() - registered_names())


def main() -> int:
    gap, old = missing(), stale()
    for name in gap:
        print(f"MISSING from committed sweep: {name}")
    for name in old:
        print(f"STALE in committed sweep (not registered): {name}")
    if gap:
        print(f"{len(gap)} registered queries lack a committed oracle "
              "record — run: python tools/check_correctness.py --sweep")
    if old:
        print(f"{len(old)} recorded queries are no longer registered — "
              "remove them from LOCAL_CORRECTNESS.md")
    if gap or old:
        return 1
    print(f"ok: the {len(registered_names())} registered queries are "
          "exactly the ones in LOCAL_CORRECTNESS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
