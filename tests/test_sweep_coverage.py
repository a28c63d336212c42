"""Every registered query must have a committed oracle record in
LOCAL_CORRECTNESS.md (round-8 verdict task 8): the driver samples ~50
queries per round, so the committed sweep is the only proof for the
rest — a new query cannot merge without re-running the sweep (or a
targeted addendum noted in the record).  And every recorded query must
still be registered, so a deleted query cannot leave a stale record.

Data-only test; the sweep itself is
``python tools/check_correctness.py --sweep``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import sweep_coverage  # noqa: E402


def test_every_registered_query_has_a_committed_sweep_record():
    gap = sweep_coverage.missing()
    assert not gap, (
        f"{len(gap)} registered queries lack a committed oracle record: "
        f"{gap} — run `python tools/check_correctness.py --sweep` and "
        "commit the regenerated LOCAL_CORRECTNESS.md"
    )


def test_every_recorded_query_is_still_registered():
    old = sweep_coverage.stale()
    assert not old, (
        f"{len(old)} queries in LOCAL_CORRECTNESS.md are no longer "
        f"registered: {old} — remove their rows from the record"
    )


def test_addendum_line_format_parses(tmp_path):
    """The incremental mode (check_correctness.py --append/--missing)
    appends addendum lines instead of re-sweeping 200+ queries; this
    pins that the exact line it writes is one sweep_names() accepts —
    the two tools cannot drift apart silently."""
    p = tmp_path / "rec.md"
    p.write_text(
        "# LOCAL_CORRECTNESS\n"
        "| query | sf0.01 |\n|---|---|\n| old_query | OK |\n"
        "- `new_query` (query addendum, commit `abc1234`): "
        "sf0.001 OK, sf0.01 OK, sf0.1 OK\n"
    )
    names = sweep_coverage.sweep_names(str(p))
    assert {"old_query", "new_query"} <= names
