"""Guards on the driver-contract surface in __spark_entry__.py:
the oracle map stays aligned with queries(), and the rotating 50-entry
driver window keeps pointing at queries with no driver-side green row
yet (the round-4 rotation contract — a careless reorder would quietly
burn the round's 50 hard checks on already-verified entries).
"""

from __future__ import annotations

import glob
import json
import os

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_oracle_key_has_a_query_and_vice_versa():
    q = set(entry.queries())
    o = set(entry.oracle_sql())
    assert o <= q, f"oracle keys without a query: {sorted(o - q)}"
    # every query is oracle-backed in this repo (no weaker rows-only
    # checks left); if a future non-SQL-expressible op relaxes this,
    # list it here explicitly
    assert q <= o, f"queries without an oracle: {sorted(q - o)}"
    assert len(q) >= 190


def test_driver_window_holds_only_never_green_entries():
    seen: set[str] = set()
    for p in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r0*.json"))):
        with open(p) as fh:
            seen |= set(json.load(fh))
    if not seen:  # fresh checkout without driver artifacts
        return
    names = list(entry.queries())
    window = names[:50]
    never_green = [q for q in names if q not in seen]
    outside = [q for q in never_green if q not in window]
    assert not outside, (
        "never-driver-green queries outside the 50-entry driver window: "
        f"{outside}"
    )
    if len(never_green) >= 50:  # enough to fill the window on their own
        stale = [q for q in window if q in seen]
        assert not stale, (
            "driver window wastes hard checks on already-green queries: "
            f"{stale}"
        )
