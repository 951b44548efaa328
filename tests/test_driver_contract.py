"""Driver-contract invariants (no SparkSession needed).

The grading driver snapshots the FIRST 50 queries() entries into the
round's correctness artifact — these tests pin the registration
arithmetic so a future query addition cannot silently evict an
oracle-bearing query or a flagship pipeline from the gate.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_gate_contains_every_oracle_and_pinned_pipeline():
    qs = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    gate = set(qs[:50])
    missing_oracle = [n for n in oracles if n not in gate]
    assert not missing_oracle, missing_oracle
    missing_pinned = [n for n in entrymod._PINNED_ROWS_ONLY if n not in gate]
    assert not missing_pinned, missing_pinned


def test_every_oracle_has_a_query_and_order_is_stable():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    names = list(qs)
    # oracle-bearing entries come first, in registration order
    n_oracle = len([n for n in names if n in oracles])
    assert all(n in oracles for n in names[:n_oracle])
    # calling twice yields the same order (dict determinism)
    assert names == list(entrymod.queries())


def test_search_scorer_rejects_non_integral_weights(monkeypatch):
    """The search weights reach Spark as ``<int>D`` literals and DuckDB
    as the same integers; a fractional weight must raise instead of
    being truncated on the Spark side only."""
    import pytest

    w = [list(row) for row in entrymod._SEARCH_W]
    w[0][5] = 1.5
    monkeypatch.setattr(entrymod, "_SEARCH_W", w)
    with pytest.raises(ValueError, match="not integral"):
        entrymod._search_scorer({"temp": 1.0, "shift": 0.0})
