"""The adjudicated-drift canary (VERDICT r8 #6) is only meaningful if
its per-round selection is reproducible — a cherry-pickable canary
proves nothing. Pin the selection function: deterministic per round,
drawn from the oracle-backed adjudicated pool, and actually different
across rounds (so over rounds the canary walks the old-key space)."""

from __future__ import annotations

import importlib.util
import pathlib

_TOOL = (
    pathlib.Path(__file__).resolve().parent.parent
    / "tools"
    / "canary_adjudicated.py"
)
_spec = importlib.util.spec_from_file_location("canary_adjudicated", _TOOL)
canary = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(canary)


def test_selection_is_deterministic_per_round():
    assert canary.canary_keys(9) == canary.canary_keys(9)


def test_selection_draws_from_adjudicated_oracle_backed_pool():
    import __spark_entry__ as entry
    from oke_cassandra_spark_locality_demo_spark import registry

    oracles = registry.all_oracles()
    graded = entry.grades()
    keys = canary.canary_keys(9)
    assert len(keys) == canary.CANARY_SIZE
    assert len(set(keys)) == canary.CANARY_SIZE
    for k in keys:
        assert k in graded, k
        assert k in oracles, k


def test_selection_varies_across_rounds():
    """Not a hard API guarantee of sample(), but with a 300+ key pool
    the chance of two seeds drawing identical 5-sets is negligible —
    if this ever fails, the selection is not actually walking the
    space and the canary is weaker than ROUNDLOG claims."""
    draws = {tuple(canary.canary_keys(r)) for r in range(9, 21)}
    assert len(draws) == 12


def test_current_round_selection_matches_roundlog():
    """ROUNDLOG r13 names these five keys as the round's canary; the
    recorded claim and the tool must never drift apart. The pool is
    the set of keys in the CORRECTNESS files; every registered key has
    been graded since r10, so a new round's file re-grades keys without
    changing membership, the sorted draw base stays identical, and
    only the seed advances."""
    assert canary.canary_keys(13) == [
        "q_graph_neighbor_sample",
        "q_join_cross",
        "q_ts_backtest_snaive",
        "q_fn_array",
        "q_tpch_q15",
    ]
