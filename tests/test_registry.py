"""Registry meta-contract: the structure the driver depends on."""

from __future__ import annotations

import re

from bench import HEADLINE
from document_vector_indexer_spark.queries.registry import all_queries


def test_registry_shape():
    specs = all_queries()
    assert len(specs) >= 85
    for name, spec in specs.items():
        assert re.fullmatch(r"[a-z0-9_]+", name), name
        assert callable(spec.fn), name
        assert spec.oracle is None or isinstance(spec.oracle, str), name
    n_oracle = sum(1 for s in specs.values() if s.oracle is not None)
    assert n_oracle >= 78


def test_rows_only_set_is_frozen():
    """The oracle-less set is FROZEN at the five declared dead-ends
    (r10 VERDICT item 7): each has a documented structural reason a
    value oracle is impossible plus its compensating check (registry.
    ROWS_ONLY_BY_DESIGN). A new rows-only key must add its note there
    — and should make you look hard for an oracled sibling first."""
    from document_vector_indexer_spark.queries.registry import (
        ROWS_ONLY_BY_DESIGN,
    )

    specs = all_queries()
    oracle_less = {n for n, s in specs.items() if s.oracle is None}
    assert oracle_less == set(ROWS_ONLY_BY_DESIGN)
    for note in ROWS_ONLY_BY_DESIGN.values():
        assert "Compensated" in note


def test_headline_queries_registered():
    specs = all_queries()
    missing = [n for n in HEADLINE if n not in specs]
    assert not missing, missing


def test_entry_contract_importable():
    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) == len(all_queries())


def test_verification_bookkeeping_invariants():
    """The whole iteration order is oldest-verified-first (last green
    correctness round ascending, never-verified as round 0), with
    registration order breaking ties — no key is fronted by hand."""
    from document_vector_indexer_spark.queries.registry import (
        _last_verified_rounds,
        _registered,
    )

    keys = list(all_queries())
    reg_pos = {k: i for i, k in enumerate(_registered())}
    assert sorted(keys) == sorted(reg_pos)
    last = _last_verified_rounds()
    order = [(last.get(k, 0), reg_pos[k]) for k in keys]
    assert order == sorted(order), (
        "iteration order must be oldest-verified-first, registration "
        "order breaking ties"
    )


def test_rotation_staleness_bound():
    """The EXPLICIT rotation guarantee (round-4 VERDICT item 6): with
    the driver checking the first B=50 keys per round, oldest-first
    ordering re-checks every key within ceil(N/B) rounds. Simulated
    forward from the real current state — if someone registers keys
    past the point where ceil(N/B) grows, or breaks the ordering, this
    fails."""
    import math

    from document_vector_indexer_spark.queries.registry import (
        _last_verified_rounds,
        _priority_order,
    )

    keys = list(all_queries())
    last = dict(_last_verified_rounds())
    budget = 50
    horizon = math.ceil(len(keys) / budget)
    assert horizon <= 4, (
        f"{len(keys)} keys / {budget} per round = every key only every "
        f"{horizon} rounds; VERDICT-accepted bound is 4 — trim keys or "
        "raise the documented bound deliberately"
    )
    now = max(last.values(), default=0)
    checked_at = dict(last)
    for rnd in range(now + 1, now + 1 + horizon):
        for k in _priority_order(keys, last)[:budget]:
            last[k] = rnd
            checked_at[k] = rnd
    assert all(checked_at.get(k, 0) > now for k in keys), (
        f"keys not re-checked within {horizon} simulated rounds: "
        f"{[k for k in keys if checked_at.get(k, 0) <= now][:10]}"
    )


def test_priority_order_fresh_clone_fallback():
    """With no CORRECTNESS files (fresh clone), every key counts as
    never-verified and the order degrades to plain registration order."""
    from document_vector_indexer_spark.queries.registry import _priority_order

    keys = ["a", "b", "c", "d"]
    assert _priority_order(keys, {}) == keys
    # ages shuffle the keys, oldest first, registration tiebreak
    assert _priority_order(keys, {"a": 3, "b": 1, "c": 2}) == [
        "d", "b", "c", "a"
    ]
    assert _priority_order(keys, {"a": 3, "b": 1}) == ["c", "d", "b", "a"]
