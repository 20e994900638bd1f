"""Merged query registry — the single source __spark_entry__ exposes."""

from __future__ import annotations

from document_vector_indexer_spark.queries.base import QuerySpec

# Rows-only-by-design keys — FROZEN at these five (r10 VERDICT item 7).
# Each entry records WHY a direct value oracle is impossible, so no
# future round burns budget re-attempting one, and WHAT compensates.
# tests/test_registry.py pins the registry's oracle-less set to exactly
# this dict; adding a rows-only key means adding its dead-end note here
# and accepting the diff consciously.
ROWS_ONLY_BY_DESIGN: dict[str, str] = {
    "q_multimodal": (
        "decode tier is env-gated (no media libs in-container): the raw "
        "key exercises schema/partitioning/batch plumbing over the "
        "deterministic fake, and DuckDB cannot decode media at all. "
        "Compensated by the ORACLED sibling q_multimodal_pinned: "
        "executor-side stdlib PNG/BMP/PNM encode->decode->exact-integer "
        "stats vs mirrored literals (r10)."
    ),
    "q_dedup_minhash_mllib": (
        "MLlib MinHashLSH's drawn hash coefficients are internal to the "
        "fitted model — no public API exposes them as literals, so no "
        "SQL mirror can exist. Compensated by the ORACLED portable "
        "banded implementation q_dedup_minhash/q_dedup_near and recall "
        "pytest coverage of this tier."
    ),
    "q_knn_lsh": (
        "MLlib BucketedRandomProjectionLSH draws private internal "
        "hyperplanes (same class of model-internal randomness as "
        "minhash_mllib) — not SQL-mirrorable. Compensated by the "
        "ORACLED sibling q_knn_lsh_pinned (seeded literal hyperplanes, "
        "value-checked) and recall-vs-brute tests."
    ),
    "q_embed_local": (
        "the real embedder is a network model call (reference R9 "
        "contract, index_documents.py:142-194); in-container only the "
        "deterministic fake runs, and an oracle over the fake would "
        "test the fake, not the boundary. Compensated by the ORACLED "
        "portable-TF embedder q_embed_portable and the pytest contract "
        "suite (batch shape, retry/backoff, count/dim validation)."
    ),
    "q_embed_pipeline": (
        "composition ending in the q_embed_local boundary — same model "
        "nondeterminism, one stage removed. Compensated by "
        "q_embed_portable (oracled) plus pipeline invariant tests "
        "(chunk lineage, dim checks) in tests/test_pipeline.py."
    ),
}


def all_queries() -> dict[str, QuerySpec]:
    """Every key, oldest-verified first (see ``_priority_order``)."""
    merged = _registered()
    order = _priority_order(list(merged), _last_verified_rounds())
    return {k: merged[k] for k in order}


def _registered() -> dict[str, QuerySpec]:
    """Every key in registration order."""
    # Imports are local so a broken module surfaces per-import and new
    # modules bolt on with one line.
    from document_vector_indexer_spark.queries import (
        analyticsops,
        corpusops,
        extras,
        miningops,
        relational,
        scalarfuncs,
        searchops,
        streamingops,
        textops,
        tpch_full,
        vectorops,
    )

    merged: dict[str, QuerySpec] = {}
    for mod in (
        textops,
        relational,
        scalarfuncs,
        vectorops,
        streamingops,
        extras,
        tpch_full,
        corpusops,
        searchops,
        analyticsops,
        miningops,
    ):
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query keys: {sorted(overlap)}")
        merged.update(mod.QUERIES)
    # SURVEY.md §2B names that this implementation carries under a more
    # specific key — registered under both so the inventory check maps
    # one-to-one.
    aliases = {
        "q_cross_cosine": "q_dedup_embed",   # vector x vector similarity join
        "q_dedup_near": "q_dedup_minhash",   # near-dup via MinHash
    }
    for alias, target in aliases.items():
        spec = merged[target]
        merged[alias] = QuerySpec(
            spec.fn, spec.oracle, f"SURVEY §2B alias of {target}"
        )
    return merged


# Registry iteration order is a priority order for a bounded
# correctness budget (each round checks a ~50-key prefix):
# keys go oldest last-verified round first (never-verified keys count as
# round 0), registration order breaking ties. The rounds are read from
# CORRECTNESS_r*.json result files at the repo root, so the
# next round's file pushes this round's checked keys to the back of the
# queue. With N keys and a budget of B per round every key is re-checked
# within ceil(N/B) rounds; tests/test_registry.py simulates the rotation
# forward and asserts that bound. No key is fronted by hand after an
# edit: tier-1's tests/test_driver_parity.py runs every key through the
# ``__spark_entry__`` entry point on every change, so an edited shared helper
# re-checks all of its consumers.


def _last_verified_rounds() -> dict[str, int]:
    """Key -> latest round with a usable driver row: a green oracle row
    (hash_match) or, for rows-only-by-design keys, a clean run
    (err == 'no_oracle' with a row count). Red/errored rows do NOT
    count as verification — those keys keep their older round (or 0)
    and stay near the front. Missing files (fresh clone) degrade to
    everything-never-verified, i.e. plain registration order."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for key, row in rows.items():
            if not isinstance(row, dict):
                continue
            ok = bool(row.get("hash_match")) or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if ok:
                last[key] = max(last.get(key, 0), rnd)
    return last


def _priority_order(keys: list[str], last: dict[str, int]) -> list[str]:
    """Pure ordering rule (unit-testable): oldest-verified-first; the
    sort is stable, so registration order breaks ties."""
    return sorted(keys, key=lambda k: last.get(k, 0))
