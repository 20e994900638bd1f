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
    return _reverification_order(merged)


# Re-verification policy (round-5 rework per VERDICT item 6; history:
# round-3 changed-keys-first replaced the round-2 back-rotation that let
# a rewritten q_win_ntile hide behind a stale green row): registry
# iteration order is a *priority* order — the least proven keys come
# first — so any bounded correctness budget (the driver checks a ~50-key
# prefix per round; local CI may do the same) spends its checks where
# they carry information:
#
#   1. _CHANGED_SINCE_VERIFIED: keys whose implementation or oracle text
#      changed after their last green driver row. A stale green row is
#      NOT evidence, so these always re-front. Maintained by hand each
#      round: touch a query (or an operator/oracle it uses) -> add its
#      key here; a fresh green row in CORRECTNESS_r*.json -> remove it.
#   2. Everything else ordered by LAST-VERIFIED ROUND ascending (oldest
#      driver row first; never-verified keys sort as round 0, i.e.
#      first), registration order breaking ties.
#
# Rule 2 is what makes the rotation guarantee EXPLICIT: with N keys and
# a budget of B per round, oldest-first means every key is re-checked
# within ceil(N/B) rounds (162 keys / 50 per round -> every key within 4
# rounds). The last-verified rounds are read from the driver's own
# CORRECTNESS_r*.json files at the repo root — self-maintaining: the
# next round's file automatically pushes this round's checked keys to
# the back of the queue. tests/test_registry.py simulates the rotation
# forward and asserts the staleness bound.

# Changed since the last driver rows: see rule 1 above. (The round-15
# list — q_basket_rules, q_triangles, q_decontaminate — got green rows
# in CORRECTNESS_r15.json and rotates by age now.)
_CHANGED_SINCE_VERIFIED: list[str] = [
    "q_sink_roundtrip",     # chain now plans.pipeline's chunk_table ->
                            #     number_chunks -> embed_chunks (adds
                            #     the drop-empty filter); oracle untouched
    "q_stream_ingest",      # stream_index_transform runs the pipeline's
                            #     id-less chain; created_at stamped there
    "q_embed_pipeline",     # id-less pipeline chain: chunks keyed by
                            #     filename, not doc_id; rows-only
    "q_chunk_cdc",          # chunk_cdc's impl="arrow" route deleted;
                            #     the expr route is unchanged
    # similarity's one cosine scorer + top-k helper (and the near-dup
    # pair path's deleted block_col / pair_exchange="wide" branches):
    # same rows, same physical plans (q_knn_ivf: one alias moved);
    # oracles untouched
    "q_knn_brute",
    "q_knn_per_query",
    "q_knn_ivf",
    "q_knn_lsh_pinned",
    "q_knn_pq",
    "q_hybrid_rrf",
    "q_dedup_embed",
    "q_cross_cosine",
]


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


def _priority_order(
    keys: list[str], changed: list[str], last: dict[str, int]
) -> list[str]:
    """Pure ordering rule (unit-testable): changed keys first in their
    declared order, then everything else oldest-verified-first with
    registration order as the tiebreak."""
    reg_pos = {k: i for i, k in enumerate(keys)}
    front = [k for k in changed if k in reg_pos]
    in_front = set(front)
    rest = sorted(
        (k for k in keys if k not in in_front),
        key=lambda k: (last.get(k, 0), reg_pos[k]),
    )
    return front + rest


def _reverification_order(merged: dict[str, QuerySpec]) -> dict[str, QuerySpec]:
    """Priority order per the policy above. Pure reordering — the key
    set and every spec are untouched."""
    order = _priority_order(
        list(merged), _CHANGED_SINCE_VERIFIED, _last_verified_rounds()
    )
    return {k: merged[k] for k in order}
