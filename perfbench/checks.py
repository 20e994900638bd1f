"""Output checks. Each returns a list of failure messages (empty = pass)."""

from __future__ import annotations

import ast
import math
import re
from collections import Counter

import numpy as np


def headline_key(spark_df, con, oracle_sql: str | None, name: str) -> list[str]:
    """One registry key against its DuckDB oracle: row count, schema and
    values compared order-insensitively (exact, as the tier-1 parity
    tests do); keys without an oracle are checked by row count only."""
    from tests import parity_util

    if oracle_sql is None:
        return [] if spark_df.count() > 0 else [f"{name}: no rows"]
    try:
        parity_util.compare(spark_df, con, oracle_sql, name)
    except AssertionError as e:
        return [f"{name}: {str(e)[:300]}"]
    return []


def expected_chunks(texts: dict[str, str], chunk_size: int, overlap: int) -> Counter:
    """(filename, chunk_text) multiset the fixed-window chunker must emit,
    from the reference semantics over the cleaned source texts."""
    from tests import reference_semantics as ref

    out: Counter = Counter()
    for name, text in texts.items():
        cleaned = ref.clean_text(text)
        if cleaned:
            out.update((name, c) for c in ref.split_to_chunks(cleaned, "fixed", chunk_size, overlap))
    return out


def chunk_table(table, expected: Counter) -> list[str]:
    got = Counter(zip(table["filename"], table["chunk_text"]))
    if got == expected:
        return []
    missing, extra = expected - got, got - expected
    return [f"chunks: {sum(missing.values())} missing, {sum(extra.values())} unexpected"]


def ids_and_embeddings(table, base_files: set[str], dim: int, delta: bool) -> list[str]:
    """Ids dense 1..N and unique; with ``delta``, the incremental run's
    ids continue above every base id; every embedding non-null, finite
    and exactly ``dim`` long."""
    errs = []
    ids = table["id"].tolist()
    if sorted(ids) != list(range(1, len(ids) + 1)):
        errs.append("ids: not a dense unique 1..N range")
    in_base = table["filename"].isin(base_files)
    if not in_base.any() or in_base.all() == delta:
        errs.append("ids: base or delta slice missing or unexpected in the table")
    elif delta and table.loc[~in_base, "id"].min() <= table.loc[in_base, "id"].max():
        errs.append("ids: incremental ids do not continue after the base ids")
    for e in table["embedding"]:
        if e is None or len(e) != dim or not np.isfinite(np.asarray(e, dtype=np.float64)).all():
            errs.append("embeddings: null, non-finite or wrong dimension")
            break
    return errs


def topk(ids: list[int], emb: np.ndarray, row_ids: np.ndarray, q: np.ndarray, k: int) -> list[str]:
    """Returned top-k ids against an exact float64 cosine over the written
    embeddings; a returned id may differ from the exact order only
    within a tie (equal score to 1e-6)."""
    qn = np.linalg.norm(q)
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = emb @ q / (np.linalg.norm(emb, axis=1) * qn)
    sims = np.where(np.isfinite(sims), sims, -np.inf)
    want = min(k, int(np.isfinite(sims).sum()))
    if len(ids) != want or len(set(ids)) != len(ids):
        return [f"search: {len(ids)} ids returned, expected {want} distinct"]
    kth = np.sort(sims)[::-1][want - 1] if want else math.inf
    score = dict(zip(row_ids.tolist(), sims.tolist()))
    bad = [i for i in ids if score.get(i, -math.inf) < kth - 1e-6]
    return [f"search: ids {bad} are not in the exact top-{k}"] if bad else []


_CURATE = re.compile(
    r"(\d+) docs -> (\d+) pass quality .* -> (\d+) after [a-z+ ]+ \(\d+ duplicates\)"
    r" -> splits (\{.*\}) at"
)


def curate_output(printed: str, want: dict) -> list[str]:
    """The curate command's summary line against the planted counts."""
    m = _CURATE.search(printed)
    if not m:
        return [f"curate: no summary line in {printed[-200:]!r}"]
    got = {
        "n_in": int(m.group(1)),
        "n_quality": int(m.group(2)),
        "n_dedup": int(m.group(3)),
        "splits": ast.literal_eval(m.group(4)),
    }
    return [f"curate: {k} = {got[k]}, planted {want[k]}" for k in want if got[k] != want[k]]
