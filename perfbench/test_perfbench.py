"""Self-test of the benchmark at its smallest size.

    python3 -m pytest perfbench -q

Runs every workload once on tiny inputs (sf0.001, a 16-file document
directory, an 82-doc curation table), untraced and traced, and shows
that each output check rejects a deliberately corrupted output. Takes
about five minutes on 4 cores.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    WORKLOADS = [w["name"] for w in json.load(_fh)["workloads"]]


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_same_seed_same_bytes(tmp_path):
    digests = []
    for rep in ("a", "b"):
        d = tmp_path / rep
        gen.write_doc_dir(str(d / "base"), str(d / "delta"), 12, 4, seed=5)
        gen.write_curate_table(str(d / "cur.parquet"), 60, 10, 6, 6, seed=5)
        gen.write_star_fixture(str(d / "star"), 0.001, seed=42)
        digests.append(_tree_digest(str(d)))
    assert digests[0] == digests[1]
    assert gen.query_texts(5, 5) == gen.query_texts(5, 5) != gen.query_texts(5, 6)


def test_chunk_check_rejects_a_dropped_chunk(tmp_path):
    import pandas as pd

    texts = gen.write_doc_dir(str(tmp_path / "b"), str(tmp_path / "d"), 12, 0, seed=1)
    want = checks.expected_chunks(texts, 1200, 200)
    table = pd.DataFrame(list(want.elements()), columns=["filename", "chunk_text"])
    assert checks.chunk_table(table, want) == []
    assert checks.chunk_table(table.iloc[1:], want)


def test_topk_check_rejects_a_swapped_id():
    rng = np.random.default_rng(0)
    emb, q = rng.normal(size=(50, 16)), rng.normal(size=16)
    row_ids = np.arange(1, 51)
    sims = emb @ q / (np.linalg.norm(emb, axis=1) * np.linalg.norm(q))
    order = row_ids[np.argsort(-sims)]
    top = order[:5].tolist()
    assert checks.topk(top, emb, row_ids, q, 5) == []
    assert checks.topk(top[:4] + [int(order[20])], emb, row_ids, q, 5)


def test_curate_check_rejects_a_wrong_count():
    want = {"n_in": 82, "n_quality": 72, "n_dedup": 60,
            "splits": {"train": 48, "val": 6, "test": 6}}
    line = ("Curated x: 82 docs -> 72 pass quality (10 dropped) -> 60 after "
            "exact+near dedup (12 duplicates) -> splits {'train': 48, 'val': 6, "
            "'test': 6} at y")
    assert checks.curate_output(line, want) == []
    assert checks.curate_output(line.replace("-> 60 after", "-> 61 after"), want)


def _bench(tmp_cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(tmp_cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), *extra],
        cwd=tmp_cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_runs_tiny(workload, trace):
    out = _bench(ROOT, workload, trace, "--size", "tiny")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, out.stderr[-3000:]
    names = run.bench_metrics("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _bench(str(tmp_path), "index_search", 0)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
