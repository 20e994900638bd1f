#!/usr/bin/env python3
"""Plan-shape audit: flag corpus-sized broadcast builds at a given
fixture dir (meant for the BIG one — size estimates drive Catalyst's
broadcast decisions, so an audit at sf0.01 can't see what flips in at
~sf1).

The r10 one-decade sweep found exactly one super-linear key, and its
root cause was this pattern: q_tpch_q4 left unhinted let Catalyst
broadcast the projected l_orderkey column of LINEITEM — a build side
that grows with the corpus (3.6 M keys at ~sf1, ~1.9 s of driver hash-
relation build; unbroadcastable at 100 TB). This tool makes the class
visible for every registered key so the fix can't regress silently:

  flagged = a BroadcastExchange whose subtree scans a CORPUS table
            (lineitem/orders/events/documents/embeddings/customer)
            with NO aggregation/limit between the scan and the
            broadcast — i.e. the broadcast payload is raw corpus rows,
            not a bounded stats/top-k frame.

Broadcasts of dimension tables (nation/region/part/supplier) and of
aggregated frames (per-group stats, top-k, 1-row totals) are the
normal, wanted shapes and are not flagged.

CONSTRUCTION-ONLY: plans are built and explained, not run — with two
honest exceptions: (a) a few Spark jobs still run for ingest/layout
registration and parquet footer reads; (b) iterate-until-converged
operators (connected_components inside q_dedup_cluster/apply/
golden_record) inherently EXECUTE during plan construction — their
loop must materialize each round to test convergence, and the
resulting LogicalRDD hides the loop's interior from this audit. Their
upstream pair generation is the plan of the non-iterative
q_dedup_near/q_dedup_minhash keys, which holds no join at all (each
MinHash signature rides through its band buckets), so it has no
broadcast surface to audit.

Usage: python tools/broadcast_audit.py [sf_dir] [--raw]
       (default /root/repo/.scale/sf1, ingested to a temp dir first
        like the sweep does; --raw audits the dir as-is)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import sys
import tempfile

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

CORPUS_TABLES = (
    "lineitem",
    "orders",
    "events",
    "documents",
    "embeddings",
    "customer",
)

# Nodes that bound the broadcast payload regardless of input size.
BOUNDING = re.compile(
    r"HashAggregate|ObjectHashAggregate|SortAggregate|"
    r"TakeOrderedAndProject|CollectLimit|GlobalLimit|LocalLimit"
)


def _tree_lines(explained: str) -> list[str]:
    """The physical-plan tree section of a formatted explain."""
    lines = explained.splitlines()
    out = []
    started = False
    for ln in lines:
        if ln.startswith("== Physical Plan =="):
            started = True
            continue
        if started:
            if not ln.strip():
                break
            out.append(ln)
    return out


def _indent(ln: str) -> int:
    """Tree depth of a plan line (each level prints 3 chars of
    ':- ' / '+- ' / '   ' prefix before the operator name)."""
    m = re.match(r"^[\s:+|-]*", ln)
    return len(m.group(0)) if m else 0


def _scan_ids_by_table(explained: str) -> dict[str, str]:
    """Map '(n)' operator ids of parquet scans to the table they read,
    from the detail section's Location lines."""
    ids: dict[str, str] = {}
    cur = None
    for ln in explained.splitlines():
        m = re.match(r"^\((\d+)\) Scan parquet", ln)
        if m:
            cur = m.group(1)
            continue
        if cur and ln.startswith("Location"):
            for t in CORPUS_TABLES:
                if re.search(rf"[/_]{t}(\.parquet|__|/|\b)", ln):
                    ids[cur] = t
                    break
            cur = None
    return ids


def audit_plan(explained: str) -> list[str]:
    """Return descriptions of unbounded corpus broadcasts in one
    formatted explain string."""
    tree = _tree_lines(explained)
    scan_tables = _scan_ids_by_table(explained)
    findings = []
    for i, ln in enumerate(tree):
        if "BroadcastExchange" not in ln:
            continue
        depth = _indent(ln)
        # subtree = following lines strictly deeper than this node
        j = i + 1
        bounded_depths: list[int] = []  # depths at which a bounding op sits
        while j < len(tree) and _indent(tree[j]) > depth:
            sub = tree[j]
            sd = _indent(sub)
            # leaving a bounded branch: pop bounding ops deeper than us
            bounded_depths = [d for d in bounded_depths if d < sd]
            if BOUNDING.search(sub):
                bounded_depths.append(sd)
            m = re.search(r"Scan parquet.*\((\d+)\)", sub)
            if m and not bounded_depths:
                t = scan_tables.get(m.group(1))
                if t:
                    findings.append(
                        f"BroadcastExchange over raw {t} scan: {ln.strip()}"
                    )
            j += 1
    return findings


# --- triaged benign flags (r10 VERDICT / SCALE.md three-class triage) ------
#
# Every (key, corpus-table) pair the audit is EXPECTED to flag, each in
# one of the three classes measured benign in r10. The CI gate
# (tests/test_broadcast_gate.py) asserts the audited families' flags
# are a SUBSET of this list, so a NEW corpus-sided broadcast build (the
# q_tpch_q4 class that rode under green rows for nine rounds) fails CI
# instead of waiting for the next decade sweep.
#
# Class 1 — bounded-by-filter query sets: the broadcast side scans a
#   corpus table but a literal-id filter bounds it to a handful of rows
#   at ANY corpus size (query vectors / probe documents). Correct shape.
# Class 2 — Catalyst size-based dim-side picks: the broadcast side is a
#   FILTERED corpus frame whose size estimate carries full row width,
#   so the pick flips to a shuffle join automatically as data grows —
#   the adaptive behavior we want (pinning q21's orders-"F" side
#   measured SLOWER, SCALE.md r10). Flagged because the audit can't
#   prove the bound statically; benign because the estimate is honest
#   (no narrow projection hiding millions of keys under the threshold).
# Class 3 — MLlib-internal plans (MinHashLSH approxSimilarityJoin
#   internals), not our join code.
BENIGN = {
    # class 1: literal-bounded query/probe sides
    ("q_knn_brute", "embeddings"),
    ("q_knn_lsh_pinned", "embeddings"),
    ("q_knn_ivf", "embeddings"),
    ("q_knn_pq", "embeddings"),
    ("q_knn_per_query", "embeddings"),
    ("q_vec_cosine", "embeddings"),
    ("q_hybrid_rrf", "embeddings"),
    # class 2: size-estimate dim-side picks on filtered corpus frames
    ("q_tpch_q3", "orders"),
    ("q_tpch_q3", "customer"),
    ("q_tpch_q5", "orders"),
    ("q_tpch_q5", "customer"),
    ("q_tpch_q7", "orders"),
    ("q_tpch_q7", "customer"),
    ("q_tpch_q8", "orders"),
    ("q_tpch_q8", "customer"),
    ("q_tpch_q9", "orders"),
    ("q_tpch_q10", "orders"),
    ("q_tpch_q10", "customer"),
    ("q_tpch_q12", "orders"),
    ("q_tpch_q13", "orders"),
    ("q_tpch_q18", "orders"),
    ("q_tpch_q18", "customer"),
    ("q_tpch_q21", "orders"),
    ("q_tpch_q22", "orders"),
    ("q_join_inner", "customer"),
    ("q_join_left", "orders"),
    ("q_join_semi", "orders"),
    ("q_join_anti", "orders"),
    ("q_null_funcs", "orders"),
    ("q_null_funcs", "customer"),
    ("q_kanonymity", "customer"),
    ("q_agg_cube", "customer"),
    # class 3: MLlib-internal
    ("q_dedup_minhash_mllib", "documents"),
}


# --- registry-driven gate surface (r11 VERDICT item 3) ----------------------
#
# Keys the CI gate does NOT audit at ~sf1, each with the reason it is
# exempt. Pinned by tests/test_broadcast_gate.py the way
# registry.ROWS_ONLY_BY_DESIGN is: every entry must name a real registry
# key that is actually ON the gate surface (classify_gate_surface finds
# it visible or blind), so stale rows fail the suite — and every BLIND
# key must appear here, so a new executed-intermediate build can't
# silently drop out of audit coverage.
AUDIT_EXCLUDED: dict[str, str] = {
    "q_dedup_cluster": (
        "connected-components loop executes during construction; the "
        "loop interior is LogicalRDD — invisible to any plan audit by "
        "construction. Its pair generation, visible in "
        "q_dedup_near/q_dedup_minhash, plans no join (signatures ride "
        "through the band buckets), so it has no broadcast surface."
    ),
    "q_pagerank": (
        "iterative rank loop materializes each round (LogicalRDD "
        "interior). The per-round exchange is a narrow (node, rank) "
        "shuffle keyed like the edge aggregation — no corpus-row "
        "broadcast surface exists in the loop (mining.py docstring)."
    ),
    "q_rfm": (
        "constructs via an executed quantile-threshold intermediate "
        "(LogicalRDD). Upstream is one events aggregation to ~1 row "
        "per customer; the threshold frame is bounded (score "
        "boundaries), not corpus rows."
    ),
    "q_gini": (
        "constructs via an executed cumulative-share intermediate "
        "(LogicalRDD). Upstream is one events aggregation; the "
        "executed frame is per-group totals, not corpus rows."
    ),
}

# Keys that are BOTH visible and blind: their plan joins corpus tables
# (audited normally — they STAY on the gate surface) but also embeds an
# executed LogicalRDD interior the plan audit cannot see. The r12 gate
# arithmetic (`blind - visible - excluded`) silently exempted this
# class — the r12 ADVICE catch: a new key that joins corpus tables AND
# iterates during construction passed with part of its plan
# unauditable and no documented reason. Every such key must carry a
# pinned reason here naming what the blind interior is and where its
# exchanges are accounted for; the gate test asserts the key really is
# both visible and blind (a stale row fails).
BLIND_INTERIOR_OK: dict[str, str] = {
    "q_dedup_apply": (
        "near_dedup_keep_first runs connected_components at "
        "construction; the blind interior is the CC label loop — "
        "narrow (id, component) exchanges, no corpus-row broadcast "
        "surface (same rationale as q_dedup_cluster's exclusion). The "
        "VISIBLE part (minhash pair generation + the shuffle_hash-"
        "pinned loser anti join) is audited normally."
    ),
    "q_golden_record": (
        "golden_records runs connected_components at construction; "
        "blind interior identical to q_dedup_apply's (CC label loop). "
        "The VISIBLE part (pair generation + the survivorship "
        "aggregation joins) is audited normally."
    ),
}


def classify_gate_surface(spark, sf_dir: str, keys=None):
    """Compute the broadcast-gate surface FROM the registry instead of a
    hand-curated family list (r11 VERDICT item 3 — a key added outside
    the listed families silently escaped the gate, the exact failure
    mode the gate exists to kill, one level up).

    Returns ``(visible, blind, errors)``:

    - ``visible``: keys whose physical plan both scans a corpus table
      and contains a join — the only shape where a corpus-sided
      BroadcastExchange can appear. Join/scan STRUCTURE is
      data-independent (Catalyst flips join *strategies* with size,
      never conjures a join), so this classification is sound at the
      small committed fixtures even though the audit itself must plan
      against ~sf1 where size estimates flip broadcast picks.
    - ``blind``: keys whose plan embeds an executed intermediate
      (LogicalRDD/ExistingRDD) hiding subtrees from ANY plan audit —
      these must be excused in ``AUDIT_EXCLUDED`` with a reason.
    - ``errors``: key -> message for keys whose plan could not be
      built (an errored key is neither visible nor excused — the gate
      fails on any).

    Cost note (r12 ADVICE): "plan construction" is not free for every
    key — several registry fns EXECUTE work inside the QuerySpec call
    itself, so classifying them runs that work even at sf0.001:
    q_stream_* keys run their streaming query to completion
    (availableNow + awaitTermination) and register memory-sink temp
    views; the CC-based keys (q_dedup_cluster/apply/golden_record) and
    q_pagerank iterate their loops; q_rfm/q_gini execute a quantile/
    share intermediate. Measured full-registry classification at
    sf0.001: ~80 s wall on the 32-thread test host — accepted as the
    price of a surface with no hand-curated skip list (a skip list
    would re-open the silent-escape hole this function closed).
    """
    from document_vector_indexer_spark.queries.registry import all_queries

    qs = all_queries()
    names = list(keys) if keys is not None else list(qs)
    visible, blind, errors = set(), set(), {}
    for name in names:
        try:
            df = qs[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            ex = buf.getvalue()
        except Exception as e:
            errors[name] = str(e)[:200]
            continue
        if _scan_ids_by_table(ex) and re.search(r"Join", ex):
            visible.add(name)
        if re.search(r"LogicalRDD|ExistingRDD", ex):
            blind.add(name)
    return visible, blind, errors


def run_audit(spark, sf_dir: str, keys=None):
    """Plan every registry key (or ``keys``) against ``sf_dir`` and
    return ``(flags, errors)``: flags is a list of (key, table,
    description) for unbounded corpus broadcasts; errors maps key ->
    message for keys whose plan could not be built (counted separately
    — an errored key is NOT an audited key, r10 ADVICE)."""
    from document_vector_indexer_spark.queries.registry import all_queries

    qs = all_queries()
    names = list(keys) if keys is not None else list(qs)
    flags, errors = [], {}
    for name in names:
        try:
            df = qs[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            hits = audit_plan(buf.getvalue())
        except Exception as e:  # keep auditing past a broken key
            errors[name] = str(e)[:200]
            continue
        for h in hits:
            m = re.match(r"BroadcastExchange over raw (\w+) scan", h)
            flags.append((name, m.group(1) if m else "?", h))
    return flags, errors


def main() -> int:
    from bench import _ingest_subprocess
    from document_vector_indexer_spark.session import get_spark

    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    src = argv[0] if argv else "/root/repo/.scale/sf1"
    raw = "--raw" in sys.argv
    if raw:
        sf_dir, tmp = src, None
    else:
        tmp = tempfile.mkdtemp(prefix="dvi_bcast_audit_")
        _ingest_subprocess([(src, tmp)])
        sf_dir = tmp
    spark = get_spark(app_name="dvi-broadcast-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        flags, errors = run_audit(spark, sf_dir)
        new = []
        for name, table, desc in flags:
            known = (name, table) in BENIGN
            print(f"FLAG{'' if known else ' [NEW]'} {name}: {desc}")
            if not known:
                new.append((name, table))
        for name, msg in errors.items():
            print(f"ERR {name}: {msg[:100]}", file=sys.stderr)
        from document_vector_indexer_spark.queries.registry import all_queries

        total = len(all_queries())
        print(
            f"audited {total - len(errors)}/{total} keys "
            f"({len(errors)} errored), flagged {len(flags)} "
            f"({len(new)} outside the triaged-benign list)"
        )
        # exit nonzero only on NON-benign flags: the triaged classes are
        # expected on every run, a new corpus-sided build is the defect
        return 1 if new else 0
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
