"""Physical-plan quality assertions — the 100 TB guarantees.

Correctness tests prove the right rows come back; these prove the
*plan* is the one that survives a 1000-executor cluster: predicates
reach the parquet scan, projections prune columns, dimension joins
broadcast (no shuffle), top-k never global-sorts, as-of joins never
join, and nothing degenerates into a cartesian product.
"""

from __future__ import annotations

import os
import re

import pytest

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    from document_vector_indexer_spark.queries.registry import all_queries

    df = all_queries()[name].fn(spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_filters_push_to_parquet_scan(spark):
    p = _plan(spark, "q_project_filter")
    assert "GreaterThanOrEqual(l_shipdate" in p, "range predicate not pushed"
    assert "In(l_returnflag" in p, "IN predicate not pushed"
    # column pruning: untouched columns must not reach the scan
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_tax" not in read_schema and "l_partkey" not in read_schema


def test_dimension_joins_broadcast(spark):
    p = _plan(spark, "q_join_broadcast")
    assert p.count("BroadcastHashJoin") >= 2, "dimension chain must broadcast"
    assert "SortMergeJoin" not in p, "no shuffle join for tiny dims"


def test_topk_is_take_ordered(spark):
    p = _plan(spark, "q_topk")
    assert "TakeOrderedAndProject" in p, (
        "global top-k must plan TakeOrderedAndProject (per-partition k + "
        "merge), not a global sort"
    )


def test_agg_has_partial_and_final(spark):
    p = _plan(spark, "q_agg_basic")
    assert p.count("HashAggregate") >= 2, "map-side partial aggregation missing"
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_asof_join_is_join_free(spark):
    """The tag-sort-carry as-of plan must contain no join at all — at
    most one shuffle on user_id, then a window — and must read events
    exactly ONCE (r9: the filter-split projection replaced the union of
    two scans, which also un-blocked the bucketed layout below)."""
    p = _plan(spark, "q_join_asof")
    assert "Join" not in p
    assert "Window" in p
    assert p.count("Union") == 0, "filter-split form must not union"


def test_asof_join_bucketed_layout_is_exchange_free(spark, tmp_path):
    """r8 VERDICT item 4, closed: the union form forced a corpus-sized
    exchange on the ingest layout (UnionExec reports UnknownPartitioning
    even over co-bucketed children); the single-scan filter-split form
    keeps the bucketed scan's HashPartitioning(user_id), so the whole
    asof plan carries ZERO exchanges there."""
    from document_vector_indexer_spark.io import ingest_engine_layout
    from document_vector_indexer_spark.queries.registry import all_queries

    dest = str(tmp_path / "ingested")
    ingest_engine_layout(spark, "/root/testdata/sf0.001", dest)
    q = all_queries()["q_join_asof"].fn
    tree = q(spark, dest)._jdf.queryExecution().executedPlan().toString()
    n_exchanges = sum("Exchange" in l for l in tree.splitlines())
    assert n_exchanges == 0, f"asof re-shuffled the bucketed scan:\n{tree}"
    assert "Bucketed: true" in tree
    # values identical across layouts (lossless rewrite)
    a = sorted(map(tuple, q(spark, dest).collect()))
    b = sorted(map(tuple, q(spark, "/root/testdata/sf0.001").collect()))
    assert a == b


def test_bucketed_events_layout_removes_session_exchange(spark, tmp_path):
    """The r8 layout contract: over an ingested dir, the bucketed
    events.parquet table satisfies ClusteredDistribution(user_id) from
    the SCAN, so the session-window plan must carry NO Exchange — the
    user_id shuffle was paid once at ingest. Over a raw fixture dir the
    same query keeps its one exchange (fallback path)."""
    from document_vector_indexer_spark.io import ingest_engine_layout, load_table
    from document_vector_indexer_spark.queries.registry import all_queries
    from document_vector_indexer_spark.streaming import windows as W

    dest = str(tmp_path / "ingested")
    ingest_engine_layout(spark, "/root/testdata/sf0.001", dest)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    bucketed = (
        W.session_aggregates(load_table(spark, dest, "events"))
        ._jdf.queryExecution()
        .explainString(mode)
    )
    assert "Exchange" not in bucketed, "bucketed scan must elide the shuffle"
    assert "Bucketed: true" in bucketed
    raw = _plan(spark, "q_stream_session")  # raw fixture dir (SF)
    assert "Exchange" in raw, "raw-dir fallback keeps its one exchange"
    # values identical across layouts (lossless rewrite)
    a = sorted(
        map(
            tuple,
            all_queries()["q_stream_session"].fn(spark, dest).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            all_queries()["q_stream_session"]
            .fn(spark, "/root/testdata/sf0.001")
            .collect(),
        )
    )
    assert a == b


def test_blocked_similarity_join_is_hash_join(spark):
    """Embedding near-dup with label blocking must plan an equi hash
    join — never CartesianProduct/BroadcastNestedLoopJoin."""
    p = _plan(spark, "q_dedup_embed")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_range_join_is_equi_on_buckets(spark):
    p = _plan(spark, "q_join_range")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # bucketized range join resolves to an EQUI join on (user, bucket) —
    # merge-pinned since r11 (both sides are raw corpus slices; the
    # raw-layout broadcast audit caught Catalyst broadcasting the
    # projected clicks side at ~sf1, the q_tpch_q4 class; sorts spill,
    # hash builds don't)
    assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p


def test_chunking_needs_no_shuffle(spark):
    """Chunk build is row-local: the only exchange allowed in the full
    chunk-table aggregate is the final group-by's."""
    p = _plan(spark, "q_chunk_fixed")
    # tree section lists each Exchange node once as "+- Exchange" /ends
    tree = p.split("\n\n")[0]
    n_exchanges = sum("Exchange" in l for l in tree.splitlines())
    assert n_exchanges <= 1, f"chunking introduced extra shuffles:\n{tree}"


def test_ngram_tokenizer_behind_exchange(spark):
    """The repartition before tokenization in ngram_jaccard_pairs'
    inline path spreads the gram regex of a one-file, one-row-group
    source over every core (see operators/dedup.py; it was once the
    barrier the lambda gram build needed). Guard its presence."""
    p = _plan(spark, "q_dedup_ngram")
    assert "REPARTITION_BY_COL" in p and "hashpartitioning(doc_id" in p, (
        "the tokenizer materialization barrier disappeared"
    )


def test_queries_rerun_safely(spark):
    """The driver may invoke a query more than once per session —
    the stateful/side-effecting ones must not collide with themselves
    (temp views, memory sinks, staged /tmp paths)."""
    from document_vector_indexer_spark.queries.registry import all_queries

    specs = all_queries()
    for name in ("q_agg_gsets", "q_sink_roundtrip", "q_source_binary",
                 "q_stream_stateful", "q_sql_passthrough"):
        a = specs[name].fn(spark, SF).count()
        b = specs[name].fn(spark, SF).count()
        assert a == b > 0, name


def test_whole_stage_codegen_active(spark):
    """AQE's AdaptiveSparkPlan wrapper hides codegen markers in
    formatted output, so assert with AQE off: the whole scan->agg path
    must sit inside WholeStageCodegen subtrees."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = _plan(spark, "q_agg_basic")
        # formatted mode annotates generated operators with
        # "[codegen id : N]"; the filter and both aggregate stages
        # must all carry one
        hot = [
            l
            for l in p.splitlines()
            if l.lstrip("(0123456789) ").startswith(("Filter", "HashAggregate"))
            and "[" in l
        ]
        assert hot, f"no hot operators found in plan:\n{p[:800]}"
        for line in hot:
            assert "codegen id" in line, f"operator not codegen'd: {line}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


# --- global-window guard (round-2 VERDICT #7) ------------------------------


def _tree_child(plan: str) -> dict:
    """Parse the formatted-explain tree header into {node_id: name of
    its first child}. The first child of a node is the next tree line
    with strictly deeper indentation."""
    header = plan.split("\n\n", 1)[0].splitlines()
    nodes = []
    for ln in header:
        m = re.match(r"^([\s:+|-]*)(\S.*?)\s*\((\d+)\)\s*$", ln)
        if m:
            nodes.append((len(m.group(1)), m.group(2).strip(), int(m.group(3))))
    child: dict = {}
    for i, (ind, _name, nid) in enumerate(nodes):
        if i + 1 < len(nodes) and nodes[i + 1][0] > ind:
            child[nid] = nodes[i + 1][1]
    return child


# Operators that bound their output row count to a constant: a window
# fed directly by one of these is limit-bounded no matter the input
# scale (Catalyst's rank-limit pushdown produces exactly this shape —
# TakeOrderedAndProject(k) under a <=k row_number window).
_BOUNDED_CHILD_NODES = {"TakeOrderedAndProject", "GlobalLimit", "LocalLimit"}


def _global_window_nodes(plan: str) -> list[tuple[str, str]]:
    """Return (input_line, args_line) for every Window node with an
    EMPTY partition spec over an UNbounded child — the single-task plan
    shape that is fatal at scale. In formatted-explain details a
    Window's Arguments holds 3 top-level bracket groups [funcs],
    [partition], [order]; EMPTY specs are omitted, so 2 groups means
    either (no partition, order) — global, flag it — or (partition,
    no order) — a partitioned unbounded-frame window, fine at scale.
    The two are told apart by the sort-direction tokens (``ASC``/
    ``DESC NULLS``) only an order spec carries (caught live by
    q_changepoint's partitioned no-order window, r4). Exact node-name
    match: ``WindowGroupLimit`` (rank-limit pushdown) also starts with
    "Window" but carries a partition spec in a 2-bracket Arguments
    shape, so a substring match would false-positive on it."""
    child = _tree_child(plan)
    out = []
    blocks = plan.split("\n\n")
    for blk in blocks:
        lines = blk.splitlines()
        m = lines and re.match(r"^\((\d+)\) Window$", lines[0].strip())
        if not m:
            continue
        if child.get(int(m.group(1))) in _BOUNDED_CHILD_NODES:
            continue
        input_line = next((l for l in lines if l.startswith("Input")), "")
        args = next((l for l in lines if l.startswith("Arguments")), "")
        body = args[len("Arguments: "):]
        # split top-level bracket groups
        depth, groups, cur = 0, [], []
        for ch in body:
            if ch == "[":
                if depth == 0:
                    cur = []
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
            if depth > 0 and not (depth == 1 and ch == "["):
                cur.append(ch)
        is_global = len(groups) == 1 or (  # funcs only: sum() OVER ()
            len(groups) == 2 and re.search(r"\b(ASC|DESC) NULLS", groups[-1])
        )
        if is_global:
            out.append((input_line, args))
    return out


# Declared exceptions: queries whose empty-partitionBy window runs over
# a frame whose cardinality is bounded by something other than data
# volume. Every entry needs a written justification — the guard exists
# to catch UNdeclared global windows.
_GLOBAL_WINDOW_ALLOWED = {
    "q_win_frame": (
        "rolling 7-day frame over a per-day aggregate: #rows == "
        "#distinct order dates (calendar-bounded, ~2.4k over the TPC-H "
        "7-year span) at ANY raw data scale"
    ),
    "q_basket_rules": (
        "r15: the n_baskets window (partitionBy(lit(1)), folded to an "
        "empty spec by Catalyst) runs over the tagged bit-pair "
        "aggregate, whose cardinality the in-plan vocab <= 64 "
        "raise_error guard bounds at C(64,2) + 2*64 + 1 = 2,145 rows "
        "at ANY corpus size (mining._pair_stats_from_masks)"
    ),
    "q_triangles": (
        "r15: same bounded n_baskets window over the pair aggregate "
        "(<= C(64,2) + 1 rows under the same in-plan vocab guard; "
        "mining._pair_supports_bitmask)"
    ),
}


def _assert_no_global_window(plan: str, name: str) -> None:
    if name in _GLOBAL_WINDOW_ALLOWED:
        return
    for input_line, args in _global_window_nodes(plan):
        # structural allow: ranking.py's cumulative-offsets window runs
        # over the per-bucket counts frame (#rows <= #buckets by
        # construction — driver-sized, provably bounded). Matches both
        # global_rank's `_bkt` and multi_global_rank's `_bkt_<k>`.
        if re.search(r"_bkt(_\d+)?#", input_line) and "_cnt#" in input_line:
            continue
        raise AssertionError(
            f"{name}: empty-partitionBy Window over non-bounded input "
            f"(single-task at scale):\n{input_line}\n{args}"
        )


def test_no_registered_query_uses_global_window(spark):
    """Every registered query must avoid empty-partitionBy windows over
    unbounded inputs — the ranking counts frame is the one allowed
    exception. Catches regressions like the round-1 ntile plan."""
    from document_vector_indexer_spark.queries.registry import all_queries

    for name, spec in all_queries().items():
        try:
            df = spec.fn(spark, SF)
        except Exception:
            continue  # env-gated queries (no backend) are not plans
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(mode)
        _assert_no_global_window(plan, name)


def _fmt_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_cli_and_pipeline_builders_use_no_global_window(
    spark, tmp_path, monkeypatch
):
    """The registered-query sweep above misses the CLI/pipeline code
    paths (round-3 VERDICT: four empty-partitionBy id windows escaped
    it). Build each id-assigning frame the CLI/pipeline constructs and
    run the same guard over its plan."""
    from document_vector_indexer_spark import cli
    from document_vector_indexer_spark.io import load_table
    from document_vector_indexer_spark.plans import pipeline

    docs = load_table(spark, SF, "documents").limit(50)

    # cli._load_input / cmd_curate doc_id fallback
    no_id = docs.drop("doc_id")
    _assert_no_global_window(
        _fmt_plan(spark, cli._ensure_doc_id(no_id, [no_id.columns[0]])),
        "cli._ensure_doc_id",
    )
    # the frames cmd_index writes: a full build, then an incremental
    # append whose ids continue after the existing maximum
    written = []
    write = pipeline.write_chunk_table

    def capture(chunks, path, mode="overwrite"):
        written.append(chunks)
        write(chunks, path, mode)

    monkeypatch.setattr(pipeline, "write_chunk_table", capture)
    src, out = str(tmp_path / "docs.parquet"), str(tmp_path / "chunks")
    args = ["index", src, "--chunk-size", "300", "--overlap", "50",
            "--embedding-dim", "8", "--output", out]
    docs.filter(docs.doc_id % 2 == 0).write.parquet(src)
    cli.main(args)
    docs.write.mode("overwrite").parquet(src)
    cli.main([*args, "--incremental"])
    assert len(written) == 2
    for df, name in zip(written, ["cmd_index", "cmd_index --incremental"]):
        assert "id" in df.columns
        _assert_no_global_window(_fmt_plan(spark, df), name)
    # plans.pipeline.index_documents full chain (local embedder)
    full = pipeline.index_documents(
        docs, strategy="fixed", chunk_size=300, overlap=50,
        embedding_dim=8, embedder="local",
    )
    _assert_no_global_window(
        _fmt_plan(spark, full), "pipeline.index_documents"
    )
    assert "id" in full.columns


def test_global_window_guard_catches_violation(spark):
    """The guard must actually fire on a deliberately-bad plan."""
    from pyspark.sql import Window

    from document_vector_indexer_spark.io import load_table

    bad = load_table(spark, SF, "lineitem").withColumn(
        "rn", __import__("pyspark").sql.functions.row_number().over(
            Window.orderBy("l_orderkey", "l_linenumber")
        )
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = bad._jdf.queryExecution().explainString(mode)
    with pytest.raises(AssertionError, match="global|single-task"):
        _assert_no_global_window(plan, "deliberate_violation")


def _tree(p: str) -> str:
    """The operator-tree portion of a formatted plan — shared parser in
    tests/parity_util.tree_of (also used by test_searchops)."""
    from tests.parity_util import tree_of

    return tree_of(p)


def test_tpch_q17_join_back_never_broadcasts_per_part(spark):
    """Q17's per-part aggregate is one row per qualifying part —
    unbounded at scale — so the join-back must be a shuffle join
    building from per_part, never a BroadcastHashJoin (round-3 ADVICE:
    a broadcast build ships an unbounded frame AND recomputes its
    lineitem subplan inside the build). The two LeftSemi dim joins on
    the filtered part table stay broadcast — those are bounded."""
    tree = _tree(_plan(spark, "q_tpch_q17"))
    assert "ShuffledHashJoin Inner" in tree, f"join-back not shuffle-pinned:\n{tree}"
    assert "BroadcastHashJoin Inner" not in tree, (
        f"per_part aggregate broadcast into the join-back:\n{tree}"
    )


def test_dup_substrings_and_collocations_never_broadcast_vocab(spark):
    """Both corpus ops join a corpus-derived frame (per-hash doc
    counts / unigram vocabulary) back onto corpus-sized rows. At test
    scale Catalyst would happily broadcast those (tiny size estimate);
    at 100 TB a web corpus's hash/vocab tables need not fit an
    executor, so broadcast is banned for both. The pinned join KIND
    differs by the build side's growth law (late r11, measured):
    collocations' unigram vocabulary is sublinear in the corpus
    (Heaps' law), so its per-partition hash build stays bounded —
    shuffle_hash; substrings' stride-1 gram table is LINEAR in corpus
    tokens and its hash build died at ~sf100 with "Can't acquire
    memory to build hash relation" (the q_tpch_q21 class — hash
    builds can't spill, sorts can) — MERGE."""
    expect = {
        "q_dedup_substrings": "SortMergeJoin",
        "q_collocations": "ShuffledHashJoin",
    }
    for name, join_kind in expect.items():
        tree = _tree(_plan(spark, name))
        assert join_kind in tree, f"{name}: vocab join not pinned:\n{tree}"
        assert "BroadcastHashJoin" not in tree, (
            f"{name}: corpus-derived frame broadcast into a join:\n{tree}"
        )
        assert "CartesianProduct" not in tree, f"{name}:\n{tree}"


def test_semantic_dedup_single_narrow_shuffle(spark):
    """The SemDeDup cell id must be map-side column math feeding ONE
    partial+final aggregation — if the projection stops folding into
    the scan stage or a join sneaks in, the exact-dedup cost profile
    is gone."""
    p = _plan(spark, "q_dedup_semantic")
    tree = _tree(p)
    n_exchanges = sum("Exchange" in l for l in tree.splitlines())
    # one for the min/count agg, one for the final orderBy presentation
    assert n_exchanges <= 2, f"semantic dedup grew extra shuffles:\n{tree}"
    assert "Join" not in tree
    assert tree.count("HashAggregate") >= 2, "map-side partial agg missing"


def test_minhash_pairs_read_signatures_once(spark):
    """Each doc's MinHash signature rides through its band buckets: the
    signature kernel (the one MapInPandas) runs once, no join
    re-attaches signatures to pairs, and no cached copy feeds them."""
    tree = _tree(_plan(spark, "q_dedup_minhash"))
    assert tree.count("MapInPandas") == 1, tree
    assert "Join" not in tree, tree
    assert "InMemoryTableScan" not in tree, tree


def test_unigram_logprob_weight_join_not_broadcast(spark):
    """The token->weight lookup must stay a shuffle join on the word
    key: a broadcast build would (a) assume the vocabulary fits one
    executor — false at web scale — and (b) re-execute the vocab
    aggregation subplan inside each broadcast build."""
    p = _plan(spark, "q_unigram_logprob")
    tree = _tree(p)
    assert "SortMergeJoin" in tree or "ShuffledHashJoin" in tree, (
        f"weights join is not a shuffle join:\n{tree}"
    )
    # the only broadcast is the 1-row total; the word-keyed weights
    # frame must never ride a BroadcastExchange
    assert tree.count("BroadcastExchange") <= 1, (
        f"vocabulary weights were broadcast:\n{tree}"
    )


def test_decontaminate_kernel_single_pass_shape(spark):
    """q_decontaminate's r13 shape: gram identity is the int64
    char-fold hash from the vectorized prefix-hash kernel — no gram
    STRING is ever assembled (the r5 window-lag shape retired with the
    strings), and the tail is SINGLE-PASS: exactly two MapInPandas
    kernels (train + bench — a third would mean the pre-r13 double
    reference to the train frame is back, which ReuseExchange cannot
    merge across Python nodes), the only broadcast is the bench hash
    set (bigint, tiny), no join other than that probe, and every
    remaining exchange carries narrow (bigint) rows."""
    p = _plan(spark, "q_decontaminate")
    assert "lag(_w" not in p, "string-gram window is back?"
    tree = _tree(p)
    assert tree.count("MapInPandas") == 2, (
        f"train kernel must run exactly once:\n{tree}"
    )
    assert tree.count("BroadcastExchange") == 1, tree
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree, (
        f"single-pass tail regressed to a corpus-side join:\n{tree}"
    )
    # the one broadcast is the bench HASH set — bigint, never strings
    import re

    modes = re.findall(r"HashedRelationBroadcastMode\(List\(([^)]*)\)", p)
    assert len(modes) == 1 and "bigint" in modes[0] and "string" not in modes[0], modes
    ens = [
        l
        for l in p.splitlines()
        if "ENSURE_REQUIREMENTS" in l and "hashpartitioning" in l
    ]
    assert ens and all("_gh" in l or "doc_id" in l for l in ens), ens


def test_tpch_q4_semi_build_never_broadcasts_lineitem(spark):
    """r10 (the one super-linear key in the one-decade sweep): left
    unhinted, Catalyst broadcast Q4's projected l_orderkey column — a
    build side that grows with the corpus (3.6 M keys at ~sf1, ~1.9 s
    of driver hash-relation build; unbroadcastable at 100 TB). The
    semi-join is MERGE-pinned (not shuffle_hash: forced hash builds
    cannot spill and died at ~sf10 in q_tpch_q21 — sorts can); a
    BroadcastHashJoin LeftSemi here means the pin regressed."""
    tree = _tree(_plan(spark, "q_tpch_q4"))
    assert "SortMergeJoin LeftSemi" in tree, f"semi-join not merge-pinned:\n{tree}"
    assert "BroadcastHashJoin LeftSemi" not in tree, (
        f"corpus-sized lineitem keys broadcast into the semi-join:\n{tree}"
    )


def test_tpch_q21_exists_builds_shuffle_pinned(spark):
    """Q21's EXISTS / NOT EXISTS sides are raw lineitem projections —
    the same q_tpch_q4 class (r10 broadcast audit): post-projection
    size estimates let Catalyst broadcast 6 M-row builds at ~sf1.
    Both are MERGE-pinned (shuffle beats broadcast 3.73 -> 2.28 s at
    ~sf1; the first shuffle_hash pin then died at ~sf10 — "Can't
    acquire ... to build hash relation": forced hash builds cannot
    spill, sorts can); the orders-"F" probe side and the supplier dim
    may still broadcast."""
    tree = _tree(_plan(spark, "q_tpch_q21"))
    assert "SortMergeJoin LeftSemi" in tree, f"EXISTS side not pinned:\n{tree}"
    assert "SortMergeJoin LeftAnti" in tree, f"NOT EXISTS side not pinned:\n{tree}"
    for bad in ("BroadcastHashJoin LeftSemi", "BroadcastHashJoin LeftAnti"):
        assert bad not in tree, f"lineitem build broadcast ({bad}):\n{tree}"


def test_embedding_near_dup_candidate_join_shuffle_pinned(spark):
    """The sign-LSH candidate self-join joins a corpus-derived frame
    to itself — there is no broadcastable side at any scale, and the
    r10 audit caught Catalyst broadcasting it at ~sf1 from the
    post-projection size estimate. MERGE-pinned (hash builds cannot
    spill; the candidate side grows with the corpus)."""
    tree = _tree(_plan(spark, "q_dedup_embed"))
    assert "SortMergeJoin Inner" in tree, f"candidate join not pinned:\n{tree}"
    assert "BroadcastHashJoin" not in tree, (
        f"corpus-derived blocks frame broadcast:\n{tree}"
    )


@pytest.mark.parametrize(
    "name, join",
    [
        ("q_knn_brute", "BroadcastNestedLoopJoin BuildRight"),
        ("q_knn_ivf", "BroadcastHashJoin"),
        ("q_knn_lsh_pinned", "BroadcastHashJoin"),
    ],
)
def test_knn_tiers_broadcast_queries_and_rank_once(spark, name, join):
    """The kNN tiers share one scorer and one top-k helper
    (operators/similarity): the QUERY side is the broadcast build of
    the candidate join, the corpus streams and is never broadcast, and
    exactly one row_number Window feeds the ``rk <= k`` filter."""
    from document_vector_indexer_spark.queries.registry import all_queries

    sf0001 = os.path.join(os.path.dirname(SF), "sf0.001")
    df = all_queries()[name].fn(spark, sf0001)
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()

    def indent(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-|"))

    def node(line: str) -> str:
        return line.lstrip(" :+-|")

    (j,) = [i for i, l in enumerate(lines) if node(l).startswith(join.split()[0])]
    assert node(lines[j]).startswith(join), lines[j]
    if "BuildRight" not in join:
        assert ", BuildRight," in lines[j], lines[j]
    (b,) = [i for i, l in enumerate(lines) if node(l).startswith("BroadcastExchange")]
    build = [lines[b]]
    for l in lines[b + 1 :]:
        if indent(l) <= indent(lines[b]):
            break
        build.append(l)
    build = "\n".join(build)
    assert " AS q_vec#" in build, f"query side is not the broadcast build:\n{build}"
    assert "_n_v" not in build, f"corpus side was broadcast:\n{build}"
    windows = [i for i, l in enumerate(lines) if node(l).startswith("Window [")]
    assert len(windows) == 1, "\n".join(lines)
    (w,) = windows
    assert re.match(r"Filter \(_we\d+#\d+ <= \d+\)", node(lines[w - 1])), lines[w - 1]
