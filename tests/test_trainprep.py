"""Direct tests for operators/trainprep.py and
operators/dedup.connected_components (round-3 additions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_vector_indexer_spark.operators.dedup import connected_components
from document_vector_indexer_spark.operators.trainprep import (
    hash_split,
    pack_sequences,
    portable_hash_fraction,
    repetition_ratio,
)

SF = "/root/testdata/sf0.001"


# --- connected components --------------------------------------------------


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_cc_chain_converges_to_min_label(spark):
    # 1-2-3-4-5 chain: diameter 4, needs several propagation rounds
    comp = connected_components(_pairs(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]))
    got = {r.id: r.component for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_cc_multiple_components_and_cliques(spark):
    edges = [(10, 11), (11, 12), (10, 12),  # clique
             (20, 25),                       # pair
             (30, 31), (31, 32)]             # chain
    got = {r.id: r.component for r in connected_components(_pairs(spark, edges)).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 25: 20, 30: 30, 31: 30, 32: 30}


def test_cc_pairs_only_graph_takes_one_round(spark):
    """The labels start at the first neighbour-min round's output, so a
    graph of disjoint pairs is already at its fixpoint: one round finds
    no change (the identity start needed two)."""
    edges = [(1, 2), (4, 3), (7, 9)]
    comp = connected_components(_pairs(spark, edges), max_iterations=1)
    got = {r.id: r.component for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 7: 7, 9: 7}


def test_cc_is_order_insensitive(spark):
    edges = [(5, 1), (4, 5), (2, 4)]
    reversed_edges = [(b, a) if a > b else (a, b) for a, b in edges[::-1]]
    a = {(r.id, r.component) for r in connected_components(_pairs(spark, edges)).collect()}
    b = {(r.id, r.component)
         for r in connected_components(_pairs(spark, reversed_edges)).collect()}
    assert a == b


# --- hash split ------------------------------------------------------------


def test_hash_split_is_stable_and_partition_independent(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    one = {r.doc_id: r.split for r in hash_split(df).collect()}
    again = {r.doc_id: r.split
             for r in hash_split(df.repartition(13, "doc_id")).collect()}
    assert one == again  # pure function of id, not of layout


def test_hash_split_proportions_and_salt_decorrelation(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    counts = {r.split: r.n for r in
              hash_split(df).groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert 0.75 <= counts["train"] / 2000 <= 0.85
    assert 0.06 <= counts["val"] / 2000 <= 0.14
    assert 0.06 <= counts["test"] / 2000 <= 0.14
    # a different salt must reassign a nontrivial fraction
    a = {r.doc_id: r.split for r in hash_split(df, salt="a").collect()}
    b = {r.doc_id: r.split for r in hash_split(df, salt="b").collect()}
    moved = sum(1 for k in a if a[k] != b[k])
    assert moved > 100


def test_hash_fraction_range(spark):
    df = spark.range(500).select(
        portable_hash_fraction(F.col("id"), salt="t").alias("f")
    )
    mn, mx = df.agg(F.min("f"), F.max("f")).first()
    assert 0.0 <= mn and mx < 1.0


# --- sequence packing ------------------------------------------------------


def test_pack_sequences_offsets_and_straddles(spark):
    rows = [("s", 1, 100), ("s", 2, 300), ("s", 3, 200), ("s", 4, 600), ("s", 5, 50)]
    df = spark.createDataFrame(rows, "source string, doc_id long, tok long")
    out = {r.doc_id: (r.pack_id, r.pack_offset, r.straddles)
           for r in pack_sequences(df, 512, "tok").collect()}
    # cum_before: 0, 100, 400, 600, 1200
    assert out[1] == ("s:0", 0, False)
    assert out[2] == ("s:0", 100, False)
    assert out[3] == ("s:0", 400, True)     # 400+200 crosses 512
    assert out[4] == ("s:1", 88, True)      # 600%512=88, +600 crosses
    assert out[5] == ("s:2", 176, False)    # 1200%512=176
    # conservation: total tokens unchanged by assignment
    assert sum(r[-1] for r in rows) == 1250


def test_pack_sequences_streams_are_independent(spark):
    rows = [("a", 1, 500), ("b", 1, 500), ("a", 2, 500), ("b", 2, 500)]
    df = spark.createDataFrame(rows, "source string, doc_id long, tok long")
    out = {(r.source, r.doc_id): r.pack_id
           for r in pack_sequences(df, 512, "tok").collect()}
    assert out[("a", 1)] == "a:0" and out[("b", 1)] == "b:0"
    assert out[("a", 2)] == "a:0" and out[("b", 2)] == "b:0"  # 500 < 512


# --- repetition ratio ------------------------------------------------------


def test_repetition_ratio_known_values(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"),   # bigrams: ab ba ab ba ab -> 2 distinct / 5
         (2, "all words totally different here"),
         (3, "one"),          # no bigrams -> NULL
         (4, "x x x x")],     # bigrams: xx xx xx -> 1/3
        "doc_id long, text string",
    )
    got = {r.doc_id: r.r for r in df.select(
        "doc_id", F.round(repetition_ratio("text"), 6).alias("r")).collect()}
    assert got[1] == pytest.approx(1 - 2 / 5)
    assert got[2] == 0.0
    assert got[3] is None
    assert got[4] == pytest.approx(1 - 1 / 3)


# --- contamination ---------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_finds_planted_overlap(spark):
    from document_vector_indexer_spark.operators.trainprep import contamination_hits

    train = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # contains the bench 5-gram
            (2, "totally unrelated words here only now"),
            (3, "alpha beta gamma delta epsilon"),  # exactly the bench 5-gram
        ],
    )
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon")])
    got = {
        r.doc_id: (r.n_contaminated, r.n_grams)
        for r in contamination_hits(train, bench, n=5).collect()
    }
    # doc 1 has 2 distinct 5-grams, 1 contaminated; doc 3 has 1 of 1
    assert got == {1: (1, 2), 3: (1, 1)}


def test_contamination_duplicate_ids_keep_per_row_grams(spark):
    """Round-5 ADVICE: gram assembly must never merge two rows that
    share an id — duplicate ids used to interleave tokens at equal
    positions and emit grams belonging to NEITHER row. Grams are
    per-row; duplicate-id rows contribute the union of their own
    grams."""
    from document_vector_indexer_spark.operators.trainprep import (
        _gram_hash_rows,
        contamination_hits,
    )

    def fold(s):
        a = 0
        for ch in s:
            a = (a * 131 + ord(ch)) % 2147483647
        return a

    dup = _docs(
        spark,
        [
            (1, "alpha beta gamma"),
            (1, "delta epsilon zeta"),
        ],
    )
    grams = {r._gh for r in _gram_hash_rows(dup, "text", "doc_id", 3).collect()}
    # ONLY each row's own trigram — never a cross-row interleaving like
    # "beta epsilon gamma" (the verified pre-fix corruption)
    assert grams == {fold("alpha beta gamma"), fold("delta epsilon zeta")}

    bench = _docs(spark, [(100, "delta epsilon zeta")])
    got = {
        r.doc_id: (r.n_contaminated, r.n_grams)
        for r in contamination_hits(dup, bench, n=3).collect()
    }
    assert got == {1: (1, 2)}


def test_contamination_short_docs_have_no_grams(spark):
    from document_vector_indexer_spark.operators.trainprep import contamination_hits

    train = _docs(spark, [(1, "too short"), (2, "a b c d")])
    bench = _docs(spark, [(100, "too short"), (101, "a b c d")])
    assert contamination_hits(train, bench, n=5).count() == 0


def _py_contamination_by_string(train_rows, bench_rows, n):
    """Reference for contamination_hits under EXACT gram identity: per
    train id, its distinct word n-gram strings (``str.split()`` tokens,
    the whitespace set ``word_tokens`` splits on; grams never cross two
    rows that share an id) checked against the bench's gram set.
    Returns {id: (n_contaminated, n_grams)} for flagged ids only."""

    def grams(text):
        w = (text or "").split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    bench = set().union(*(grams(t) for _id, t in bench_rows))
    per_id = {}
    for doc_id, text in train_rows:
        per_id.setdefault(doc_id, set()).update(grams(text))
    out = {}
    for doc_id, gs in per_id.items():
        hit = len(gs & bench)
        if hit:
            out[doc_id] = (hit, len(gs))
    return out


def test_contamination_hash_impl_matches_string_impl(spark):
    """The operator identifies grams by their kernel-computed int64
    char-fold hash on both sides (no gram string is ever built). Hash
    identity == string identity wherever the vocabulary is
    collision-free under M31, which this fixture is — so the operator
    must agree row-for-row with Python gram STRING sets on the real
    corpus split. (Duplicate-id inputs:
    test_contamination_duplicate_ids_keep_per_row_grams.)"""
    from document_vector_indexer_spark.operators.trainprep import (
        contamination_hits,
        hash_split,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assigned = hash_split(docs, id_col="doc_id", salt="split")
    train = assigned.filter(F.col("split") == "train")
    test = assigned.filter(F.col("split") == "test")
    train_rows = [(r.doc_id, r.text) for r in train.collect()]
    test_rows = [(r.doc_id, r.text) for r in test.collect()]
    for n in (5, 2):
        got = {
            r.doc_id: (r.n_contaminated, r.n_grams)
            for r in contamination_hits(train, test, n=n).collect()
        }
        want = _py_contamination_by_string(train_rows, test_rows, n)
        assert got == want and len(got) > 0, n


def test_contamination_hash_semantics_under_planted_collision(spark):
    """The operator's DECLARED semantics (same trade as
    dup_substring_stats): gram identity is M31 char-fold identity, so
    a fold collision counts as contamination where string identity
    would not. Pin it with a CONSTRUCTED collision — the fold of a
    single char c is just ord(c), so the one-char word
    chr(fold("ab")) = chr(12805) collides with the 1-gram "ab" — and
    assert the operator and Python gram strings diverge exactly there
    and nowhere else. This is documentation-as-test: if the
    representation ever silently changes (different base/modulus,
    salted hash, exact strings), this breaks first.
    """
    from document_vector_indexer_spark.operators.trainprep import (
        contamination_hits,
    )

    collider = chr((ord("a") * 131 + ord("b")) % 2147483647)
    train_rows = [(1, "ab"), (2, "unrelated")]
    bench_rows = [(100, collider)]
    by_hash = {
        r.doc_id: (r.n_contaminated, r.n_grams)
        for r in contamination_hits(
            _docs(spark, train_rows), _docs(spark, bench_rows), n=1
        ).collect()
    }
    assert by_hash == {1: (1, 1)}   # collision flags doc 1 under hash identity
    # string identity sees no overlap
    assert _py_contamination_by_string(train_rows, bench_rows, 1) == {}


# --- source mixing ---------------------------------------------------------


def test_mix_sources_hits_target_mixture(spark):
    from document_vector_indexer_spark.operators.trainprep import mix_sources

    rows = []
    # 3 sources with very different volumes: 600 / 300 / 100 docs
    for i in range(600):
        rows.append((i, "web"))
    for i in range(300):
        rows.append((600 + i, "books"))
    for i in range(100):
        rows.append((900 + i, "code"))
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # target equal thirds: the binding source is code (100 docs) -> T=300
    wt = F.lit(1.0)
    kept = mix_sources(df, wt).groupBy("source").count().collect()
    got = {r.source: r["count"] for r in kept}
    # each source should keep ~100 docs (hash noise ~ +/- 3 sigma ~ 30)
    for src in ("web", "books", "code"):
        assert 70 <= got[src] <= 130, got
    assert got["code"] == 100  # rate 1.0: binding source keeps everything


def test_mix_sources_membership_stable_under_growth(spark):
    from document_vector_indexer_spark.operators.trainprep import mix_sources

    small = spark.createDataFrame(
        [(i, "a") for i in range(200)] + [(1000 + i, "b") for i in range(100)],
        "doc_id long, source string",
    )
    # grow source b only; a's rate (and the hash) is unchanged -> a's kept
    # set can only shrink-or-keep via rate, never reshuffle membership
    grown = spark.createDataFrame(
        [(i, "a") for i in range(200)] + [(1000 + i, "b") for i in range(200)],
        "doc_id long, source string",
    )
    wt = F.lit(1.0)
    kept_small = {r.doc_id for r in mix_sources(small, wt).select("doc_id").collect()}
    kept_grown = {r.doc_id for r in mix_sources(grown, wt).select("doc_id").collect()}
    # a docs kept in the grown corpus (rate rose from 0.5 to 1.0) must be a
    # superset of those kept before: per-doc fractions never move
    a_small = {d for d in kept_small if d < 1000}
    a_grown = {d for d in kept_grown if d < 1000}
    assert a_small <= a_grown


# --- int8 quantization -----------------------------------------------------


def test_quantize_int8_roundtrip_error_bounded(spark):
    from document_vector_indexer_spark.functions import vector as V

    df = spark.createDataFrame(
        [(1, [0.3, -0.1, 0.05, -0.29]), (2, [1.0, 0.5, -1.0, 0.001])],
        "vec_id long, v array<double>",
    )
    vs = df.select("vec_id", "v", V.quant_scale_int8(F.col("v")).alias("scale"))
    q = vs.select(
        "vec_id", "v", "scale", V.quantize_int8(F.col("v"), F.col("scale")).alias("qv")
    )
    rows = q.collect()
    for r in rows:
        assert all(-127 <= x <= 127 for x in r.qv)
        # reconstruction error bound: half a quantization step
        for orig, code in zip(r.v, r.qv):
            assert abs(code * r.scale - orig) <= r.scale / 2 + 1e-12
        # the max-abs element saturates by construction
        assert max(abs(x) for x in r.qv) == 127


def test_quantize_int8_zero_vector(spark):
    from document_vector_indexer_spark.functions import vector as V

    df = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, v array<double>")
    vs = df.select("vec_id", "v", V.quant_scale_int8(F.col("v")).alias("scale"))
    r = vs.select(
        V.quantize_int8(F.col("v"), F.col("scale")).alias("qv")
    ).collect()[0]
    assert r.qv == [0, 0, 0]


# --- vocabulary ------------------------------------------------------------


def test_vocab_topk_orders_and_counts(spark):
    from document_vector_indexer_spark.operators.textanalysis import vocab_topk

    df = _docs(
        spark,
        [
            (1, "the cat sat"),
            (2, "the cat ran ran"),
            (3, "the dog"),
        ],
    )
    got = [(r.word, r.n_docs, r.n_occur) for r in vocab_topk(df, k=3).collect()]
    # 'the' in 3 docs; 'cat' in 2; 'ran' 1 doc but 2 occurrences beats
    # 'dog'/'sat' (1,1) on the tiebreak
    assert got == [("the", 3, 3), ("cat", 2, 2), ("ran", 1, 2)]


def test_contamination_bench_side_needs_no_id_column(spark):
    """Review finding (r5): the benchmark side is often a bare eval
    set with only a text column — contamination_hits must accept it
    (a synthetic row id is made for the gram window)."""
    from document_vector_indexer_spark.operators.trainprep import (
        contamination_hits,
    )

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("alpha beta gamma delta epsilon",)], "text string"
    )
    got = {r.doc_id: (r.n_contaminated, r.n_grams)
           for r in contamination_hits(train, bench, n=5).collect()}
    assert got == {1: (1, 2)}


def test_contamination_broadcast_guard_regimes_value_identical(spark):
    """r15: the bench-side broadcast pin has a size guard — past
    ``bench_broadcast_max_bytes`` (estimated bench INPUT bytes, from
    Catalyst stats, no job) the probe becomes a MERGE-pinned hash join
    (sort-merge spills where a forced broadcast build OOMs — the
    q_tpch_q21 lesson). Both regimes must return identical values, and
    each must plan the join it promises."""
    from document_vector_indexer_spark.operators.trainprep import (
        contamination_hits,
    )

    train = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally unrelated words here only now"),
            (3, "alpha beta gamma delta epsilon"),
        ],
    )
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon")])

    bcast = contamination_hits(train, bench, n=5, bench_broadcast=True)
    merge = contamination_hits(train, bench, n=5, bench_broadcast=False)
    assert sorted(map(tuple, bcast.collect())) == sorted(
        map(tuple, merge.collect())
    ) == [(1, 1, 2), (3, 1, 1)]

    def _plan(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    p_b = _plan(bcast)
    p_m = _plan(merge)
    assert "BroadcastHashJoin" in p_b and "SortMergeJoin" not in p_b
    assert "SortMergeJoin" in p_m and "BroadcastHashJoin" not in p_m

    # default (None) reads Catalyst's size estimate of the bench input.
    # An ExistingRDD (createDataFrame) has NO stats -> defaultSizeInBytes
    # (huge) -> the guard conservatively picks the merge path; a
    # parquet-backed bench has a real file-size estimate -> KBs ->
    # broadcast. The declared q_decontaminate bench side is parquet.
    assert "SortMergeJoin" in _plan(contamination_hits(train, bench, n=5))
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        bench.write.mode("overwrite").parquet(td + "/bench")
        bench_pq = spark.read.parquet(td + "/bench")
        assert "BroadcastHashJoin" in _plan(
            contamination_hits(train, bench_pq, n=5)
        )
        # and a 1-byte threshold forces merge even with tiny real stats
        assert "SortMergeJoin" in _plan(
            contamination_hits(
                train, bench_pq, n=5, bench_broadcast_max_bytes=1
            )
        )
