"""Direct tests for the mining operators (basket_pairs, pagerank,
length_buckets, knn_pq_pinned) — semantic invariants recomputed in
plain Python + plan pins for the scale contracts. Value-exactness vs
DuckDB is covered by test_driver_parity via the registry sweep."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from tests.parity_util import formatted_plan, tree_of

SF = "/root/testdata/sf0.001"


def _tree(spark, df) -> str:
    return tree_of(formatted_plan(spark, df))


# --- basket_pairs -----------------------------------------------------


def test_basket_pairs_match_pure_python(spark):
    """Hand-recompute support/conf/lift on a tiny explicit basket set,
    including a repeated (basket, item) row that collect_set must
    dedup."""
    from document_vector_indexer_spark.operators.mining import basket_pairs

    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "b"), (4, "b"),        # duplicate item within a basket
        (5, "a"),
    ]
    df = spark.createDataFrame(rows, ["bk", "it"])
    got = {
        (r.item_a, r.item_b): (r.support, r.conf_ab_ppm, r.conf_ba_ppm, r.lift_ppm)
        for r in basket_pairs(df, "bk", "it", top=10).collect()
    }
    # baskets: {1:abc, 2:ab, 3:ac, 4:b, 5:a}; n=5; cnt a=4 b=3 c=2
    def rule(s, ca, cb):
        return (s, 10**6 * s // ca, 10**6 * s // cb, 10**6 * 5 * s // (ca * cb))

    assert got == {
        ("a", "b"): rule(2, 4, 3),
        ("a", "c"): rule(2, 4, 2),
        ("b", "c"): rule(1, 3, 2),
    }


def test_basket_lift_exact_at_corpus_scale_counts(spark):
    """The production lift expression must survive counts where the
    old pure-long form overflowed int64 (n_baskets * support past
    ~9.2e12 — first hit at the third measured decade under ANSI mode)
    AND stay value-identical to Python integer floor division."""
    from document_vector_indexer_spark.operators.mining import _LIFT_PPM_EXPR

    cases = [
        (147_236_000, 7_000_000, 10_000_000, 9_000_000),  # ~sf100 shape
        (5, 2, 4, 3),                                     # tiny fixture shape
        (10**9, 10**9, 10**9, 10**9),                     # absurd headroom
    ]
    for nb, sup, ca, cb in cases:
        got = spark.sql(
            f"SELECT {_LIFT_PPM_EXPR} AS lift_ppm FROM (SELECT "
            f"CAST({nb} AS BIGINT) n_baskets, CAST({sup} AS BIGINT) support, "
            f"CAST({ca} AS BIGINT) cnt_a, CAST({cb} AS BIGINT) cnt_b)"
        ).collect()[0].lift_ppm
        assert got == 1_000_000 * nb * sup // (ca * cb), (nb, sup, ca, cb)


def test_gini_expr_exact_at_corpus_scale_counts(spark):
    """The gini ppm expression must survive magnitudes where the old
    pure-long form overflowed (rank-weighted cents sum ~2e19 at the
    third measured decade — q_gini ERR'd there before r14) and stay
    identical to Python big-int arithmetic, including the zero-spend
    guard branch."""
    from document_vector_indexer_spark.operators.mining import _GINI_PPM_EXPR

    cases = [
        # (_s2rx, _minr, n_users, total_cents)
        (15 * 10**20, 1, 10**8, 10**13),  # ~sf100+ overflow shape
        (20, 1, 3, 6),                    # tiny exact shape
        (0, 1, 5, 0),                     # all-zero spend -> guard
        (10**19, 5, 10**7, 10**12),       # non-1 rank offset
    ]
    for s2rx, minr, n, tc in cases:
        got = spark.sql(
            f"SELECT {_GINI_PPM_EXPR} AS gini_ppm FROM (SELECT "
            f"CAST({s2rx} AS DECIMAL(38,0)) _s2rx, CAST({minr} AS BIGINT) _minr, "
            f"CAST({n} AS BIGINT) n_users, CAST({tc} AS BIGINT) total_cents)"
        ).collect()[0].gini_ppm
        # DIV truncates toward zero (the long form's semantic too) —
        # mirror that exactly rather than Python's flooring //
        num = (s2rx - (2 * minr - 2 + n + 1) * tc) * 10**6
        den = max(1, n * tc)
        want = abs(num) // den * (1 if num >= 0 else -1)
        assert got == want, (s2rx, minr, n, tc, got, want)


def test_basket_pairs_bitmask_parity_with_sets_path(spark):
    """impl="bitmask" must reproduce the set path's full rule list
    (support, conf, lift, order) on the tiny hand-checked fixture AND
    on the real brand baskets — the top-50 ordering has a full
    tiebreak, so exact list equality is well-defined."""
    from document_vector_indexer_spark.operators.mining import basket_pairs
    from document_vector_indexer_spark.queries.miningops import _brand_baskets

    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "b"), (4, "b"),
        (5, "a"),
    ]
    df = spark.createDataFrame(rows, ["bk", "it"])
    a = basket_pairs(df, "bk", "it", top=10, impl="sets").collect()
    b = basket_pairs(df, "bk", "it", top=10, impl="bitmask").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    bk = _brand_baskets(spark, SF)
    a = basket_pairs(bk, "basket", "item", top=50, impl="sets").collect()
    b = basket_pairs(bk, "basket", "item", top=50, impl="bitmask").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(b) == 50


def test_basket_pairs_fanout_is_bounded_not_self_join(spark):
    """Candidate pairs come from per-basket HOF combinatorics — the
    plan must contain NO join between two basket-sized frames (the
    only joins are the two broadcast item-count lookups and the 1-row
    basket-count broadcast) and exactly one shuffle of raw baskets."""
    from document_vector_indexer_spark.queries.miningops import basket_rules_q

    tree = _tree(spark, basket_rules_q(spark, SF))
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_basket_rules_nonvacuous(spark):
    """Brand granularity must produce genuinely frequent pairs (the
    whole point vs part granularity) and a spread of lifts."""
    from document_vector_indexer_spark.queries.miningops import basket_rules_q

    rows = basket_rules_q(spark, SF).collect()
    assert len(rows) == 50
    assert rows[0].support >= 10, rows[0]
    lifts = {r.lift_ppm for r in rows}
    assert len(lifts) > 10, "lift collapsed to near-constant"


# --- pagerank ---------------------------------------------------------


def _py_pagerank(edges, nodes, iters, scale):
    out_w = Counter()
    for s, _, w in edges:
        out_w[s] += w
    share = scale // len(nodes)
    rank = {n: share for n in nodes}
    for _ in range(iters):
        inc = Counter()
        for s, d, w in edges:
            inc[d] += rank[s] * w // out_w[s]
        rank = {n: 15 * share // 100 + 85 * inc.get(n, 0) // 100 for n in nodes}
    return rank


def test_pagerank_matches_pure_python_small_graph(spark):
    """Exact integer recurrence on a hand-built graph with a hub, a
    dangling node, and weighted multi-edges."""
    from document_vector_indexer_spark.operators.mining import pagerank

    edges = [(1, 2, 3), (1, 3, 1), (2, 1, 1), (3, 2, 2), (4, 1, 5)]
    nodes = [1, 2, 3, 4, 5]  # 5 isolated, 2->? ... 4 never receives
    e_df = spark.createDataFrame(edges, ["src", "dst", "w"])
    n_df = spark.createDataFrame([(n,) for n in nodes], ["node"])
    got = {
        r.node: r.rank_units
        for r in pagerank(e_df, n_df, iterations=10, scale=10**12).collect()
    }
    assert got == _py_pagerank(edges, nodes, 10, 10**12)


def test_pagerank_registered_query_matches_python(spark):
    """Recompute the full event-graph PageRank in plain Python from the
    same parquet — the end-to-end integer recurrence must agree."""
    from document_vector_indexer_spark.queries.miningops import (
        PR_ITERATIONS,
        PR_SCALE,
        pagerank_q,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    per_user = {}
    for r in ev.collect():
        per_user.setdefault(r.user_id, []).append(r)
    trans = Counter()
    nodes = set()
    for rows in per_user.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        for a, b in zip(rows, rows[1:]):
            trans[(a.k, b.k)] += 1
        nodes.update(r.k for r in rows)
    edges = [(s, d, w) for (s, d), w in trans.items()]
    expect = _py_pagerank(edges, sorted(nodes), PR_ITERATIONS, PR_SCALE)
    got = {r.node: r.rank_units for r in pagerank_q(spark, SF).collect()}
    assert got == expect
    # ranks must actually differentiate (non-vacuous graph)
    assert len(set(got.values())) > 10


def test_pagerank_mass_conservation_bound(spark):
    """Total mass never exceeds the initial scale and only shrinks
    (floor + dangling leaks) — a cheap global sanity invariant."""
    from document_vector_indexer_spark.queries.miningops import pagerank_q

    total = (
        pagerank_q(spark, SF).agg(F.sum("rank_units").cast("long")).first()[0]
    )
    assert 0 < total <= 10**12


# --- length_buckets ---------------------------------------------------


def test_length_buckets_edges_and_utilization(spark):
    """Boundary tokens land in the right pow-2 bucket; utilization ppm
    is the exact integer formula."""
    from document_vector_indexer_spark.operators.mining import length_buckets

    rows = [("s", 16), ("s", 17), ("s", 1), ("s", 8192), ("s", 9001)]
    df = spark.createDataFrame(rows, ["src", "tokens"])
    got = {
        r.bucket_len: (r.n_docs, r.sum_tokens, r.n_batches, r.util_ppm)
        for r in length_buckets(df, "tokens", "src", batch_size=2).collect()
    }
    assert got == {
        16: (2, 17, 1, 10**6 * 17 // (2 * 16)),
        32: (1, 17, 1, 10**6 * 17 // 32),
        8192: (2, 8192 + 9001, 1, 10**6 * (8192 + 9001) // (2 * 8192)),
    }


def test_length_buckets_single_aggregation(spark):
    """Bucket assignment is map-side: exactly one exchange before the
    final order-by (the tiny (source, bucket) agg)."""
    from document_vector_indexer_spark.queries.miningops import length_buckets_q

    tree = _tree(spark, length_buckets_q(spark, SF))
    n_exchanges = tree.count("Exchange")
    assert n_exchanges <= 2, tree  # agg shuffle + presentation sort


# --- knn_pq_pinned ----------------------------------------------------


def test_knn_pq_encodes_codebook_vectors_to_themselves(spark):
    """A vector that IS codeword j must encode to [j]*m (all subspace
    distances 0) and score adc 0 against itself as a query."""
    from document_vector_indexer_spark.operators.similarity import knn_pq_pinned

    dim, m = 8, 4
    codebook = [
        [float(i == j) for i in range(dim)] for j in range(4)
    ]  # 4 one-hot codewords
    vecs = spark.createDataFrame(
        [(j, codebook[j]) for j in range(4)], ["vec_id", "embedding"]
    )
    q = spark.createDataFrame([(0, codebook[0])], ["qid", "embedding"])
    top = knn_pq_pinned(vecs, q, codebook, m=m, k=1).collect()
    assert len(top) == 1 and top[0].id == 0 and top[0].adc_fp == 0


def test_knn_pq_ranking_matches_pure_python(spark):
    """Recompute the full encode + ADC pipeline in plain Python over
    the sf0.001 embeddings — integer-exact agreement required."""
    from document_vector_indexer_spark.queries.vectorops import q_knn_pq

    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    codebook = [emb[j] for j in range(3, 11)]
    m, dsub = 8, 8

    def dq(v, cw, s):
        d = sum(
            (v[s * dsub + i] - cw[s * dsub + i]) ** 2 for i in range(dsub)
        )
        return math.floor(d * 10**6)

    codes = {
        vid: [
            min(range(8), key=lambda j: (dq(v, codebook[j], s), j))
            for s in range(m)
        ]
        for vid, v in emb.items()
        if vid >= 3
    }
    expect = {}
    for qid in (0, 1, 2):
        scored = sorted(
            (
                (sum(dq(emb[qid], codebook[c[s]], s) for s in range(m)), vid)
                for vid, c in codes.items()
            )
        )
        expect[qid] = [(vid, adc) for adc, vid in scored[:5]]
    got = {}
    for r in q_knn_pq(spark, SF).collect():
        got.setdefault(r.qid, []).append((r.rk, r.id, r.adc_fp))
    got = {q: [(i, a) for _, i, a in sorted(v)] for q, v in got.items()}
    assert got == expect


def test_knn_pq_plan_broadcasts_queries_no_corpus_shuffle(spark):
    """The corpus must reach the scorer without shuffling: queries are
    broadcast; the only exchange is the per-query top-k window (and
    the oracle-ordering sort above it)."""
    from document_vector_indexer_spark.queries.vectorops import q_knn_pq

    tree = _tree(spark, q_knn_pq(spark, SF))
    assert "BroadcastExchange" in tree, tree
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree, tree


# --- cooccurrence_triangles -------------------------------------------


def test_triangles_match_pure_python(spark):
    """Recompute the thresholded edge set and triangle enumeration in
    plain Python from the same parquet."""
    from document_vector_indexer_spark.queries.miningops import (
        TRI_MIN_SUPPORT_PPM,
        triangles_q,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet")
    brand = {r.p_partkey: r.p_brand for r in part.collect()}
    baskets = {}
    for r in li.select("l_orderkey", "l_partkey").collect():
        baskets.setdefault(r.l_orderkey, set()).add(brand[r.l_partkey])
    support = Counter()
    for items in baskets.values():
        s = sorted(items)
        for i, a in enumerate(s):
            for b in s[i + 1:]:
                support[(a, b)] += 1
    thr = max(2, len(baskets) * TRI_MIN_SUPPORT_PPM // 10**6)
    edges = {p for p, c in support.items() if c >= thr}
    tri_count = Counter()
    for (a, b) in edges:
        for (b2, c) in edges:
            if b2 == b and (a, c) in edges:
                for n in (a, b, c):
                    tri_count[n] += 1
    got = {r.item: r.n_triangles for r in triangles_q(spark, SF).collect()}
    assert got == dict(tri_count)
    assert len(got) > 5 and max(got.values()) > min(got.values())


def test_triangles_no_cartesian(spark):
    from document_vector_indexer_spark.queries.miningops import triangles_q

    tree = _tree(spark, triangles_q(spark, SF))
    assert "CartesianProduct" not in tree, tree


def test_triangles_bitmask_parity_with_sets_path(spark):
    """impl="bitmask" (r14) must be value-identical to the generic
    set path — on the real fixture AND on constructed corners: the
    vocab == 64 boundary (highest bit used, shiftleft(1L, 63) is the
    sign bit — bit_or/mask decode must still round-trip), duplicate
    (basket, item) rows (bit_or dedups like collect_set), and
    singleton baskets (no pairs)."""
    from document_vector_indexer_spark.operators.mining import (
        cooccurrence_triangles,
    )
    from document_vector_indexer_spark.queries.miningops import (
        TRI_MIN_SUPPORT_PPM,
        _brand_baskets,
    )

    bk = _brand_baskets(spark, SF)
    a = cooccurrence_triangles(
        bk, "basket", "item",
        min_support_frac_ppm=TRI_MIN_SUPPORT_PPM, impl="sets",
    ).collect()
    b = cooccurrence_triangles(
        bk, "basket", "item",
        min_support_frac_ppm=TRI_MIN_SUPPORT_PPM, impl="bitmask",
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0

    # vocab boundary: 64 items i00..i63; every basket holds a sliding
    # window of 5 items so high bits (including bit 63) carry pairs;
    # plus duplicate rows and a singleton basket
    items = [f"i{i:02d}" for i in range(64)]
    rows = []
    for bkid in range(200):
        lo = bkid % 60
        for it in items[lo:lo + 5]:
            rows.append((bkid, it))
            rows.append((bkid, it))  # duplicate (basket, item)
    rows.append((999, "i63"))  # singleton basket
    df = spark.createDataFrame(rows, ["basket", "item"])
    a = cooccurrence_triangles(
        df, "basket", "item", min_support_frac_ppm=5_000, impl="sets"
    ).collect()
    b = cooccurrence_triangles(
        df, "basket", "item", min_support_frac_ppm=5_000, impl="bitmask"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert any(r.item == "i63" for r in b)  # the sign-bit item has triangles


def test_triangles_bitmask_vocab_guard_raises(spark):
    """65 distinct items must raise the in-plan vocab guard, never
    silently wrap a shift past bit 63."""
    import pytest

    from document_vector_indexer_spark.operators.mining import (
        cooccurrence_triangles,
    )

    rows = [(b, f"i{i:02d}") for b in range(10) for i in range(65)]
    df = spark.createDataFrame(rows, ["basket", "item"])
    # USER_RAISED_EXCEPTION, possibly wrapped by AQE stage
    # materialization — match the message, not the wrapper type
    with pytest.raises(Exception, match="vocabulary"):
        cooccurrence_triangles(
            df, "basket", "item", impl="bitmask"
        ).collect()
    with pytest.raises(ValueError, match="impl"):
        cooccurrence_triangles(df, "basket", "item", impl="nope")


# --- linear_attribution -----------------------------------------------


def test_attribution_matches_pure_python(spark):
    """Recompute the whole credit assignment in plain Python — exact
    integer agreement at sf0.001."""
    from document_vector_indexer_spark.queries.miningops import (
        ATTR_LOOKBACK_S,
        attribution_q,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.rint(F.col("value") * 100).cast("long").alias("cents"),
    )
    rows = ev.collect()
    touches = [r for r in rows if r.event_type in ("view", "click")]
    look = ATTR_LOOKBACK_S * 10**6
    agg = {}
    for c in (r for r in rows if r.event_type == "purchase"):
        window = [
            t for t in touches
            if t.user_id == c.user_id and c.us - look <= t.us < c.us
        ]
        if not window:
            groups = {"direct": (1, c.cents, c.cents)}
        else:
            n = len(window)
            by_type = Counter(t.event_type for t in window)
            groups = {
                ty: (1, c.cents, c.cents * k // n) for ty, k in by_type.items()
            }
        for ty, (one, tc, ac) in groups.items():
            a, b, d = agg.get(ty, (0, 0, 0))
            agg[ty] = (a + one, b + tc, d + ac)
    got = {
        r.touch_type: (r.n_conversions, r.touched_cents, r.attributed_cents)
        for r in attribution_q(spark, SF).collect()
    }
    assert got == agg
    # non-vacuous: both touch channels and a direct remainder exist
    assert set(got) == {"view", "click", "direct"}


def test_attribution_never_over_credits(spark):
    """Floor division must never attribute more than the touched value
    in any channel, and direct credit is exact."""
    from document_vector_indexer_spark.queries.miningops import attribution_q

    for r in attribution_q(spark, SF).collect():
        assert 0 <= r.attributed_cents <= r.touched_cents
        if r.touch_type == "direct":
            assert r.attributed_cents == r.touched_cents


# --- chunk_cdc --------------------------------------------------------


def _py_cdc_cuts(words):
    from document_vector_indexer_spark.operators.chunking import (
        CDC_BASE,
        CDC_DIVISOR,
        CDC_MOD,
        CDC_WINDOW,
    )

    def code(w):
        a = 0
        for ch in w:
            a = (a * 131 + ord(ch)) % CDC_MOD
        return a

    cuts = [0]
    for i in range(1, len(words)):
        acc = 0
        for w in words[max(0, i - CDC_WINDOW):i]:
            acc = (acc * CDC_BASE + code(w)) % CDC_MOD
        if acc % CDC_DIVISOR == CDC_DIVISOR - 1:
            cuts.append(i)
    cuts.append(len(words))
    return cuts


def test_chunk_cdc_matches_pure_python(spark):
    """Recompute boundaries + chunk texts in plain Python for a slice
    of the corpus."""
    from document_vector_indexer_spark.operators.chunking import chunk_cdc

    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 50
    )
    expect = {}
    for r in docs.select("doc_id", "text").collect():
        words = r.text.split()
        cuts = _py_cdc_cuts(words)
        expect[r.doc_id] = [
            " ".join(words[a:b]) for a, b in zip(cuts, cuts[1:]) if b > a
        ]
    got = {}
    for r in chunk_cdc(docs).collect():
        got.setdefault(r.doc_id, []).append((r.chunk_pos, r.chunk_text))
        assert r.n_words == len(r.chunk_text.split())
    got = {d: [t for _, t in sorted(v)] for d, v in got.items()}
    assert got == expect


def test_chunk_cdc_is_shift_robust_fixed_chunker_is_not(spark):
    """THE property that motivates CDC: prepend a sentence to a
    document and the chunk set is almost unchanged (only the first
    chunk region differs), while the fixed-size chunker shifts every
    boundary. Measured as surviving-chunk overlap."""
    from document_vector_indexer_spark.operators.chunking import (
        chunk_array,
        chunk_cdc,
    )

    base = spark.read.parquet(f"{SF}/documents.parquet").orderBy(
        F.col("n_chars").desc()
    )
    text = base.first().text
    both = spark.createDataFrame(
        [(0, text), (1, "freshly prepended editorial preamble " + text)],
        ["doc_id", "text"],
    )
    cdc = {}
    for r in chunk_cdc(both).collect():
        cdc.setdefault(r.doc_id, set()).add(r.chunk_text)
    cdc_overlap = len(cdc[0] & cdc[1]) / len(cdc[0])
    fixed = {}
    for r in both.select(
        "doc_id", F.explode(chunk_array(F.col("text"), "fixed", 200, 0)).alias("c")
    ).collect():
        fixed.setdefault(r.doc_id, set()).add(r.c)
    fixed_overlap = len(fixed[0] & fixed[1]) / len(fixed[0])
    # CDC: at most the chunk containing the prepend point changes —
    # every other original chunk survives verbatim.
    assert len(cdc[0] - cdc[1]) <= 1, cdc[0] - cdc[1]
    assert len(cdc[0]) >= 3 and cdc_overlap > fixed_overlap
    # fixed-size: the prepend shifts every window — (almost) nothing
    # survives.
    assert fixed_overlap <= 0.2, fixed_overlap


# --- rfm_segments -----------------------------------------------------


def _ansi_ntile(rows, key, k=4):
    """rows sorted by key; ANSI ntile: first n%k tiles get n//k+1."""
    srt = sorted(rows, key=key)
    n = len(srt)
    base, rem = n // k, n % k
    out, pos = {}, 0
    for tile in range(1, k + 1):
        size = base + (1 if tile <= rem else 0)
        for r in srt[pos:pos + size]:
            out[r[0]] = tile
        pos += size
    return out


def test_rfm_matches_pure_python(spark):
    from document_vector_indexer_spark.queries.miningops import rfm_q

    ev = spark.read.parquet(f"{SF}/events.parquet")
    per_user = {}
    for r in ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.rint(F.col("value") * 100).cast("long").alias("cents"),
    ).collect():
        u = per_user.setdefault(r.user_id, [0, 0, 0])
        u[0] = max(u[0], r.us)
        u[1] += 1
        u[2] += r.cents
    rows = [(uid, v[0], v[1], v[2]) for uid, v in per_user.items()]
    rq = _ansi_ntile(rows, lambda r: (r[1], r[0]))
    fq = _ansi_ntile(rows, lambda r: (r[2], r[0]))
    mq = _ansi_ntile(rows, lambda r: (r[3], r[0]))
    expect = {}
    for uid, _, _, cents in rows:
        seg = rq[uid] * 100 + fq[uid] * 10 + mq[uid]
        n, t = expect.get(seg, (0, 0))
        expect[seg] = (n + 1, t + cents)
    got = {
        r.segment: (r.n_users, r.total_cents)
        for r in rfm_q(spark, SF).collect()
    }
    assert got == expect
    assert len(got) >= 10  # segments genuinely differentiate


# --- ewma_daily -------------------------------------------------------


def test_ewma_matches_pure_python(spark):
    from document_vector_indexer_spark.queries.miningops import ewma_q

    ev = spark.read.parquet(f"{SF}/events.parquet")
    daily = {}
    for r in ev.select(
        "event_type",
        F.unix_date(F.to_date(F.col("ts").cast("timestamp"))).alias("d"),
        F.rint(F.col("value") * 100).cast("long").alias("cents"),
    ).collect():
        s, n = daily.get((r.event_type, r.d), (0, 0))
        daily[(r.event_type, r.d)] = (s + r.cents, n + 1)
    series = {}
    for (ty, d), (s, n) in daily.items():
        series.setdefault(ty, []).append((d, s // n))
    expect = {}
    for ty, xs in series.items():
        xs.sort()
        e = None
        for d, m in xs:
            e = m if e is None else (m + 7 * e) >> 3
            expect[(ty, d)] = (m, e, abs(m - e) * 10**6 // max(e, 1))
    got = {
        (r.event_type, r.day_num): (r.mean_cents, r.ewma_cents, r.dev_ppm)
        for r in ewma_q(spark, SF).collect()
    }
    assert got == expect
    # non-vacuous: the smoother must actually damp (ewma != mean
    # somewhere) and some days deviate noticeably
    assert any(m != e for m, e, _ in got.values())
    assert max(p for _, _, p in got.values()) > 10_000


def test_attribution_touch_join_is_shuffle_pinned(spark):
    """Touches are a constant fraction of the event stream — the
    touch side must never ride a broadcast (Catalyst would at bench
    scale); the join hash-partitions on user_id."""
    from document_vector_indexer_spark.queries.miningops import attribution_q

    tree = _tree(spark, attribution_q(spark, SF))
    assert "BroadcastHashJoin" not in tree and "BroadcastNestedLoopJoin" not in tree, tree
    assert "ShuffledHashJoin" in tree or "SortMergeJoin" in tree, tree


# --- common_paths / gini / ks_drift -----------------------------------


def test_paths_match_pure_python(spark):
    from document_vector_indexer_spark.queries.miningops import paths_q

    ev = spark.read.parquet(f"{SF}/events.parquet")
    per_user = {}
    for r in ev.select("user_id", "ts", "event_id", "event_type").collect():
        per_user.setdefault(r.user_id, []).append(r)
    cnt = Counter()
    for rows in per_user.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        for a, b, c in zip(rows, rows[1:], rows[2:]):
            cnt[f"{a.event_type}>{b.event_type}>{c.event_type}"] += 1
    expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r.path, r.n) for r in paths_q(spark, SF).collect()]
    assert got == expect
    assert len({n for _, n in got}) > 3  # real frequency spread


def test_gini_matches_pure_python(spark):
    from document_vector_indexer_spark.queries.miningops import gini_q

    ev = spark.read.parquet(f"{SF}/events.parquet")
    per = {}
    for r in ev.select(
        "event_type", "user_id",
        F.rint(F.col("value") * 100).cast("long").alias("c"),
    ).collect():
        per[(r.event_type, r.user_id)] = per.get((r.event_type, r.user_id), 0) + r.c
    by_type = {}
    for (ty, uid), x in per.items():
        by_type.setdefault(ty, []).append((x, uid))
    expect = {}
    for ty, xs in by_type.items():
        xs.sort()
        n, sx = len(xs), sum(x for x, _ in xs)
        num = sum((2 * (i + 1) - n - 1) * x for i, (x, _) in enumerate(xs))
        expect[ty] = (n, sx, num * 10**6 // (n * sx))
    got = {
        r.event_type: (r.n_users, r.total_cents, r.gini_ppm)
        for r in gini_q(spark, SF).collect()
    }
    assert got == expect
    assert max(g for _, _, g in got.values()) > 50_000  # non-vacuous spread


def test_ks_matches_pure_python(spark):
    from document_vector_indexer_spark.queries.miningops import ks_q

    ev = spark.read.parquet(f"{SF}/events.parquet")
    rows = ev.select(
        "event_type", F.rint(F.col("value") * 100).cast("long").alias("c")
    ).collect()
    base = sorted(r.c for r in rows if r.event_type == "view")
    expect = {}
    for ty in {r.event_type for r in rows} - {"view"}:
        xs = sorted(r.c for r in rows if r.event_type == ty)
        vals = sorted(set(xs) | set(base))
        nt, nb = len(xs), len(base)
        best = (-1, None)
        ct = cb = 0
        import bisect
        for v in vals:
            ct = bisect.bisect_right(xs, v)
            cb = bisect.bisect_right(base, v)
            num = abs(ct * nb - cb * nt)
            if num > best[0]:
                best = (num, v)
        expect[ty] = (nt, nb, best[0] * 10**6 // (nt * nb), best[1])
    got = {
        r.event_type: (r.n_t, r.n_b, r.ks_ppm, r.at_cents)
        for r in ks_q(spark, SF).collect()
    }
    assert got == expect


# --- containment dedup ------------------------------------------------


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """THE motivating case: a short document fully quoted inside a
    long one scores containment ~1.0 while symmetric Jaccard stays
    low (union dominated by the long side)."""
    from document_vector_indexer_spark.operators.dedup import ngram_jaccard_pairs

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    rows = [(1, "s", short), (2, "s", filler + " " + short + " " + filler)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    p = ngram_jaccard_pairs(df, block_cols=("source",)).collect()
    assert len(p) == 1
    r = p[0]
    contain_short = r.inter * 10**6 // r.n_a
    assert contain_short == 10**6          # short doc fully contained
    assert r.jaccard < 0.05                # Jaccard blind to it


# --- length_weighted_sample -------------------------------------------


def _py_units(s):
    h = 0
    for ch in s:
        h = (h * 131 + ord(ch)) % 2147483647
    for _ in range(3):
        h = h * 48271 % 2147483647
    return h


def test_sample_tokens_matches_pure_python(spark):
    from document_vector_indexer_spark.queries.miningops import (
        SAMPLE_CAP_TOKENS,
        sample_tokens_q,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    expect = {}
    for r in docs.collect():
        tokens = len(r.text.split())
        if _py_units(f"lw:{r.doc_id}") * SAMPLE_CAP_TOKENS < tokens * 2147483647:
            expect[r.doc_id] = (
                tokens, min(10**6, tokens * 10**6 // SAMPLE_CAP_TOKENS)
            )
    got = {
        r.doc_id: (r.tokens, r.p_ppm)
        for r in sample_tokens_q(spark, SF).collect()
    }
    assert got == expect
    # length-weighting must actually bias: kept docs are longer on
    # average than the corpus, and the sample is a strict subset
    n_docs = docs.count()
    assert 0 < len(got) < n_docs
    corpus_mean = sum(len(r.text.split()) for r in docs.collect()) / n_docs
    kept_mean = sum(t for t, _ in got.values()) / len(got)
    # corpus lengths are fairly uniform, so the bias is modest but
    # must be strictly positive (p ∝ length)
    assert kept_mean > corpus_mean * 1.1


def test_pagerank_iteration_plan_has_no_cartesian(spark):
    """With checkpointing off the full 2-iteration lineage is
    explainable: the only nested-loop joins are the 1-row node-count
    broadcasts; rank/edge joins are hash joins on src/dst."""
    from document_vector_indexer_spark.operators.mining import pagerank

    e_df = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (3, 1, 1)], ["src", "dst", "w"]
    )
    n_df = spark.createDataFrame([(n,) for n in (1, 2, 3)], ["node"])
    out = pagerank(e_df, n_df, iterations=2, checkpoint=False)
    tree = _tree(spark, out)
    assert "CartesianProduct" not in tree, tree
    # every iteration's rank<->edge join must be an equi hash join
    assert "HashJoin" in tree or "SortMergeJoin" in tree, tree
    # values are identical with and without the lineage barrier
    a = {r.node: r.rank_units for r in out.collect()}
    b = {
        r.node: r.rank_units
        for r in pagerank(e_df, n_df, iterations=2, checkpoint=True).collect()
    }
    assert a == b


# --- degenerate-input robustness --------------------------------------


def test_mining_ops_survive_empty_inputs(spark):
    """Every mining operator must yield an empty (or teleport-only)
    result on empty input — never crash. At 100 TB a filter that
    matches nothing is routine, not exceptional."""
    from pyspark.sql import types as T

    from document_vector_indexer_spark.operators.mining import (
        basket_pairs,
        common_paths,
        gini_concentration,
        ks_drift,
        length_buckets,
        linear_attribution,
        pagerank,
        rfm_segments,
    )

    empty_events = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
    )
    assert linear_attribution(empty_events, lookback_s=60).count() == 0
    assert rfm_segments(empty_events).count() == 0
    assert gini_concentration(empty_events).count() == 0
    assert ks_drift(empty_events).count() == 0
    assert common_paths(empty_events).count() == 0

    empty_bk = spark.createDataFrame(
        [], T.StructType(
            [T.StructField("bk", T.LongType()), T.StructField("it", T.StringType())]
        )
    )
    assert basket_pairs(empty_bk, "bk", "it").count() == 0

    empty_tok = spark.createDataFrame(
        [], T.StructType(
            [T.StructField("src", T.StringType()), T.StructField("tokens", T.LongType())]
        )
    )
    assert length_buckets(empty_tok, "tokens", "src").count() == 0

    # pagerank: nodes with NO edges keep exactly the damped teleport
    # share (uniform, deterministic)
    e = spark.createDataFrame(
        [], T.StructType(
            [T.StructField("src", T.IntegerType()),
             T.StructField("dst", T.IntegerType()),
             T.StructField("w", T.LongType())]
        )
    )
    n = spark.createDataFrame([(1,), (2,)], ["node"])
    got = {r.node: r.rank_units for r in pagerank(e, n, iterations=3).collect()}
    share = 10**12 // 2
    assert got == {1: 15 * share // 100, 2: 15 * share // 100}


# --- golden_records ---------------------------------------------------


def test_golden_records_survivorship_rules(spark):
    """Field-level survivorship on a planted cluster: canon = longest
    text (tie: lowest id), provenance merged+sorted, singletons pass
    through under their own id."""
    from document_vector_indexer_spark.operators.dedup import golden_records

    dup = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the band plays on through the night for everyone there"
    )
    rows = [
        (1, dup, "web"),
        (2, dup + " extra tail words here", "books"),   # longest -> canon
        (3, dup + " extra tail words here", "web"),      # same len, id 3 > 2
        (10, "a completely different document about gardens and rivers "
             "flowing gently through ancient villages at dawn", "news"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        r.component: (r.canon_id, r.n_members, r.sources)
        for r in golden_records(df, threshold=0.25).collect()
    }
    assert got[1] == (2, 3, "books,web")     # cluster: canon=2 (longest, min id)
    assert got[10] == (10, 1, "news")        # singleton under its own id
    # cluster totals account for every member exactly once
    assert sum(n for _, n, _ in got.values()) == len(rows)


def test_golden_records_nonvacuous_on_corpus(spark):
    """The sf0.001 corpus has planted near-dups: real multi-member
    clusters with merged provenance must appear."""
    from document_vector_indexer_spark.operators.dedup import golden_records

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = golden_records(docs, threshold=0.25).collect()
    multi = [r for r in out if r.n_members > 1]
    assert len(multi) >= 10
    assert any("," in r.sources for r in multi), "no cross-source merge"
    assert sum(r.n_members for r in out) == docs.count()
    for r in multi:
        assert r.canon_chars * r.n_members >= r.total_chars  # canon is max


# --- k_anonymity_profile ----------------------------------------------


def test_kanonymity_matches_pure_python_and_is_mixed(spark):
    """Exact per-nation recompute at sf0.001, where the profile is
    genuinely MIXED (risky and safe groups both exist) — the scale
    where the k<5 logic is actually exercised."""
    from document_vector_indexer_spark.queries.miningops import (
        K_ANON_BAND,
        K_ANON_K,
        kanon_q,
    )

    orders = spark.read.parquet(f"{SF}/orders.parquet").collect()
    cust = {
        r.c_custkey: r.c_nationkey
        for r in spark.read.parquet(f"{SF}/customer.parquet").collect()
    }
    groups = Counter()
    for o in orders:
        nation = cust[o.o_custkey]
        band = int(o.o_totalprice) // K_ANON_BAND
        groups[(nation, band)] += 1
    expect = {}
    for (nation, _), n in groups.items():
        rows, g, rg, rr = expect.get(nation, (0, 0, 0, 0))
        expect[nation] = (
            rows + n, g + 1,
            rg + (1 if n < K_ANON_K else 0),
            rr + (n if n < K_ANON_K else 0),
        )
    expect = {
        na: (*v, v[3] * 10**6 // v[0]) for na, v in expect.items()
    }
    got = {
        r.nation: (r.n_rows, r.n_groups, r.n_risky_groups, r.n_risky_rows,
                   r.risk_ppm)
        for r in kanon_q(spark, SF).collect()
    }
    assert got == expect
    # mixed: some rows risky, some safe, in every nation's ppm spread
    total_risky = sum(v[3] for v in got.values())
    total = sum(v[0] for v in got.values())
    assert 0 < total_risky < total


# --- seeded randomized cross-checks -----------------------------------
# (fixed seeds: deterministic CI, but inputs no hand-written test would
# think of — shapes the pure-data tests above can miss)


def test_pagerank_random_graphs_match_python(spark):
    import random

    from document_vector_indexer_spark.operators.mining import pagerank

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        nodes = list(range(rng.randint(4, 12)))
        edges = [
            (rng.choice(nodes), rng.choice(nodes), rng.randint(1, 9))
            for _ in range(rng.randint(3, 20))
        ]
        # collapse duplicate (src, dst) into summed weights (the
        # operator contract: one weighted edge per pair)
        agg = Counter()
        for s_, d_, w_ in edges:
            agg[(s_, d_)] += w_
        edges = [(s_, d_, w_) for (s_, d_), w_ in agg.items()]
        e_df = spark.createDataFrame(edges, ["src", "dst", "w"])
        n_df = spark.createDataFrame([(n,) for n in nodes], ["node"])
        got = {
            r.node: r.rank_units
            for r in pagerank(
                e_df, n_df, iterations=3, checkpoint=False
            ).collect()
        }
        assert got == _py_pagerank(edges, nodes, 3, 10**12), f"seed {seed}"


def test_basket_pairs_random_baskets_match_bruteforce(spark):
    import random
    from itertools import combinations

    rng = random.Random(41)
    rows = [
        (bk, rng.choice("abcdefg"))
        for bk in range(30)
        for _ in range(rng.randint(1, 6))
    ]
    df = spark.createDataFrame(rows, ["bk", "it"])
    baskets = {}
    for bk, it in rows:
        baskets.setdefault(bk, set()).add(it)
    support = Counter()
    item_cnt = Counter()
    for items in baskets.values():
        for it in items:
            item_cnt[it] += 1
        for a, b in combinations(sorted(items), 2):
            support[(a, b)] += 1
    n = len(baskets)
    expect = {
        (a, b): (
            s,
            10**6 * s // item_cnt[a],
            10**6 * s // item_cnt[b],
            10**6 * n * s // (item_cnt[a] * item_cnt[b]),
        )
        for (a, b), s in support.items()
    }
    from document_vector_indexer_spark.operators.mining import basket_pairs

    got = {
        (r.item_a, r.item_b): (r.support, r.conf_ab_ppm, r.conf_ba_ppm, r.lift_ppm)
        for r in basket_pairs(df, "bk", "it", top=1000).collect()
    }
    assert got == expect


def test_ks_drift_random_samples_match_python(spark):
    import bisect
    import random

    from document_vector_indexer_spark.operators.mining import ks_drift

    rng = random.Random(17)
    rows = []
    eid = 0
    import datetime
    t0 = datetime.datetime(2024, 1, 1)
    for ty, lo, hi in (("view", 1, 50), ("click", 5, 60), ("error", 1, 12)):
        for _ in range(rng.randint(20, 60)):
            rows.append(
                (eid, t0 + datetime.timedelta(seconds=eid), 1, ty,
                 rng.randint(lo, hi) / 100 * 100)  # integral cents
            )
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    base = sorted(round(v * 100) for _, _, _, ty, v in rows if ty == "view")
    expect = {}
    for ty in ("click", "error"):
        xs = sorted(round(v * 100) for _, _, _, t, v in rows if t == ty)
        vals = sorted(set(xs) | set(base))
        nt, nb = len(xs), len(base)
        best = (-1, None)
        for v in vals:
            num = abs(
                bisect.bisect_right(xs, v) * nb - bisect.bisect_right(base, v) * nt
            )
            if num > best[0]:
                best = (num, v)
        expect[ty] = (nt, nb, best[0] * 10**6 // (nt * nb), best[1])
    got = {
        r.event_type: (r.n_t, r.n_b, r.ks_ppm, r.at_cents)
        for r in ks_drift(ev, baseline_type="view").collect()
    }
    assert got == expect


# --- cdc_chunk_pairs --------------------------------------------------


def test_cdc_chunk_pairs_find_edited_copies(spark):
    """THE CDC-dedup case: doc B = doc A with a sentence inserted
    mid-document. Shared CDC chunks survive on both sides of the
    edit, so the pair surfaces with high overlap — while the edit
    shifts every fixed window after the insertion point."""
    import random

    from document_vector_indexer_spark.operators.dedup import cdc_chunk_pairs

    rng = random.Random(5)
    words = [f"tok{rng.randint(0, 400)}" for _ in range(600)]
    a = " ".join(words)
    b = " ".join(words[:300] + ["freshly", "inserted", "editorial", "note"]
                 + words[300:])
    noise = " ".join(f"z{rng.randint(0, 400)}" for _ in range(600))
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, noise)], ["doc_id", "text"]
    )
    pairs = {(r.id_a, r.id_b): r for r in cdc_chunk_pairs(df).collect()}
    assert (1, 2) in pairs, pairs
    r = pairs[(1, 2)]
    assert r.overlap_ppm >= 600_000, r  # most chunks survive the edit
    assert not any(3 in p for p in pairs), "noise doc matched"


def test_dedup_cdc_nonvacuous_on_corpus(spark):
    from document_vector_indexer_spark.queries.textops import dedup_cdc_q

    rows = dedup_cdc_q(spark, SF).collect()
    assert len(rows) >= 5
    assert rows[0].overlap_ppm > 100_000
    for r in rows:
        assert 0 < r.shared <= min(r.n_a, r.n_b)


def test_chunk_cdc_randomized_adversarial_shapes(spark):
    """Seeded random docs in adversarial shapes — unicode words,
    single-word docs, repeated tokens, huge words, plus fixed edge rows
    (whitespace-only, non-BMP) — must match the pure-Python recompute
    exactly and never crash."""
    import random

    from document_vector_indexer_spark.operators.chunking import chunk_cdc

    rng = random.Random(1234)
    alphabet = ["alpha", "β", "γδε", "x", "Ω" * 30, "word"]
    docs = []
    for d in range(12):
        n = rng.choice([0, 1, 2, 5, 40, 200])
        words = [rng.choice(alphabet) + str(rng.randint(0, 9)) for _ in range(n)]
        docs.append((d, " ".join(words)))
    docs += [(90_002, "   \t "), (90_004, "héllo wörld 中文 \U0001F600grin " * 40)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    expect = {}
    for d, text in docs:
        words = text.split()
        cuts = _py_cdc_cuts(words)
        chunks = [
            " ".join(words[a:b]) for a, b in zip(cuts, cuts[1:]) if b > a
        ]
        if chunks:
            expect[d] = chunks
    got = {}
    for r in chunk_cdc(df).collect():
        got.setdefault(r.doc_id, []).append((r.chunk_pos, r.chunk_text))
    got = {d: [t for _, t in sorted(v)] for d, v in got.items()}
    assert got == expect


def test_markov_matches_pure_python_and_rows_sum_to_one(spark):
    from document_vector_indexer_spark.queries.miningops import markov_q

    ev = spark.read.parquet(f"{SF}/events.parquet")
    per_user = {}
    for r in ev.select("user_id", "ts", "event_id", "event_type").collect():
        per_user.setdefault(r.user_id, []).append(r)
    cnt = Counter()
    for rows in per_user.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        for a, b in zip(rows, rows[1:]):
            cnt[(a.event_type, b.event_type)] += 1
    tot = Counter()
    for (c, _), n in cnt.items():
        tot[c] += n
    expect = {
        (c, x): (n, n * 10**6 // tot[c]) for (c, x), n in cnt.items()
    }
    got = {
        (r.cur, r.nxt): (r.n, r.p_ppm) for r in markov_q(spark, SF).collect()
    }
    assert got == expect
    # each row of the matrix sums to ~1 (floor loses < |row| ppm)
    by_cur = Counter()
    for (c, _), (_, p) in got.items():
        by_cur[c] += p
    for c, s in by_cur.items():
        assert 10**6 - 5 <= s <= 10**6, (c, s)


def test_gini_ks_degenerate_inputs_yield_zero_not_null(spark):
    """Zero-guard behavior (round-4 ADVICE): an event type whose spend
    sums to 0 gets gini_ppm = 0 (not NULL); a missing baseline type
    gives ks_ppm = 0 with n_b = 0 (not NULL) — both engines now
    degrade identically instead of NULL-here/error-there."""
    import datetime as dt

    from document_vector_indexer_spark.operators.mining import (
        gini_concentration,
        ks_drift,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), i % 3, ty, v, "{}")
        for i, (ty, v) in enumerate(
            [("free", 0.0)] * 6 + [("paid", 1.25), ("paid", 2.50), ("paid", 0.75)]
        )
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )

    g = {r.event_type: r for r in gini_concentration(ev).collect()}
    assert g["free"].total_cents == 0
    assert g["free"].gini_ppm == 0  # guarded, not NULL
    assert g["paid"].gini_ppm is not None

    # no 'view' rows at all -> every type compares against an empty
    # baseline: n_b = 0 and ks_ppm = 0 on the Spark side
    k = {r.event_type: r for r in ks_drift(ev, baseline_type="view").collect()}
    assert set(k) == {"free", "paid"}
    assert all(r.n_b == 0 and r.ks_ppm == 0 for r in k.values())
