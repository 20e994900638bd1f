"""Scale-path correctness: skew helpers equal their plain forms, ANN
tiers hit recall targets against the exact baseline, the embedding
operator honors the reference retry contract, and partition pruning
reaches partitioned sinks."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --- skew helpers ----------------------------------------------------------


def test_salted_join_equals_plain_join(spark):
    from document_vector_indexer_spark.io import load_table

    ev = load_table(spark, SF, "events").select("event_id", "user_id")
    # synthesize a hot key: half the rows collapse onto user 0
    skewed = ev.withColumn(
        "user_id", F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id"))
    )
    dim = skewed.select("user_id").distinct().withColumn(
        "user_name", F.concat(F.lit("u"), F.col("user_id"))
    )
    from document_vector_indexer_spark.operators.skew import salted_join

    plain = skewed.join(dim, ["user_id"]).select("event_id", "user_name")
    salted = salted_join(skewed, dim, on=["user_id"], stable_col="event_id").select(
        "event_id", "user_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_two_phase_agg_equals_plain_agg(spark):
    from document_vector_indexer_spark.io import load_table

    ev = load_table(spark, SF, "events")
    from document_vector_indexer_spark.operators.skew import two_phase_agg

    plain = {
        (r.event_type,): (r.n, r.total)
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(F.rint(F.col("value") * 100).cast("long")).alias("total"))
        .collect()
    }
    salted = {
        (r.event_type,): (r.n, r.total)
        for r in two_phase_agg(
            ev,
            ["event_type"],
            {
                "n": F.count("*"),
                "total": F.sum(F.rint(F.col("value") * 100).cast("long")),
            },
            stable_col="event_id",
        ).collect()
    }
    assert plain == salted


# --- ANN quality vs exact baseline ----------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _brute_ids(spark, emb, qid, k):
    from document_vector_indexer_spark.operators.similarity import knn_brute

    q = emb.filter(F.col("vec_id") == qid).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = knn_brute(emb.filter(F.col("vec_id") != qid), q, k=k)
    return {r.id for r in out.collect()}


def test_lsh_recall_vs_brute(spark, emb):
    from document_vector_indexer_spark.operators.similarity import knn_lsh

    exact = _brute_ids(spark, emb, qid=0, k=10)
    q = emb.filter(F.col("vec_id") == 0)
    approx = {
        r.id
        for r in knn_lsh(
            emb.filter(F.col("vec_id") != 0), q, k=10, num_hash_tables=6
        ).collect()
    }
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"LSH recall@10 too low: {recall}"


def test_ivf_recall_vs_brute(spark, emb):
    """The corpus vectors are near-uniform (verified: even exact top-5
    shares no labels, max cosine ~0.33), so `label` is not a geometric
    ground truth — recall against the exact operator is. With random
    vectors an nprobe/nlist = 3/8 probe should land >= ~3/8 of true
    neighbors in probed cells; assert a conservative floor plus the
    structural contract."""
    from document_vector_indexer_spark.operators.similarity import knn_ivf

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = knn_ivf(emb.filter(F.col("vec_id") >= 3), queries, k=5, nlist=8, nprobe=3)
    rows = out.collect()
    assert len(rows) == 15
    assert sorted(r.rk for r in rows if r.query_id == 0) == [1, 2, 3, 4, 5]
    pool = emb.filter(F.col("vec_id") >= 3)
    hits = 0
    for qid in range(3):
        q = emb.filter(F.col("vec_id") == qid).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        from document_vector_indexer_spark.operators.similarity import knn_brute

        exact = {r.id for r in knn_brute(pool, q, k=5).collect()}
        approx = {r.id for r in rows if r.query_id == qid}
        hits += len(exact & approx)
    assert hits / 15 >= 0.2, f"IVF recall@5 vs brute: {hits}/15"


def test_minhash_finds_exact_near_dups(spark):
    """Cross-validate approx vs exact: MinHashLSH must recover most of
    the high-Jaccard pairs the exact n-gram operator finds."""
    from document_vector_indexer_spark.operators.dedup import (
        minhash_near_dup_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, block_cols=("source",))
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    if not exact:
        pytest.skip("corpus has no planted near-dups at this sf")
    approx = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(docs, threshold=0.4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"MinHash recall of exact near-dups: {recall}"


def test_ngram_pairs_rejects_mismatched_sidecar(spark):
    """A caller-supplied shingles_df built with different (n, text_col)
    must raise, not compute silently wrong Jaccard (r7 ADVICE): the
    projection stamps both into column metadata and the operator
    checks them — including after a parquet round-trip."""
    from document_vector_indexer_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_projection,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sidecar = shingle_projection(docs, block_cols=("source",), n=3)
    assert dict(sidecar.schema["shingles"].metadata) == {
        "n": 3,
        "text_col": "text",
    }
    with pytest.raises(ValueError, match="provenance mismatch"):
        ngram_jaccard_pairs(
            docs, block_cols=("source",), n=4, shingles_df=sidecar
        )
    with pytest.raises(ValueError, match="provenance mismatch"):
        ngram_jaccard_pairs(
            docs,
            block_cols=("source",),
            text_col="lang",
            shingles_df=sidecar,
        )
    # matching provenance is accepted (the bench/ingest fast path)
    assert ngram_jaccard_pairs(
        docs, block_cols=("source",), shingles_df=sidecar
    ).columns == ["id_a", "id_b", "inter", "n_a", "n_b", "jaccard"]
    # a pre-provenance sidecar (no metadata stamp) is unverifiable:
    # ignored in favor of the inline projection, same values, no error
    import pyspark.sql.functions as _F

    legacy = sidecar.select(
        "source", "id", _F.col("shingles").alias("shingles", metadata={})
    )
    assert not dict(legacy.schema["shingles"].metadata or {})
    got = ngram_jaccard_pairs(
        docs, block_cols=("source",), shingles_df=legacy
    )
    want = ngram_jaccard_pairs(docs, block_cols=("source",))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # r8 review: UNRELATED metadata without the (n, text_col) stamp is
    # still "no stamp" — falls back inline, must not raise a
    # provenance mismatch against n=None
    noise = sidecar.select(
        "source",
        "id",
        _F.col("shingles").alias("shingles", metadata={"comment": "x"}),
    )
    got2 = ngram_jaccard_pairs(
        docs, block_cols=("source",), shingles_df=noise
    )
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want.collect())
    )


def _lambda_shingles(df, n):
    """The gram expression shingle_projection used before its regex
    form, kept as the reference: tokens by TX.word_tokens, behind the
    exchange its element_at lambda needs, then every run of n tokens
    joined by one space."""
    from document_vector_indexer_spark.functions import text as TX

    words = df.repartition(F.col("doc_id")).select(
        "source", F.col("doc_id").alias("id"), TX.word_tokens("text").alias("words")
    )
    grams = F.when(
        F.size("words") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("words") - n),
            lambda i: F.concat_ws(
                " ",
                *[F.element_at(F.col("words"), (i + j + 1).cast("int")) for j in range(n)],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return words.select("source", "id", F.array_distinct(grams).alias("shingles"))


# NULL, empty and whitespace-only text; 1, 2 and 3 words; repeated
# grams; NBSP, \x1c-\x1f, U+3000 and other Unicode separators; non-BMP
# characters, alone and as words.
_SHINGLE_EDGE_TEXTS = [
    None,
    "",
    " \t\n\r\x0b\x0c ",
    "one",
    "one two",
    "one two three",
    "  lead and\t\ttrail  \n",
    "a b a b a b a b",
    "dup dup dup dup dup",
    "x\u00a0y\u00a0\u00a0z w",
    "p\x1cq\x1dr\x1es\x1ft",
    "\u7532\u3000\u4e59\u3000\u4e19\u3000\u4e01",
    "l1\u2028l2\u2029l3\x85l4\u1680l5\u2003l6\u202fl7\u205fl8",
    "\U0001f600 \U0001d518 \U00010348 \U0001f600 \U0001d518 \U00010348",
    "a\U0001f600b c\U0001d518 d",
]


@pytest.mark.parametrize("n", [1, 2, 3, 4])
def test_regex_shingles_equal_lambda_reference(spark, n):
    """shingle_projection's one regexp_extract_all gives, row for row
    and in order, the grams of the lambda expression it replaced, on
    edge texts and on the corpus's documents, and keeps the (n,
    text_col) stamp."""
    from document_vector_indexer_spark.operators.dedup import shingle_projection

    edge = spark.createDataFrame(
        [(-1 - i, "edge", t) for i, t in enumerate(_SHINGLE_EDGE_TEXTS)],
        "doc_id bigint, source string, text string",
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    df = edge.unionByName(docs)
    got = shingle_projection(df, n=n)
    assert dict(got.schema["shingles"].metadata) == {"n": n, "text_col": "text"}
    want = {r.id: r.shingles for r in _lambda_shingles(df, n).collect()}
    assert {r.id: r.shingles for r in got.collect()} == want
    assert want[-1] == [] and len(want[-8]) == 2  # NULL; repeated grams


def test_minhash_mllib_recall_vs_portable(spark):
    """q_dedup_minhash_mllib is rows-only by design (MLlib's hash
    coefficients are not SQL-mirrorable), so its quality contract lives
    here: it must recover most of the high-estimate pairs the ORACLED
    portable pipeline (q_dedup_minhash) finds on the same slice
    (round-3 VERDICT item 3)."""
    from document_vector_indexer_spark.operators.dedup import (
        minhash_near_dup_pairs,
        minhash_portable_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    portable = {
        (r.id_a, r.id_b)
        for r in minhash_portable_pairs(docs, threshold=0.25)
        .filter(F.col("est_jaccard") >= 0.5)
        .collect()
    }
    if not portable:
        pytest.skip("no high-estimate portable pairs at this sf slice")
    mllib = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(docs, threshold=0.3).collect()
    }
    recall = len(portable & mllib) / len(portable)
    assert recall >= 0.7, (
        f"MLlib MinHash recall vs portable high-estimate pairs: {recall} "
        f"({len(portable)} portable pairs)"
    )


# --- embedding retry contract ---------------------------------------------


def test_embed_retry_then_succeed(spark):
    from document_vector_indexer_spark.operators.embedding import (
        deterministic_fake_embed,
        embed_api_map_in_pandas,
    )

    def flaky(texts, dim, _state={"calls": 0}):
        _state["calls"] += 1
        if _state["calls"] % 3 != 0:  # fail twice, succeed third
            raise RuntimeError("transient")
        return deterministic_fake_embed(texts, dim)

    df = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(10)], "id long, chunk_text string"
    ).coalesce(1)
    out = embed_api_map_in_pandas(
        df, dim=8, embed_fn=flaky, batch_size=4, sleep_fn=lambda _s: None
    )
    rows = out.collect()
    assert len(rows) == 10 and all(len(r.embedding) == 8 for r in rows)


def test_embed_fails_after_max_retries(spark):
    from document_vector_indexer_spark.operators.embedding import (
        embed_api_map_in_pandas,
    )

    def always_bad(texts, dim):
        return [[0.0] * (dim - 1) for _ in texts]  # wrong dim every time

    df = spark.createDataFrame([(1, "t")], "id long, chunk_text string")
    out = embed_api_map_in_pandas(
        df, dim=8, embed_fn=always_bad, max_retries=2, sleep_fn=lambda _s: None
    )
    with pytest.raises(Exception, match="failed after 2 retries"):
        out.collect()


# --- partition pruning on partitioned sinks --------------------------------


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Bucketing both sides on the join key co-locates matching rows at
    write time — the later join plans zero Exchange nodes (the 100 TB
    pre-partitioning story: pay the shuffle once, reuse it forever)."""
    from document_vector_indexer_spark.io import load_table

    orders = load_table(spark, SF, "orders")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    # external-table paths keep the bucketed data under tmp_path
    # (warehouse dir is a static conf we can't change on a live session)
    orders.write.bucketBy(4, "o_custkey").sortBy("o_custkey").option(
        "path", os.path.join(str(tmp_path), "b_orders")
    ).mode("overwrite").saveAsTable("b_orders")
    cust.write.bucketBy(4, "c_custkey").sortBy("c_custkey").option(
        "path", os.path.join(str(tmp_path), "b_customer")
    ).mode("overwrite").saveAsTable("b_customer")
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            spark.table("b_orders")
            .join(
                spark.table("b_customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"))
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = j._jdf.queryExecution().explainString(mode)
        join_section = plan.split("HashAggregate")[0]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in join_section, (
            f"bucketed join still shuffles:\n{join_section}"
        )
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_partitioned_sink_prunes(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = os.path.join(str(tmp_path), "docs_by_lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    q = spark.read.parquet(path).filter(F.col("lang") == "en").select("doc_id")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = q._jdf.queryExecution().explainString(mode)
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "lang" in pf, f"partition filter not pushed: {pf}"


# --- embedding sign-LSH dedup (round-2 VERDICT #4) -------------------------


def _planted_corpus(spark, n_base=200, n_dup=40, dim=16, seed=11):
    """Deterministic random vectors plus planted near-dups: dup i is
    base vector i plus tiny noise -> cosine > 0.99 against its source,
    while independent random vectors in dim=16 stay far below 0.9."""
    import numpy as np

    rng = np.random.RandomState(seed)
    base = rng.randn(n_base, dim)
    dups = base[:n_dup] + 0.02 * rng.randn(n_dup, dim)
    rows = [(i, [float(x) for x in base[i]]) for i in range(n_base)] + [
        (10_000 + i, [float(x) for x in dups[i]]) for i in range(n_dup)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    all_vecs = np.vstack([base, dups])
    ids = [r[0] for r in rows]
    normed = all_vecs / np.linalg.norm(all_vecs, axis=1, keepdims=True)
    sims = normed @ normed.T
    true_pairs = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if sims[i, j] >= 0.9
    }
    return df, true_pairs


def test_embedding_lsh_recall_and_precision_vs_brute(spark):
    """embedding_near_dup_pairs is approximate only in
    CANDIDATE GENERATION (sign-LSH bucket blocking); the exact cosine
    filter then makes precision 1.0 by construction. Recall for
    near-identical vectors is ~1 - (1 - (1 - theta/pi)^bits)^bands —
    >= 0.99 at the default bands=6/bits=4 for cosine >= 0.99 pairs."""
    from document_vector_indexer_spark.operators.dedup import embedding_near_dup_pairs

    df, true_pairs = _planted_corpus(spark)
    assert len(true_pairs) >= 30, "fixture must actually contain near-dups"
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.9, dim=16
        ).collect()
    }
    assert got <= true_pairs, f"false positives: {sorted(got - true_pairs)[:5]}"
    recall = len(got & true_pairs) / len(true_pairs)
    assert recall >= 0.9, f"sign-LSH recall too low: {recall}"


# --- portable MinHash (round-3) --------------------------------------------


def _py_minhash_sig(text: str, k: int = 16, n: int = 2) -> list[int]:
    """Independent pure-Python oracle for minhash_signature_df."""
    M = 2147483647
    words = [w for w in text.strip().split() if w]
    shingles = {
        " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
    } if len(words) >= n else set()
    hashes = []
    for s in shingles:
        h = 0
        for ch in s:
            h = (h * 131 + ord(ch)) % M
        hashes.append(h)
    return [
        min((((2 * i + 1) * 104729 % M) * x + (7919 * i + 13) % M) % M for x in hashes)
        for i in range(k)
    ]


def test_minhash_signature_matches_python_oracle(spark):
    from document_vector_indexer_spark.operators.dedup import minhash_signature_df

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "the quick brown fox jumps over the lazy cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: list(r.sig) for r in minhash_signature_df(df).collect()}
    for doc_id, text in rows:
        assert got[doc_id] == _py_minhash_sig(text), f"doc {doc_id}"


def test_minhash_portable_recall_on_planted_dups(spark):
    """Docs sharing most shingles must collide in >=1 band and pass the
    estimate filter; unrelated docs must not pair at a high threshold."""
    from document_vector_indexer_spark.operators.dedup import minhash_portable_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    near = base + "one extra tail phrase"
    rows = [(1, base), (2, near), (3, "совершенно другой текст без общих слов вообще"),
            (4, "yet another fully disjoint document about spark engines")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.est_jaccard
           for r in minhash_portable_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 0.5
    assert all(p == (1, 2) for p in got), f"false pairs: {got}"


def test_minhash_portable_rejects_bad_band_split(spark):
    from document_vector_indexer_spark.operators.dedup import minhash_portable_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        minhash_portable_pairs(df, bands=5)  # 5 does not divide k=16


def _py_minhash_pairs(docs, threshold, k=16, bands=4, n=2, max_band_df=50):
    """Pure-Python reference for minhash_portable_pairs: docs with fewer
    than ``n`` words or a NULL id have no signature; band keys are
    (band, its r components); buckets of 2..max_band_df docs emit every
    pair once; the estimate is the fraction of equal signature
    components."""
    from collections import defaultdict
    from itertools import combinations

    sigs = {
        i: _py_minhash_sig(t, k, n)
        for i, t in docs
        if i is not None and len(t.split()) >= n
    }
    r = k // bands
    buckets = defaultdict(list)
    for i, sig in sigs.items():
        for b in range(bands):
            buckets[(b, tuple(sig[b * r : (b + 1) * r]))].append(i)
    out = {}
    for ids in buckets.values():
        if 2 <= len(ids) <= max_band_df:
            for a, b in combinations(sorted(ids), 2):
                est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / k
                if est >= threshold:
                    out[(a, b)] = est
    return out


def test_minhash_portable_pairs_equal_python_reference(spark):
    """Band keys, the ``max_band_df`` cap, the estimate and the
    cross-band collapse, value for value against the Python reference:
    docs 1 and 2 share every band and pair once; the four identical
    docs 10-13 exceed ``max_band_df=3`` in every band and pair not at
    all; docs 30-32 have fewer than n=2 words and drop out, as does the
    NULL-id copy of doc 1; 20-25 are edits of one text that share some
    bands."""
    from document_vector_indexer_spark.operators.dedup import minhash_portable_pairs

    words = [f"w{i}" for i in range(40)]
    base = " ".join(words)
    same = "every band of this text is shared by its copy in doc two"
    rows = [(1, same), (2, same), (None, same)]
    rows += [(10 + i, "one cluster hotter than the cap " * 3) for i in range(4)]
    for e in range(6):  # doc 20 + e has its first 2e words replaced
        rows.append((20 + e, " ".join(
            [f"x{e}_{j}" for j in range(2 * e)] + words[2 * e :])))
    rows += [(30, "solo"), (31, ""), (32, "   ")]
    rows += [(40, base + " tail"), (41, "nothing shared with the others at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for threshold in (0.0, 0.5):
        out = minhash_portable_pairs(df, threshold=threshold, max_band_df=3)
        got = [((r.id_a, r.id_b), r.est_jaccard) for r in out.collect()]
        want = _py_minhash_pairs(rows, threshold, max_band_df=3)
        assert sorted(got) == sorted(want.items()), f"threshold {threshold}"
    assert want[(1, 2)] == 1.0
    assert any(est < 1.0 for est in want.values())
    assert not {i for p in want for i in p} & {10, 11, 12, 13, 30, 31, 32, None}


def test_embed_backoff_sequence_matches_reference(spark):
    """The exact backoff contract (reference index_documents.py:191):
    an unconditional sleep(min(2**attempt, 16)) after EVERY failure —
    1, 2, 4, 8, 16, 16, ... Recorded executor-side via a list
    accumulator injected as sleep_fn."""
    from pyspark.accumulators import AccumulatorParam

    from document_vector_indexer_spark.operators.embedding import (
        deterministic_fake_embed,
        embed_api_map_in_pandas,
    )

    class ListParam(AccumulatorParam):
        def zero(self, v):
            return []

        def addInPlace(self, a, b):
            a.extend(b)
            return a

    sleeps = spark.sparkContext.accumulator([], ListParam())

    def flaky(texts, dim, _state={"calls": 0}):
        _state["calls"] += 1
        if _state["calls"] <= 6:  # six failures, then success
            raise RuntimeError("transient")
        return deterministic_fake_embed(texts, dim)

    df = spark.createDataFrame(
        [(1, "one text")], "id long, chunk_text string"
    ).coalesce(1)
    out = embed_api_map_in_pandas(
        df, dim=8, embed_fn=flaky, max_retries=8,
        sleep_fn=lambda s: sleeps.add([s]),
    )
    assert out.count() == 1
    assert sleeps.value == [1, 2, 4, 8, 16, 16]


def test_recommended_lsh_bits_sizes_to_corpus():
    """The anti-quadratic knob rule: smallest bits with expected
    occupancy at or below target, clamped to [floor, cap]."""
    from document_vector_indexer_spark.operators.dedup import recommended_lsh_bits

    # default target_bucket_rows=32 — ALIGNED with the operator's
    # bits="auto" sizing (r11; they diverged 64 vs 32 in r10)
    assert recommended_lsh_bits(0) == 4
    assert recommended_lsh_bits(512) == 4            # floor (512/32 = 2^4)
    assert recommended_lsh_bits(1_000) == 5          # ceil(log2(31.25))
    assert recommended_lsh_bits(24_000) == 10        # ceil(log2(750))
    assert recommended_lsh_bits(24_000, target_bucket_rows=1500) == 4
    assert recommended_lsh_bits(10**12) == 24        # cap
    # monotone in n
    prev = 0
    for n in (10, 10**3, 10**5, 10**7, 10**9):
        b = recommended_lsh_bits(n)
        assert b >= prev
        prev = b


def test_recommended_shuffle_partitions_floor():
    """The r10 conf-knee remover (r10 VERDICT item 6): partitions sized
    to bytes ingested — ceil(bytes·4 / 64 MB), capped where AQE
    coalesce takes over."""
    from document_vector_indexer_spark.session import (
        recommended_shuffle_partitions,
    )

    assert recommended_shuffle_partitions(0) == 1
    assert recommended_shuffle_partitions(17 << 20) == 2     # sf0.1-ish
    assert recommended_shuffle_partitions(2 << 30) == 128    # ~sf10 ingest
    assert recommended_shuffle_partitions(100 << 40) == 32768  # capped
    prev = 0
    for b in (1 << 20, 1 << 28, 1 << 32, 1 << 40):
        v = recommended_shuffle_partitions(b)
        assert v >= prev
        prev = v


def test_autosize_shuffle_partitions_raise_only(spark):
    """ingest_engine_layout's hook may only RAISE the conf: benches and
    tests that pinned a low count for small fixtures keep it."""
    from document_vector_indexer_spark.session import (
        autosize_shuffle_partitions,
    )

    cur = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        assert autosize_shuffle_partitions(spark, 2 << 30) == 128
        assert spark.conf.get("spark.sql.shuffle.partitions") == "128"
        # tiny corpus afterwards: floor is 1, conf stays at 128
        assert autosize_shuffle_partitions(spark, 1 << 20) == 128
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", cur)


def test_embedding_near_dup_auto_bits_matches_explicit(spark):
    """bits="auto" must be EXACTLY bits=recommended_lsh_bits(n) — one
    count() fit job, no other semantic difference (r10: auto is the
    default because the fixed-bits default went quadratic one decade
    up and filled the disk).

    r11 (ADVICE): the planted corpus is bits-INDEPENDENT (identical
    vectors collide at any bits), so result parity alone cannot catch
    a regression in the auto-sizing plumbing — the resolved value is
    asserted DIRECTLY against the helper at the operator's own target
    (the two defaults are now aligned at 32), and the result-parity
    check runs at that same explicitly-passed target."""
    from document_vector_indexer_spark.operators.dedup import (
        _resolve_lsh_bits,
        embedding_near_dup_pairs,
        recommended_lsh_bits,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    allv = emb.unionByName(planted)
    # the seam the operator's bits="auto" branch calls, pinned exactly
    explicit = recommended_lsh_bits(allv.count(), target_bucket_rows=32)
    assert _resolve_lsh_bits(allv, "auto", target_bucket_rows=32) == explicit
    assert _resolve_lsh_bits(allv, 7, target_bucket_rows=32) == 7
    auto_rows = sorted(
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            allv, threshold=0.95, dim=64, bits="auto"
        ).collect()
    )
    explicit_rows = sorted(
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            allv, threshold=0.95, dim=64, bits=explicit
        ).collect()
    )
    assert auto_rows == explicit_rows and len(auto_rows) > 0
    import pytest

    with pytest.raises(ValueError, match="int or 'auto'"):
        embedding_near_dup_pairs(
            allv, threshold=0.95, dim=64, bits="lots"
        )
    with pytest.raises(ValueError, match="int or 'auto'"):
        # bool is an int subclass: bits=True would silently mean 1-bit
        # buckets (near-all-pairs candidates) if accepted
        embedding_near_dup_pairs(
            allv, threshold=0.95, dim=64, bits=True
        )


def test_embedding_near_dup_auto_bands_holds_recall_contract(spark):
    """bands="auto" must be EXACTLY recommended_lsh_bands(bits,
    threshold, target_recall) — the late-r11 recall contract: auto
    bits grow ~log2(n) to keep candidates linear, so a FIXED band
    count's union recall for threshold-level pairs decays as
    (1 − p^bits)^bands (measured 0.67 at the sf100 blow-up's bits=17
    with 6 bands). Like the bits seam, the planted corpora are
    band-count-INDEPENDENT (identical vectors collide in every band),
    so the resolved value is asserted directly; the floor of 6 keeps
    every driver-scale plan (bits ≤ 10) identical to the fixed-bands
    era, pinned here at the fixtures' own n."""
    import math

    import pytest

    from document_vector_indexer_spark.operators.dedup import (
        _resolve_lsh_bands,
        _resolve_lsh_bits,
        embedding_near_dup_pairs,
        recommended_lsh_bands,
    )

    # closed-form spot checks of the sizing rule itself
    #   p(0.95) = 1 - acos(0.95)/pi = 0.8995...; union recall >= 0.9
    p = 1.0 - math.acos(0.95) / math.pi
    for bits, want in ((10, 6), (13, 8), (17, 13)):
        got = recommended_lsh_bands(bits, 0.95)
        assert got == want, (bits, got)
        if got > 6:  # above the floor the target must actually bind
            assert 1 - (1 - p**bits) ** got >= 0.9
            assert 1 - (1 - p**bits) ** (got - 1) < 0.9
    # near-identical thresholds never need more than the floor
    assert recommended_lsh_bands(20, 0.999) == 6
    # loose thresholds at high bits hit the cap (honest bound, logged)
    assert recommended_lsh_bands(20, 0.8) == 24
    # the operator seam: auto == helper at the operator's own knobs
    assert _resolve_lsh_bands("auto", 17, 0.95, 0.9) == 13
    assert _resolve_lsh_bands(9, 17, 0.95, 0.9) == 9
    with pytest.raises(ValueError, match="int or 'auto'"):
        _resolve_lsh_bands(True, 4, 0.95, 0.9)
    # fixtures stay on the floor: the resolved plan is byte-identical
    # to the fixed bands=6 era at every driver scale
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    allv = emb.unionByName(planted)
    bits = _resolve_lsh_bits(allv, "auto", target_bucket_rows=32)
    assert bits <= 10 and _resolve_lsh_bands("auto", bits, 0.95, 0.9) == 6
    auto_rows = sorted(
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            allv, threshold=0.95, dim=64, bands="auto"
        ).collect()
    )
    fixed_rows = sorted(
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            allv, threshold=0.95, dim=64, bands=6
        ).collect()
    )
    assert auto_rows == fixed_rows and len(auto_rows) > 0


def test_lsh_bands_cap_shortfall_warns(caplog):
    """When 'auto' bands hit the cap with union recall still under the
    target (loose threshold x high bits — the n^rho spend exploded),
    the resolver must SAY so: recall is never traded silently (the
    hot-bucket drop-signal rule)."""
    import logging

    from document_vector_indexer_spark.operators.dedup import (
        _resolve_lsh_bands,
    )

    with caplog.at_level(logging.WARNING):
        resolved = _resolve_lsh_bands("auto", 20, 0.8, 0.9)
    assert resolved == 24
    assert any(
        "capped" in r.message and "ANN ladder" in r.message
        for r in caplog.records
    )
    # and no warning when the target is met
    caplog.clear()
    with caplog.at_level(logging.WARNING):
        assert _resolve_lsh_bands("auto", 10, 0.95, 0.9) == 6
    assert not caplog.records


def test_embedding_near_dup_pairs_match_numpy_reference(spark):
    """The operator returns EXACTLY the pairs that share a (band,
    bucket) cell of ``embedding_lsh_blocks`` and whose sequential
    float64 cosine reaches the threshold — each pair once, however
    many bands it shares — with sims bit-equal to the index-order
    fold (dot and both norms accumulated left to right, then
    ``dot / (n_a * n_b)``). Random vectors, not planted-identical ones,
    so borderline pairs near the threshold exercise the filter; two
    thresholds so the survivor set is both sparse and dense."""
    import math
    from collections import defaultdict

    import numpy as np

    from document_vector_indexer_spark.operators.dedup import (
        embedding_lsh_blocks,
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(3)
    vecs = {i: [float(x) for x in rng.uniform(-1, 1, 8)] for i in range(200)}
    vecs.update({i + 10000: list(vecs[i]) for i in range(0, 200, 5)})
    df = spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    )

    def fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    cells = defaultdict(list)
    for r in embedding_lsh_blocks(df, dim=8, bands=6, bits=4).collect():
        cells[(r["band"], r["bucket"])].append(r["vec_id"])
    candidates = {
        (a, b) for ids in cells.values() for a in ids for b in ids if a < b
    }
    norm = {i: math.sqrt(fold(v, v)) for i, v in vecs.items()}
    sim = {
        (a, b): fold(vecs[a], vecs[b]) / (norm[a] * norm[b])
        for a, b in candidates
    }
    for th in (0.95, 0.5):
        want = sorted((a, b, s) for (a, b), s in sim.items() if s >= th)
        got = sorted(
            (r["id_a"], r["id_b"], r["sim"])
            for r in embedding_near_dup_pairs(
                df, threshold=th, dim=8, bits=4, bands=6
            ).collect()
        )
        assert got == want and len(got) > 0, th


def test_embedding_near_dup_hot_bucket_cap(spark):
    """The r10 second-decade guard: (band, bucket) cells above
    max_bucket_rows are DROPPED before the candidate join (anisotropic
    sign skew measurably put p99 occupancy ~7x the expectation target
    at ~sf10). Plant 41 IDENTICAL vectors — identical inputs land in
    the same bucket of every band, so every band holds exactly one
    41-member cell: with the cap above 41 all pairs are found; with
    the cap below it every cell is hot, everything is dropped, and
    the result is empty (the documented blind spot — identical
    clusters larger than the cap belong to exact/semantic dedup).
    Fixtures never trip the cap (measured max occupancy 80 vs cap
    512), so this is the only place the drop path is exercised."""
    from document_vector_indexer_spark.operators.dedup import embedding_near_dup_pairs

    base = [float(1 + (j % 7)) for j in range(64)]
    rows = [(i, base) for i in range(40)] + [(100, base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(cap):
        return sorted(
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(
                df, threshold=0.9999999, dim=64, bits=4,
                max_bucket_rows=cap,
            ).collect()
        )

    with_room = pairs(64)
    assert (7, 100) in with_room, with_room
    assert pairs(16) == [], "hot buckets above the cap must be dropped"
    assert pairs(None) == with_room, "cap=None must disable the guard"


def test_hot_bucket_drop_signal(spark, caplog):
    """The cap's silent-drop blind spot gets a runtime signal (r10
    ADVICE): ``lsh_hot_bucket_stats`` reports exactly the cells above
    the cap, and ``log_dropped_buckets=True`` warns eagerly when (and
    only when) cells are actually dropped."""
    import logging

    from document_vector_indexer_spark.operators.dedup import (
        embedding_lsh_blocks,
        embedding_near_dup_pairs,
        lsh_hot_bucket_stats,
    )

    base = [float(1 + (j % 7)) for j in range(64)]
    rows = [(i, base) for i in range(41)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    blocks = embedding_lsh_blocks(df, dim=64, bits=4)
    hot = lsh_hot_bucket_stats(blocks, max_bucket_rows=16).collect()
    # identical vectors: one 41-member cell per band, all above cap 16
    assert len(hot) == 6 and all(r["occupancy"] == 41 for r in hot)
    assert lsh_hot_bucket_stats(blocks, max_bucket_rows=64).collect() == []

    with caplog.at_level(logging.WARNING,
                         logger="document_vector_indexer_spark.operators.dedup"):
        out = embedding_near_dup_pairs(
            df, threshold=0.9, dim=64, bits=4,
            max_bucket_rows=16, log_dropped_buckets=True,
        ).collect()
    assert out == []
    assert any("dropping 6 hot" in r.message for r in caplog.records), (
        [r.message for r in caplog.records]
    )
    caplog.clear()
    with caplog.at_level(logging.WARNING,
                         logger="document_vector_indexer_spark.operators.dedup"):
        ok = embedding_near_dup_pairs(
            df, threshold=0.9, dim=64, bits=4,
            max_bucket_rows=64, log_dropped_buckets=True,
        ).collect()
    assert len(ok) == 41 * 40 // 2
    assert not any("dropping" in r.message for r in caplog.records)


def _py_fold(s: str, mod: int = 2147483647) -> int:
    """The per-character char fold ``(a*131 + codepoint) % mod`` in
    plain Python — the definition every gram-hash kernel must equal."""
    a = 0
    for ch in s:
        a = (a * 131 + ord(ch)) % mod
    return a


def _py_dup_substring_stats(rows, k):
    """Independent reference for dup_substring_stats: per document,
    (n_windows, n_dup_windows, dup_ppm) from the char fold of every
    stride-1 k-word window, a window counting as duplicated when its
    hash also occurs in another document. Tokens are ``str.split()``,
    whose whitespace set is the one ``word_tokens`` splits on."""
    windows = {}
    for doc_id, text in rows:
        w = (text or "").split()
        windows[doc_id] = [
            _py_fold(" ".join(w[i : i + k])) for i in range(len(w) - k + 1)
        ]
    docs_of = {}
    for doc_id, hs in windows.items():
        for h in hs:
            docs_of.setdefault(h, set()).add(doc_id)
    out = {}
    for doc_id, hs in windows.items():
        n_dup = sum(1 for h in hs if len(docs_of[h]) > 1)
        ppm = n_dup * 1_000_000 // len(hs) if hs else 0
        out[doc_id] = (len(hs), n_dup, ppm)
    return out


def test_gram_hash_arrow_identical_to_expr(spark):
    """The vectorized gram-hash kernel (prefix-hash subtraction, int64
    mod M31) behind dup_substring_stats must give every document the
    (n_windows, n_dup_windows, dup_ppm) of the per-character char fold
    computed in plain Python (``_py_dup_substring_stats``) — exact
    modular-arithmetic equality, on the real fixture documents AND on
    edge rows: NULL and empty text, whitespace-only, fewer-than-k
    words, exactly k words, BMP unicode (accents/CJK), NON-BMP
    (surrogate pairs), multi-space runs (word_tokens drops empties, so
    the kernel sees the single-space-joined stream) and a passage
    shared by two edge rows, for k = 8 and k = 2."""
    from document_vector_indexer_spark.operators.dedup import dup_substring_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (10_000, None),
            (10_001, ""),
            (10_002, "   \t  "),
            (10_003, "one two three"),                     # < k
            (10_004, "a b c d e f g h"),                   # exactly k=8
            (10_005, "a b c d e f g h i j"),               # k + 2
            (10_006, "héllo wörld 中文 テスト mixé a b c d"),  # BMP unicode
            (10_007, "x  y   z    " + "w " * 12),          # multi-space runs
            # non-BMP (surrogate-pair territory): Spark's split/ascii
            # and numpy's UCS-4 view are both codepoint-aware; the
            # kernel's exactness argument rests on it
            (10_008, "\U0001D518ath \U0001F600smile a b c d e f g h"),
        ],
        "doc_id long, text string",
    )
    both = docs.unionByName(edge)
    rows = [(r.doc_id, r.text) for r in both.collect()]
    for k in (8, 2):
        got = {
            r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_ppm)
            for r in dup_substring_stats(both, k=k).collect()
        }
        want = _py_dup_substring_stats(rows, k)
        assert got == want, k
        # the edge rows must exercise both sides of the dup rule
        assert want[10_004][1] == want[10_004][0] > 0, k
        assert want[10_000] == want[10_001] == (0, 0, 0), k
        assert any(v[1] == 0 < v[0] for v in want.values()), k


def test_gram_hash_kernel_ragged_layout_exact_under_length_skew():
    """The r13 ragged blocked-scan layout (r12 ADVICE: the padded
    (rows × max_doc_chars) matrices let ONE long-document outlier
    multiply a whole batch's memory) must stay EXACTLY equal to the
    per-character fold — directly against a pure-Python oracle, no
    Spark in the loop — under the shapes the blocking introduces:
    a 60k-word document batched with tiny ones (many scan chunks),
    streams whose length is an exact multiple of the chunk width
    (the pos % T == 0 / pos == L corner of the carry stitch), empty
    and None rows, non-BMP codepoints, and BOTH moduli (M31 for the
    dedup family, 1e9+7 for CDC word codes). Also pins the int64
    mod-range guard."""
    import numpy as np
    import pytest

    from document_vector_indexer_spark.operators.dedup import (
        _CHAR_MOD,
        _gram_hash_arrays,
    )

    def py_grams(w, k, mod):
        if len(w) < k:
            return []
        return [
            _py_fold(" ".join(w[i : i + k]), mod)
            for i in range(len(w) - k + 1)
        ]

    giant = [f"w{i}" for i in range(60_000)]  # ~350k chars: many chunks
    cases = [
        [["a", "b"], giant, [], ["x"], None],  # skewed batch
        [["ab"] * 32, ["cd"] * 31],            # small L, T floor (64)
        # L an exact multiple of the T=64 floor: 22 3-char units per
        # row ("xy " * 21 + "xy") = 65 chars... build exactly 128:
        [["y" * 128], ["z" * 63 + " " + "q" * 64]],
        [["\U0001D518", "\U0001F600ok", "中文"] * 5],  # non-BMP
        # r14 (r13 verdict item 6): the carry-stitch corner pinned
        # DETERMINISTICALLY, not just by the skewed batch above. With
        # the T=64 floor, joins of exactly 64 chars each give L=128 =
        # 2T exactly (zero pad), and row 1's k=2 gram "b"*31+" "+"c"*32
        # occupies stream [64, 128): its START is pos % T == 0 with
        # ci=1 (P_at = carries[1]·B^0 + Lp[1,0] — the all-carry branch)
        # and its END is pos == L on the chunk boundary (P_at indexes
        # the +1 zero row: carries[2]·B^0 + 0). Both seam evaluations
        # in one gram; asserted below to actually hit T=64, L=2T.
        [["a" * 64], ["b" * 31, "c" * 32]],
        # no [""] case: empty TOKENS are outside the kernel's contract
        # (word_tokens drops them; both kernel generations return no
        # grams for an all-empty join, while a literal fold would give
        # [0] — the callers can never hit this)
        [None, []],
    ]
    for mod in (_CHAR_MOD, 1_000_000_007):
        for k in (1, 2, 8):
            for docs in cases:
                got = _gram_hash_arrays(docs, k, mod)
                assert len(got) == len(docs)
                for g, w in zip(got, docs):
                    want = np.array(py_grams(w or [], k, mod), np.int64)
                    assert g.dtype == np.int64
                    assert np.array_equal(
                        g, want if want.size else np.empty(0, np.int64)
                    ), (mod, k, w if w is None or len(w) < 9 else w[:9])
    # the deterministic seam case above must actually land on the
    # corner it claims: T hits its 64 floor (L=128 -> int(sqrt)+1=12
    # < 64) and L is an exact multiple of T — if the kernel's T
    # formula ever changes, this case must be rebuilt, not silently
    # degraded to a non-corner input
    seam_L = len("a" * 64) + len("b" * 31 + " " + "c" * 32)
    seam_T = max(64, min(8192, int(seam_L**0.5) + 1))
    assert seam_T == 64 and seam_L == 2 * seam_T
    # products of two residues must fit int64: mod >= 2^31 would break
    # the exactness argument silently — reject it loudly
    with pytest.raises(ValueError, match="mod"):
        _gram_hash_arrays([["a"]], 1, 2**31)
    with pytest.raises(ValueError, match="mod"):
        _gram_hash_arrays([["a"]], 1, 1)


def test_gram_hash_kernel_survives_megadoc_batch(spark):
    """End-to-end Spark pin for the r12 ADVICE memory fix: ONE
    2 M-char document co-batched with ~10k ordinary rows. Under the
    r12 padded layout every row in the batch was padded to the
    longest document — (10k rows × 2 M chars) codepoint + prefix
    int64 matrices ≈ 240 GB, an executor OOM by construction; the
    ragged layout peaks at ~16 B per CONTENT char (~35 MB here).
    The giant doc goes FIRST so it shares an Arrow batch with the
    small rows (maxRecordsPerBatch default 10k). Asserts completion
    AND values: the giant doc reports all its windows with at most a
    handful "duplicated" — at 250k giant grams x ~130k other-doc
    grams a few M31 fold collisions are EXPECTED (n*m/2^31 ~ 15;
    observed 1 on this fixed data), which is the operator's declared
    hash-identity semantics, not a bug — while a small doc sharing a
    planted passage with one partner reports its duplicated window."""
    from document_vector_indexer_spark.operators.dedup import (
        dup_substring_stats,
    )

    giant_words = 250_000  # ~2M chars joined
    giant = " ".join(f"g{i}x" for i in range(giant_words))
    passage = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(0, giant)]
    rows += [
        (i, f"filler{i} " * 12 + (passage if i in (77, 78) else ""))
        for i in range(1, 10_001)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    out = {
        r.doc_id: (r.n_windows, r.n_dup_windows)
        for r in dup_substring_stats(df, k=8).collect()
    }
    assert out[0][0] == giant_words - 7
    assert out[0][1] <= 20, out[0]  # collision band, see docstring
    # docs 77/78: 12 fillers + 8 passage words = 20 words -> 13
    # windows, of which the passage's fully-internal window (the final
    # 8 words) is shared
    assert out[77][1] >= 1 and out[78][1] >= 1
    assert out[77][0] == out[78][0] == 13


def test_gram_hash_kernel_property_random_unicode():
    """Property form of the exactness claim: for ARBITRARY batches of
    non-empty unicode tokens (drawn across the BMP and astral planes,
    CDC_WINDOW-irrelevant — this is the raw kernel), every k and both
    production moduli, the ragged blocked-scan kernel equals the
    per-character fold computed in plain Python. Hypothesis explores
    the shapes the example tests can't enumerate: batches whose total
    stream length straddles the T floor, tokens of wildly mixed
    lengths, single-doc batches, all-short batches."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from document_vector_indexer_spark.operators.dedup import (
        _CHAR_MOD,
        _gram_hash_arrays,
    )

    # non-empty tokens without whitespace (word_tokens' contract);
    # include astral-plane codepoints to keep surrogate handling honest
    token = st.text(
        st.one_of(
            st.characters(min_codepoint=33, max_codepoint=0x2FFF),
            st.characters(min_codepoint=0x1D400, max_codepoint=0x1F64F),
        ),
        min_size=1,
        max_size=12,
    ).filter(lambda s: not any(c.isspace() for c in s))
    batch = st.lists(
        st.one_of(st.none(), st.lists(token, max_size=40)),
        min_size=1,
        max_size=12,
    )

    def py_grams(w, k, mod):
        out = []
        for i in range(len(w) - k + 1):
            a = 0
            for ch in " ".join(w[i : i + k]):
                a = (a * 131 + ord(ch)) % mod
            out.append(a)
        return np.array(out, np.int64)

    @settings(max_examples=60, deadline=None)
    @given(docs=batch, k=st.integers(1, 9), mod=st.sampled_from([_CHAR_MOD, 1_000_000_007]))
    def prop(docs, k, mod):
        got = _gram_hash_arrays(docs, k, mod)
        assert len(got) == len(docs)
        for g, w in zip(got, docs):
            want = py_grams(w or [], k, mod)
            assert np.array_equal(
                g, want if want.size else np.empty(0, np.int64)
            )

    prop()


def _py_lsh_buckets(vec, dim, bands, bits, seed=7):
    """Independent reference for embedding_lsh_blocks' bucket codes:
    per plane, a plain-Python fold in array-index order
    (``acc += x[i] * s[i]``), bit set iff ``acc > 0`` or ``acc`` is
    NaN (the JVM orders NaN above every value). A NULL vector, a NULL
    element or a length other than ``dim`` gives bucket 0 in every
    band."""
    import math

    from document_vector_indexer_spark.operators.dedup import lsh_hyperplanes

    if vec is None or len(vec) != dim or any(x is None for x in vec):
        return [0] * bands
    H = lsh_hyperplanes(dim, bands, bits, seed).tolist()
    out = []
    for b in range(bands):
        code = 0
        for j in range(bits):
            acc = 0.0
            for x, sgn in zip(vec, H[b][j]):
                acc += float(x) * sgn
            if acc > 0.0 or math.isnan(acc):
                code |= 1 << j
        out.append(code)
    return out


def test_lsh_arrow_kernel_bit_identical_to_expr(spark):
    """The vectorized sign-LSH kernel must be BIT-IDENTICAL to the
    index-order fold it replaced as a column expression, here written
    in plain Python (``_py_lsh_buckets``) — same (id, band, bucket)
    set on the REAL fixture embeddings (float32 inputs widened to
    double), across bit widths, because the kernel accumulates in
    array-index order (see ``_lsh_pack_codes``: one IEEE add per plane
    per step, never a reordered/pairwise BLAS sum). This is the
    sign-stability check SCALE.md r10 required before shipping the
    matmul-style rewrite."""
    from document_vector_indexer_spark.operators.dedup import embedding_lsh_blocks

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    vecs = [(r.vec_id, r.embedding) for r in emb.collect()]
    for bands, bits in ((6, 4), (3, 12), (1, 20)):
        got = sorted(
            map(tuple, embedding_lsh_blocks(
                emb, dim=64, bands=bands, bits=bits
            ).select("vec_id", "band", "bucket").collect())
        )
        want = sorted(
            (vid, b, code)
            for vid, vec in vecs
            for b, code in enumerate(_py_lsh_buckets(vec, 64, bands, bits))
        )
        assert got == want and len(got) == len(vecs) * bands, (bands, bits)


def test_lsh_arrow_kernel_edge_rows(spark):
    """Malformed vectors (NULL, wrong length, or a NULL element) must
    land in bucket 0 of every band: a projection over them is NULL, so
    no bit is set; the kernel applies that rule explicitly."""
    from document_vector_indexer_spark.operators.dedup import embedding_lsh_blocks

    rows = [
        (1, [float(j % 5) - 1.7 for j in range(64)]),
        (2, None),
        (3, [1.0, 2.0]),                                   # too short
        (4, [float(j % 3) + 0.25 for j in range(80)]),     # too long
        # NULL ELEMENT, right length: Arrow->pandas turns it into NaN —
        # indistinguishable from a real NaN batch-side — but a NULL
        # projection sets no bit, so the kernel must flag it JVM-side,
        # not inherit the NaN>0 rule.
        (5, [None] + [0.5] * 63),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["vec_id"], r["band"]): r["bucket"]
        for r in embedding_lsh_blocks(df, dim=64).collect()
    }
    assert len(got) == 5 * 6
    for (vid, _band), bucket in got.items():
        if vid == 1:
            continue
        assert bucket == 0, (vid, bucket)
    # the well-formed row must match the Python fold
    assert [got[(1, b)] for b in range(6)] == _py_lsh_buckets(rows[0][1], 64, 6, 4)


def test_lsh_bits_bands_range_validated(spark):
    """bits >= 32 would silently WRAP in the kernel's int32 pack, so
    it must be rejected loudly, along with bool/non-int and
    bands < 1."""
    import pytest

    from document_vector_indexer_spark.operators.dedup import embedding_lsh_blocks

    df = spark.createDataFrame(
        [(1, [0.5] * 8)], "vec_id long, embedding array<double>"
    )
    for bad_bits in (0, 32, 40, -1, True):
        with pytest.raises(ValueError, match="bits"):
            embedding_lsh_blocks(df, dim=8, bits=bad_bits)
    for bad_bands in (0, -2, True):
        with pytest.raises(ValueError, match="bands"):
            embedding_lsh_blocks(df, dim=8, bands=bad_bands)
    assert embedding_lsh_blocks(df, dim=8, bits=31, bands=1).count() == 1


def test_lsh_arrow_kernel_nan_matches_jvm_ordering(spark):
    """A NaN component poisons every projection to NaN, and Spark's
    comparison (like the DuckDB oracle's, Postgres-style) orders NaN
    GREATER than every value — so a NaN row must land in bucket
    2^bits − 1 of EVERY band. numpy's IEEE `NaN > 0` is False; the
    kernel mirrors the JVM rule explicitly."""
    from document_vector_indexer_spark.operators.dedup import embedding_lsh_blocks

    rows = [
        (1, [float("nan")] + [0.1] * 63),
        (2, [float(j % 5) - 1.7 for j in range(64)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r["vec_id"], r["band"], r["bucket"])
        for r in embedding_lsh_blocks(df, dim=64, bands=3, bits=4).collect()
    )
    want = sorted(
        (vid, b, code)
        for vid, vec in rows
        for b, code in enumerate(_py_lsh_buckets(vec, 64, 3, 4))
    )
    assert [bucket for vid, _b, bucket in got if vid == 1] == [15, 15, 15]
    assert got == want


def test_lsh_carry_vec_false_narrow_output(spark):
    """carry_vec=False (the semantic-dedup shape) must emit only
    (id, band, bucket) — narrow rows into the shuffle — with the same
    codes as the carrying variant."""
    from document_vector_indexer_spark.operators.dedup import embedding_lsh_blocks

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    narrow = embedding_lsh_blocks(emb, dim=64, carry_vec=False)
    assert narrow.columns == ["vec_id", "band", "bucket"]
    wide = embedding_lsh_blocks(emb, dim=64).select("vec_id", "band", "bucket")
    assert sorted(map(tuple, narrow.collect())) == sorted(map(tuple, wide.collect()))


def test_second_headline_pass_compiles_no_class(spark):
    """The session's codegen cache holds every class a headline pass
    needs: a second pass over the 12 keys compiles none (at the
    default 100 entries it recompiled about 170 each pass)."""
    from bench import HEADLINE
    from document_vector_indexer_spark.queries.registry import all_queries

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    specs = all_queries()

    def compiled_by_pass() -> int:
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        for name in HEADLINE:
            specs[name].fn(spark, SF).collect()
        return codegen.METRIC_COMPILATION_TIME().getCount() - before

    compiled_by_pass()
    assert compiled_by_pass() == 0
