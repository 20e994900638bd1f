"""Vector / dedup / similarity queries (SURVEY.md §2B north-star ops).

Float-portability rules: cosine math runs in double with sequential
left-to-right accumulation in both engines; outputs are rounded to 6
decimals (cosine values never sit on the decimal grid, so rounding is
boundary-safe — unlike money, see relational.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from document_vector_indexer_spark.functions import vector as V
from document_vector_indexer_spark.io import EMBEDDING_DIM, load_table
from document_vector_indexer_spark.queries.base import QuerySpec

# DuckDB fragments: dot/norm with explicit sequential fold, mirroring
# the Spark zip_with+aggregate accumulation order bit-for-bit.
SQL_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE),"
    " list_transform(generate_series(1, len({a})),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (s, x) -> s + x)"
)


def SQL_COSINE(a: str, b: str) -> str:
    return (
        f"({SQL_DOT.format(a=a, b=b)} / "
        f"(sqrt({SQL_DOT.format(a=a, b=a)}) * sqrt({SQL_DOT.format(a=b, b=b)})))"
    )


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") == vec_id).select(
        F.lit(vec_id).alias("qid"), "embedding"
    )


def q_vec_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity of every vector to the vec_id=0 query vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir).select(F.col("embedding").alias("q_vec"))
    return emb.join(F.broadcast(q)).select(
        "vec_id",
        (F.round(V.cosine("embedding", "q_vec"), 6) + 0.0).alias("cos_sim"),
    )


SQL_VEC_COSINE = f"""
WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, round({SQL_COSINE('embedding', 'q_vec')}, 6) + 0.0 AS cos_sim
FROM embeddings, q
"""


def q_vec_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms + first component of the unit-normalized vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(V.l2_norm("embedding"), 6).alias("l2"),
        (F.round(F.element_at(V.l2_normalize("embedding"), 1), 6) + 0.0).alias("unit_x0"),
    )


SQL_VEC_NORM = f"""
SELECT vec_id,
       round(sqrt({SQL_DOT.format(a='embedding', b='embedding')}), 6) AS l2,
       round(CAST(embedding[1] AS DOUBLE)
             / sqrt({SQL_DOT.format(a='embedding', b='embedding')}), 6) + 0.0 AS unit_x0
FROM embeddings
"""


def q_vec_dim_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's embed-time dim validation
    (index_documents.py:181-185) as a table-level contract check."""
    emb = load_table(spark, sf_dir, "embeddings")
    ok = V.dim_check(F.col("embedding"), EMBEDDING_DIM)
    return emb.agg(
        F.count("*").alias("n_vectors"),
        F.count_if(~ok).alias("n_bad"),
        F.min(F.size("embedding")).cast("int").alias("min_dim"),
        F.max(F.size("embedding")).cast("int").alias("max_dim"),
    )


SQL_VEC_DIM_CHECK = f"""
SELECT count(*) AS n_vectors,
       count(*) FILTER (len(embedding) <> {EMBEDDING_DIM}
         OR len(list_filter(embedding, x -> x IS NULL)) > 0) AS n_bad,
       CAST(min(len(embedding)) AS INTEGER) AS min_dim,
       CAST(max(len(embedding)) AS INTEGER) AS max_dim
FROM embeddings
"""


def q_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the vec_id=0 query (pgvector's
    ``ORDER BY embedding <=> q LIMIT k``, Spark-native)."""
    from document_vector_indexer_spark.operators.similarity import knn_brute

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    out = knn_brute(emb, _query_vec(spark, sf_dir), k=10)
    return out.select("id", (F.round("sim", 6) + 0.0).alias("cos_sim"), "rk")


SQL_KNN_BRUTE = f"""
WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id AS id, {SQL_COSINE('embedding', 'q_vec')} AS sim
  FROM embeddings, q WHERE vec_id <> 0
)
SELECT id, round(sim, 6) + 0.0 AS cos_sim,
       row_number() OVER (ORDER BY sim DESC, id) AS rk
FROM scored QUALIFY rk <= 10
"""


def q_knn_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors for each of 5 query vectors — the batched-query
    shape (one broadcast, one window)."""
    from document_vector_indexer_spark.operators.similarity import knn_brute

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = knn_brute(emb.filter(F.col("vec_id") >= 5), queries, k=3)
    return out.select(
        F.col("query_id").alias("qid"), "id", (F.round("sim", 6) + 0.0).alias("cos_sim"), "rk"
    )


SQL_KNN_PER_QUERY = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.qid, e.vec_id AS id, {SQL_COSINE('e.embedding', 'q.q_vec')} AS sim
  FROM embeddings e, q WHERE e.vec_id >= 5
)
SELECT qid, id, round(sim, 6) + 0.0 AS cos_sim,
       row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rk
FROM scored QUALIFY rk <= 3
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with deterministic keep-first survivor; per-lang
    survivor counts."""
    from document_vector_indexer_spark.operators.dedup import exact_dedup_keep_first

    docs = load_table(spark, sf_dir, "documents")
    survivors = exact_dedup_keep_first(docs)
    return survivors.groupBy("lang").agg(
        F.count("*").alias("n_survivors"),
        F.sum(F.length("text")).cast("long").alias("surviving_chars"),
    )


SQL_DEDUP_EXACT = """
WITH survivors AS (
  SELECT lang, text,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents QUALIFY rn = 1
)
SELECT lang, count(*) AS n_survivors,
       CAST(sum(length(text)) AS BIGINT) AS surviving_chars
FROM survivors GROUP BY lang
"""


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup: top-20 most similar same-source
    pairs (explode-join, never a cross join)."""
    from document_vector_indexer_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    from document_vector_indexer_spark.io import load_derived

    shingles = load_derived(spark, sf_dir, "documents__shingles3")
    pairs = ngram_jaccard_pairs(docs, block_cols=("source",), shingles_df=shingles)
    return (
        pairs.orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(20)
        .select("id_a", "id_b", "inter", F.round("jaccard", 6).alias("jaccard"))
    )


# Same df-capped (max_df=20) discriminative-shingle semantics as the
# operator — see operators/dedup.py for why the cap is load-bearing.
# ONE shared prelude feeds both the Jaccard and the containment oracle
# (the _SQL_COMPONENTS_PRELUDE precedent: a verbatim copy would let a
# future shingle/df-cap fix silently desynchronize the two).
_SQL_NGRAM_PRELUDE = """WITH sh AS (
  SELECT source, doc_id AS id,
         list_distinct(CASE WHEN len(words) >= 3 THEN
           list_transform(generate_series(1, len(words) - 2),
                          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
           ELSE [] END) AS shingles
  FROM (SELECT source, doc_id,
               list_filter(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                                              '\\s+'), x -> x <> '') AS words
        FROM documents)
),
expl AS (
  SELECT source, id, unnest(shingles) AS shingle FROM sh
),
retained AS (
  SELECT source, id, shingle,
         count(*) OVER (PARTITION BY source, shingle) AS df
  FROM expl QUALIFY df <= 20
),
sizes AS (
  SELECT source, id, count(*) AS n_ret FROM retained GROUP BY 1, 2
),
pairs AS (
  SELECT a.source, a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM retained a JOIN retained b
    ON a.shingle = b.shingle AND a.source = b.source
  WHERE a.id < b.id
  GROUP BY 1, 2, 3
)"""


def q_dedup_contain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (Broder): top-20 pairs by
    max(inter/n_a, inter/n_b) in exact ppm — catches quote-inclusion
    (a short document embedded in a long one), the case symmetric
    Jaccard scores near zero because the union is dominated by the
    long side. Same df-capped inverted-index pipeline as
    q_dedup_ngram (operators/dedup.ngram_jaccard_pairs) — containment
    is a projection of (inter, n_a, n_b), so the scale shape is
    identical and already plan-pinned."""
    from document_vector_indexer_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    from document_vector_indexer_spark.io import load_derived

    shingles = load_derived(spark, sf_dir, "documents__shingles3")
    pairs = ngram_jaccard_pairs(docs, block_cols=("source",), shingles_df=shingles)
    scored = pairs.select(
        "id_a",
        "id_b",
        "inter",
        F.expr("inter * 1000000 DIV n_a").alias("contain_a_ppm"),
        F.expr("inter * 1000000 DIV n_b").alias("contain_b_ppm"),
    ).withColumn(
        "contain_max_ppm", F.greatest("contain_a_ppm", "contain_b_ppm")
    )
    return (
        scored.orderBy(F.col("contain_max_ppm").desc(), "id_a", "id_b")
        .limit(20)
    )


SQL_DEDUP_CONTAIN = f"""
{_SQL_NGRAM_PRELUDE}
SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
       CAST(inter * 1000000 // sa.n_ret AS BIGINT) AS contain_a_ppm,
       CAST(inter * 1000000 // sb.n_ret AS BIGINT) AS contain_b_ppm,
       CAST(greatest(inter * 1000000 // sa.n_ret, inter * 1000000 // sb.n_ret)
            AS BIGINT) AS contain_max_ppm
FROM pairs p
JOIN sizes sa ON sa.source = p.source AND sa.id = p.id_a
JOIN sizes sb ON sb.source = p.source AND sb.id = p.id_b
ORDER BY contain_max_ppm DESC, id_a, id_b
LIMIT 20
"""


SQL_DEDUP_NGRAM = f"""
{_SQL_NGRAM_PRELUDE}
SELECT id_a, id_b, inter,
       round(CAST(inter AS DOUBLE) / (sa.n_ret + sb.n_ret - inter), 6) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.source = p.source AND sa.id = p.id_a
JOIN sizes sb ON sb.source = p.source AND sb.id = p.id_b
ORDER BY CAST(inter AS DOUBLE) / (sa.n_ret + sb.n_ret - inter) DESC, id_a, id_b
LIMIT 20
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 32-bit SimHash per document (pure integer arithmetic —
    bit-identical across engines)."""
    from document_vector_indexer_spark.operators.dedup import simhash_df

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return simhash_df(docs)


SQL_DEDUP_SIMHASH = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                                        '\\s+'), x -> x <> '') AS words
  FROM documents WHERE doc_id < 100
),
h AS (
  SELECT doc_id,
         list_transform(words, wd ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(generate_series(1, length(wd)),
                                        i -> CAST(ascii(substr(wd, i, 1)) AS BIGINT))),
                       (a, c) -> (a * 131 + c) % 2147483647)) AS hashes
  FROM w
),
votes AS (
  SELECT doc_id,
         list_transform(generate_series(0, 31), b ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(hashes, hh ->
                           CASE WHEN (hh // CAST(power(2, b) AS BIGINT)) % 2 = 1
                                THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
                       (a, v) -> a + v)) AS bit_votes
  FROM h
)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(generate_series(1, 32), i ->
           CASE WHEN bit_votes[i] > 0 THEN CAST(power(2, i - 1) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END)),
         (a, x) -> a + x) AS simhash
FROM votes
"""


def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs through the scale path: sign-LSH
    bucket blocking over the vectors, NOT an explicit label column.

    The corpus has no natural near-dups at high cosine (max same-label
    cosine ~0.33 — round-2 finding: the old label-blocked query green-
    matched on 0 rows, proving nothing), so the query PLANTS them
    deterministically: every 5th vector is duplicated under vec_id +
    10000. Identical vectors land in identical LSH buckets in every
    band, so the blocked join provably recovers each planted pair; the
    brute-force oracle then checks the LSH path returns *exactly* the
    true pair set — recall and precision 1.0 on this data, with
    spark_rows > 0.

    r10: the operator sizes bits to the corpus (one count() fit job;
    bucket key grows ~log2(n) so candidate volume stays LINEAR in the
    corpus — the r10 decade sweep measured fixed bits=4 going
    quadratic at ~sf1 and filling the disk). The brute-force oracle is
    bits-INDEPENDENT: identical planted vectors collide in every band
    at any bits, and nothing non-identical reaches 0.95 on this
    corpus, so recall stays exactly 1.0 while bits track n.

    Late r11: the band count is sized too (the recall contract,
    SCALE.md r11 §5) — the floor of 6 means every driver-scale plan
    resolves to the same 6 bands as before (asserted in tests at the
    fixtures' own n), and identical planted vectors collide at ANY
    band count, so the oracle is bands-independent the same way it is
    bits-independent.
    """
    from document_vector_indexer_spark.operators.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    pairs = embedding_near_dup_pairs(
        emb.unionByName(planted), threshold=0.95, dim=64
    )
    return (
        pairs.orderBy(F.col("sim").desc(), "id_a", "id_b")
        .limit(200)
        .select("id_a", "id_b", F.round("sim", 6).alias("cos_sim"))
    )


# Brute-force oracle over the same planted corpus: the LSH-blocked Spark
# result must equal the full all-pairs answer (blocking is an optimization,
# not a semantic change, for pairs this far above threshold).
SQL_DEDUP_EMBED = f"""
WITH allv AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {SQL_COSINE('a.embedding', 'b.embedding')} AS sim
  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(sim, 6) AS cos_sim
FROM pairs WHERE sim >= 0.95
ORDER BY sim DESC, id_a, id_b LIMIT 200
"""


def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH band/bucket assignments themselves (the blocking
    primitive behind ``q_dedup_embed``), hash-checked value-for-value
    against a DuckDB oracle that carries the identical ±1 hyperplane
    literals — the projections are exact sequences of double adds and
    subtracts, so the sign pattern is bit-identical in both engines."""
    from document_vector_indexer_spark.operators.dedup import embedding_lsh_blocks

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        embedding_lsh_blocks(emb, dim=64)
        .select("vec_id", "band", "bucket")
        .orderBy("vec_id", "band")
    )


def lsh_band_union_sql(where: str = "TRUE") -> str:
    """Mirrored-oracle band/bucket SQL (UNION ALL, one SELECT per band)
    over ``embeddings WHERE <where>``, generated from the same seeded
    hyperplanes the Spark operator uses (its bands=6, bits=4 defaults)
    — shared by q_lsh_buckets and q_knn_lsh_pinned so the
    mirror logic exists exactly once."""
    from document_vector_indexer_spark.operators.dedup import lsh_hyperplanes

    H = lsh_hyperplanes(64, 6, 4)

    def dot_sql(plane) -> str:
        # left-to-right double accumulation, matching F.aggregate's fold
        terms = "".join(
            f" {'+' if v > 0 else '-'} CAST(embedding[{i + 1}] AS DOUBLE)"
            for i, v in enumerate(plane)
        )
        return "0.0" + terms

    parts = []
    for b in range(6):
        bucket = " + ".join(
            f"(CASE WHEN ({dot_sql(H[b][j])}) > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(4)
        )
        parts.append(
            f"SELECT vec_id, {b} AS band, CAST({bucket} AS INTEGER) AS bucket"
            f" FROM embeddings WHERE {where}"
        )
    return " UNION ALL ".join(parts)


SQL_LSH_BUCKETS = lsh_band_union_sql() + " ORDER BY vec_id, band"


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: one wide sign-LSH cell per
    vector, lowest id per cell survives. Planted duplicates (every 5th
    vector re-inserted under vec_id + 10000, same precedent as
    q_dedup_embed) guarantee identical vectors share a cell, so the
    n_members > 1 groups provably contain every planted pair — the
    green row checks real merge behavior, not a bucketing of
    singletons."""
    from document_vector_indexer_spark.operators.dedup import (
        semantic_dedup_survivors,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return (
        semantic_dedup_survivors(emb.unionByName(planted), dim=64)
        .orderBy("bucket")
    )


def _sql_dedup_semantic() -> str:
    """Mirrored oracle: the identical seeded ±1 hyperplanes (bands=1,
    bits=12 = ``dedup.SEMANTIC_BITS``) as exact add/subtract chains, then the same
    min/count per cell over the same planted corpus."""
    from document_vector_indexer_spark.operators.dedup import lsh_hyperplanes

    H = lsh_hyperplanes(64, 1, 12)

    def dot_sql(plane) -> str:
        terms = "".join(
            f" {'+' if v > 0 else '-'} CAST(embedding[{i + 1}] AS DOUBLE)"
            for i, v in enumerate(plane)
        )
        return "0.0" + terms

    bucket = " + ".join(
        f"(CASE WHEN ({dot_sql(H[0][j])}) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(12)
    )
    return f"""
WITH allv AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
)
SELECT CAST({bucket} AS INTEGER) AS bucket,
       min(vec_id) AS survivor_id, count(*) AS n_members
FROM allv
GROUP BY 1
ORDER BY bucket
"""


SQL_DEDUP_SEMANTIC = _sql_dedup_semantic()


# --- approximate / model-backed (rows-only checks) -------------------------


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from document_vector_indexer_spark.operators.similarity import knn_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_lsh(emb.filter(F.col("vec_id") != 0), _query_vec(spark, sf_dir), k=10)


_IVF_NLIST = 16
_IVF_NPROBE = 4


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF kNN with PINNED centroids (the corpus vectors vec_id 3..18,
    cell = vec_id - 3) instead of KMeans-trained ones, so the whole
    pipeline — map-side argmin cell assignment, nprobe probe list,
    cell-pruned cosine top-k — is deterministic and the DuckDB oracle
    reproduces it value-for-value (round-3 VERDICT: the same
    literal-mirroring trick that oracled q_dedup_semantic). The
    KMeans-trained variant stays available as
    operators/similarity.knn_ivf (unit-tested, recall vs brute)."""
    from document_vector_indexer_spark.operators.similarity import knn_ivf_pinned

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_rows = (
        emb.filter(
            (F.col("vec_id") >= 3) & (F.col("vec_id") < 3 + _IVF_NLIST)
        )
        .orderBy("vec_id")
        .collect()
    )
    centroids = [(r.vec_id - 3, list(r.embedding)) for r in cent_rows]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = knn_ivf_pinned(
        emb.filter(F.col("vec_id") >= 3), queries, centroids,
        k=5, nprobe=_IVF_NPROBE,
    )
    return out.select(
        F.col("query_id").alias("qid"), "id",
        (F.round("sim", 6) + 0.0).alias("cos_sim"), "rk",
    )


_SQL_SQDIST = (
    "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),"
    " list_transform(generate_series(1, len({a})),"
    " i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), (s, x) -> s + x))"
)

SQL_KNN_IVF = f"""
WITH cent AS (
  SELECT vec_id - 3 AS cell, embedding AS centroid
  FROM embeddings WHERE vec_id BETWEEN 3 AND {3 + _IVF_NLIST - 1}
),
corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
q AS (SELECT vec_id AS qid, embedding AS q_vec FROM embeddings WHERE vec_id < 3),
assigned AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT c.vec_id, c.embedding, t.cell,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY {_SQL_SQDIST.format(a='c.embedding', b='t.centroid')}, t.cell
           ) AS crk
    FROM corpus c, cent t)
  WHERE crk = 1
),
probes AS (
  SELECT qid, q_vec, cell FROM (
    SELECT q.qid, q.q_vec, t.cell,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY {_SQL_SQDIST.format(a='q.q_vec', b='t.centroid')}, t.cell
           ) AS prk
    FROM q, cent t)
  WHERE prk <= {_IVF_NPROBE}
),
scored AS (
  SELECT p.qid, a.vec_id AS id, {SQL_COSINE('a.embedding', 'p.q_vec')} AS sim
  FROM assigned a JOIN probes p USING (cell)
)
SELECT qid, id, round(sim, 6) + 0.0 AS cos_sim,
       row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rk
FROM scored QUALIFY rk <= 5
"""


_PQ_M = 8      # subspaces over the 64-dim embeddings (dsub = 8)
_PQ_KSUB = 8   # codewords per subspace: corpus vectors vec_id 3..10


def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization (ADC) kNN with PINNED codebooks — the
    fourth ANN tier (brute / LSH / IVF / PQ), oracled end-to-end: the
    per-subspace distances are fixed-point longs BEFORE any
    accumulation (operators/similarity.knn_pq_pinned), so encode
    argmin, ADC table lookups, and the final sum are pure-integer and
    the DuckDB oracle mirrors them value-for-value. Codebook = corpus
    vectors vec_id 3..10, sliced per subspace (same pinning move as
    the IVF centroids above)."""
    from document_vector_indexer_spark.operators.similarity import knn_pq_pinned

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb_rows = (
        emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 3 + _PQ_KSUB))
        .orderBy("vec_id")
        .collect()
    )
    codebook = [list(r.embedding) for r in cb_rows]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = knn_pq_pinned(
        emb.filter(F.col("vec_id") >= 3), queries, codebook, m=_PQ_M, k=5
    )
    return out.select(F.col("query_id").alias("qid"), "id", "adc_fp", "rk")


def _sql_pq_dq(a: str, b: str, s: str) -> str:
    """floor(1e6 * squared-L2 of subspace ``s`` slices) as BIGINT —
    mirrors operators/similarity.pq_sub_sqdist_fp fold-for-fold."""
    return (
        "CAST(floor(1000000 * list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(generate_series(1, 8), "
        f"i -> (CAST({a}[{s}*8+i] AS DOUBLE) - CAST({b}[{s}*8+i] AS DOUBLE))"
        f" * (CAST({a}[{s}*8+i] AS DOUBLE) - CAST({b}[{s}*8+i] AS DOUBLE)))), "
        "(acc, x) -> acc + x)) AS BIGINT)"
    )


SQL_KNN_PQ = f"""
WITH cb AS (
  SELECT vec_id - 3 AS j, embedding
  FROM embeddings WHERE vec_id BETWEEN 3 AND {3 + _PQ_KSUB - 1}
),
corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 3),
sub AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s),
codes AS (
  SELECT vec_id, s, j FROM (
    SELECT c.vec_id, t.s, cb.j,
           row_number() OVER (PARTITION BY c.vec_id, t.s
             ORDER BY {_sql_pq_dq('c.embedding', 'cb.embedding', 't.s')}, cb.j)
             AS crk
    FROM corpus c CROSS JOIN sub t CROSS JOIN cb)
  WHERE crk = 1
),
scored AS (
  SELECT q.qid, codes.vec_id AS id,
         CAST(sum({_sql_pq_dq('q.embedding', 'cb.embedding', 'codes.s')})
              AS BIGINT) AS adc_fp
  FROM q CROSS JOIN codes JOIN cb ON cb.j = codes.j
  GROUP BY 1, 2
)
SELECT qid, id, adc_fp,
       row_number() OVER (PARTITION BY qid ORDER BY adc_fp, id) AS rk
FROM scored QUALIFY rk <= 5
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash near-dup pairs through the PORTABLE pipeline
    (operators/dedup.minhash_portable_pairs): char-fold shingle hashes
    + affine permutations mod M31 + band blocking + signature-estimate
    filter — every stage deterministic pure-integer arithmetic, so the
    DuckDB oracle reproduces it value-for-value (the MLlib variant,
    kept as q_dedup_minhash_mllib, can only ever be rows-only)."""
    from document_vector_indexer_spark.operators.dedup import minhash_portable_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_portable_pairs(docs, threshold=0.25)
    return pairs.select(
        "id_a", "id_b", (F.round("est_jaccard", 6) + 0.0).alias("est_jaccard")
    ).orderBy("id_a", "id_b")


# Mirrors minhash_portable_pairs exactly: same char-fold hash (see
# SQL_DEDUP_SIMHASH), same a_i/b_i coefficient formulas derived from the
# permutation index, same band keys, same bucket cap, same estimate.
SQL_DEDUP_MINHASH = """
WITH w AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                                        '\\s+'), x -> x <> '') AS words
  FROM documents
),
sh AS (
  SELECT id,
         list_transform(generate_series(1, len(words) - 1),
                        i -> words[i] || ' ' || words[i+1]) AS shingles
  FROM w WHERE len(words) >= 2
),
h AS (
  SELECT id,
         list_transform(shingles, wd ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(generate_series(1, length(wd)),
                                        i -> CAST(ascii(substr(wd, i, 1)) AS BIGINT))),
                       (a, c) -> (a * 131 + c) % 2147483647)) AS hashes
  FROM sh
),
sig AS (
  SELECT id,
         list_transform(generate_series(0, 15), i ->
           list_min(list_transform(hashes, x ->
             (((2*i + 1) * 104729 % 2147483647) * x
              + (7919*i + 13) % 2147483647) % 2147483647))) AS sig
  FROM h
),
bands AS (
  SELECT id,
         CAST(b AS VARCHAR) || ':' ||
         array_to_string(sig[b*4 + 1 : b*4 + 4], ',') AS band_key
  FROM sig, unnest(generate_series(0, 3)) AS t(b)
),
buckets AS (
  SELECT band_key FROM bands GROUP BY 1 HAVING count(*) BETWEEN 2 AND 50
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a
  JOIN buckets k ON k.band_key = a.band_key
  JOIN bands b ON b.band_key = a.band_key AND a.id < b.id
),
est AS (
  SELECT id_a, id_b,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(generate_series(1, 16), i ->
                  CASE WHEN sa.sig[i] = sb.sig[i] THEN CAST(1 AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END)),
              (a, x) -> a + x) AS DOUBLE) / 16 AS est_jaccard
  FROM cand JOIN sig sa ON sa.id = cand.id_a JOIN sig sb ON sb.id = cand.id_b
)
SELECT id_a, id_b, round(est_jaccard, 6) + 0.0 AS est_jaccard
FROM est WHERE est_jaccard >= 0.25
ORDER BY id_a, id_b
"""


def q_dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    from document_vector_indexer_spark.operators.dedup import minhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return minhash_near_dup_pairs(docs, threshold=0.3)


def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: portable-MinHash candidate pairs -> connected
    components (operators/dedup.connected_components, min-label
    propagation) -> per-doc cluster assignment with the canonical
    survivor (component = min doc id) and cluster size. This is the
    step that turns pairwise dedup output into the keep/drop decision a
    training pipeline actually executes."""
    from document_vector_indexer_spark.operators.dedup import (
        connected_components,
        minhash_portable_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_portable_pairs(docs, threshold=0.25)
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select("id", "component", "cluster_size",
                (F.col("id") == F.col("component")).alias("survivor"))
        .orderBy("id")
    )


# Transitive closure of the minhash pair graph by recursive CTE
# (min-reachable-label == component id). The pair set is exactly
# SQL_DEDUP_MINHASH's result.
# Shared recursive-closure prelude: pairs -> undirected edges ->
# min-reachable-label components. ONE definition interpolated into both
# SQL_DEDUP_CLUSTER and SQL_DEDUP_APPLY (round-4 review: a verbatim
# copy would let a future closure fix silently desynchronize the two
# oracles that pin the same operator).
_SQL_COMPONENTS_PRELUDE = f"""WITH RECURSIVE pairs AS ({SQL_DEDUP_MINHASH}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS id FROM edges),
reach(id, label) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id)"""

SQL_DEDUP_CLUSTER = f"""
{_SQL_COMPONENTS_PRELUDE},
sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT c.id, c.component, s.cluster_size,
       c.id = c.component AS survivor
FROM comp c JOIN sizes s USING (component)
ORDER BY c.id
"""


def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dedup KEEP/DROP decision applied end-to-end
    (operators/dedup.near_dedup_keep_first, the `curate --dedup near`
    path): portable-MinHash pairs -> connected components -> drop every
    doc whose component label is not its own id. Output carries
    md5(text) so the oracle proves surviving rows ride through intact,
    not just that the id set matches."""
    from document_vector_indexer_spark.operators.dedup import (
        near_dedup_keep_first,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = near_dedup_keep_first(docs, threshold=0.25)
    return out.select(
        "doc_id", F.md5("text").alias("text_md5")
    ).orderBy("doc_id")


SQL_DEDUP_APPLY = f"""
{_SQL_COMPONENTS_PRELUDE}
SELECT d.doc_id, md5(d.text) AS text_md5
FROM documents d
WHERE d.doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
ORDER BY d.doc_id
"""


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER survivorship (dedup.golden_records): one canonical record
    per near-dup cluster — longest-text representative (ties: lowest
    id), merged provenance set, member/byte rollups — vs the
    recursive-CTE closure oracle. The field-level-merge complement to
    q_dedup_apply's keep-first drop."""
    from document_vector_indexer_spark.operators.dedup import golden_records

    docs = load_table(spark, sf_dir, "documents")
    return golden_records(docs, threshold=0.25)


SQL_GOLDEN_RECORD = f"""
{_SQL_COMPONENTS_PRELUDE},
lab AS (
  SELECT d.doc_id, d.text, d.source,
         COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
),
sel AS (
  SELECT *, row_number() OVER (PARTITION BY component
              ORDER BY length(text) DESC, doc_id) AS rk
  FROM lab
),
stats AS (
  SELECT component, CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(length(text)) AS BIGINT) AS total_chars,
         string_agg(DISTINCT source, ',' ORDER BY source) AS sources
  FROM lab GROUP BY 1
)
SELECT s.component, c.doc_id AS canon_id,
       CAST(length(c.text) AS BIGINT) AS canon_chars,
       s.n_members, s.total_chars, s.sources
FROM stats s JOIN (SELECT component, doc_id, text FROM sel WHERE rk = 1) c
  USING (component)
ORDER BY s.component
"""


def q_embed_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable deterministic embedder (operators/embedding.
    embed_portable_tf): dim-16 exact-TF vectors over the pinned
    PORTABLE_VOCAB, exploded to (doc_id, pos, tf) scalar rows for the
    oracle hash. The oracled sibling of the model-backed embedding
    tier (R9, reference index_documents.py:142-194) — same dim/count
    contract as validate_dim, checked component-exactly here."""
    from document_vector_indexer_spark.operators.embedding import (
        embed_portable_tf,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = embed_portable_tf(docs, text_col="text")
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("pos", "x"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.col("x").cast("long").alias("tf"),
        )
        .orderBy("doc_id", "pos")
    )


def _sql_embed_portable() -> str:
    """Oracle generated from the SAME pinned vocabulary literal
    (single source of truth: operators/embedding.PORTABLE_VOCAB)."""
    from document_vector_indexer_spark.operators.embedding import PORTABLE_VOCAB
    from document_vector_indexer_spark.queries.textops import _DUCK_WORDS

    values = ", ".join(
        f"({i}, '{w}')" for i, w in enumerate(PORTABLE_VOCAB)
    )
    words = _DUCK_WORDS.format(col="text")
    return f"""
WITH v(pos, word) AS (VALUES {values}),
w AS (
  SELECT doc_id, unnest({words}) AS word FROM documents
),
c AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n
  FROM w GROUP BY 1, 2
)
SELECT d.doc_id, CAST(v.pos AS BIGINT) AS pos,
       CAST(coalesce(c.n, 0) AS BIGINT) AS tf
FROM documents d CROSS JOIN v
LEFT JOIN c ON c.doc_id = d.doc_id AND c.word = v.word
ORDER BY d.doc_id, pos
"""


SQL_EMBED_PORTABLE = _sql_embed_portable()


def q_embed_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    from document_vector_indexer_spark.operators.embedding import embed_local

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = embed_local(docs, text_col="text", dim=EMBEDDING_DIM)
    return out.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        (V.l2_norm("embedding") > 0).alias("nonzero"),
    )


def q_embed_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full pipeline shape, offline: clean -> chunk ->
    mapInPandas batch 'API' embedding (deterministic fake) with the
    reference's retry/validation contract -> dim check — the id-less
    chain of plans.pipeline."""
    from document_vector_indexer_spark.plans.pipeline import (
        chunk_table,
        embed_chunks,
    )

    docs = load_table(spark, sf_dir, "documents").limit(200)
    embedded = embed_chunks(chunk_table(docs, "fixed", 180, 30), None, 32)
    return embedded.groupBy("split_strategy").agg(
        F.count("*").alias("n_chunks"),
        F.count_if(F.size("embedding") == 32).alias("n_dim_ok"),
    )


def q_vec_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (functions/vector.py):
    per-vector scale = max|v|/127, half-away rounding via exact floor
    arithmetic, manifest of integer-only invariants (code sum, L1,
    saturation count) plus floor(scale*1e9) — every output column is
    either an exact integer or an exact floor, so the driver hash is
    stable across engines. The scale sits in its own projection so the
    max-abs aggregate is not re-derived per element inside the
    quantize lambda (lambda-boundary CSE)."""
    emb = load_table(spark, sf_dir, "embeddings").repartition(F.col("vec_id"))
    vs = emb.select("vec_id", V.to_double("embedding").alias("v")).select(
        "vec_id", "v", V.quant_scale_int8(F.col("v")).alias("scale")
    )
    q = vs.select(
        "vec_id",
        "scale",
        V.quantize_int8(F.col("v"), F.col("scale")).alias("qv"),
    )
    zero = F.lit(0).cast("long")
    return q.select(
        "vec_id",
        F.floor(F.col("scale") * F.lit(1e9)).cast("long").alias("scale_ppb"),
        F.aggregate(F.col("qv"), zero, lambda a, x: a + x).alias("q_sum"),
        F.aggregate(
            F.transform(F.col("qv"), lambda x: F.abs(x)), zero, lambda a, x: a + x
        ).alias("q_l1"),
        F.size(F.filter(F.col("qv"), lambda x: F.abs(x) == 127))
        .cast("long")
        .alias("n_sat"),
    ).orderBy("vec_id")


SQL_VEC_QUANTIZE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
),
q AS (
  SELECT vec_id, scale,
         list_transform(v, x -> CASE
           WHEN scale = 0 THEN CAST(0 AS BIGINT)
           WHEN x >= 0 THEN CAST(floor(x / scale + 0.5) AS BIGINT)
           ELSE -CAST(floor(-x / scale + 0.5) AS BIGINT) END) AS qv
  FROM s
)
SELECT vec_id,
       CAST(floor(scale * 1e9) AS BIGINT) AS scale_ppb,
       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
       CAST(list_aggregate(list_transform(qv, x -> abs(x)), 'sum') AS BIGINT) AS q_l1,
       CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat
FROM q ORDER BY vec_id
"""


QUERIES: dict[str, QuerySpec] = {
    "q_vec_cosine": QuerySpec(q_vec_cosine, SQL_VEC_COSINE),
    "q_vec_quantize": QuerySpec(
        q_vec_quantize, SQL_VEC_QUANTIZE, "int8 symmetric embedding quantization"
    ),
    "q_vec_norm": QuerySpec(q_vec_norm, SQL_VEC_NORM),
    "q_vec_dim_check": QuerySpec(q_vec_dim_check, SQL_VEC_DIM_CHECK),
    "q_knn_brute": QuerySpec(q_knn_brute, SQL_KNN_BRUTE),
    "q_knn_per_query": QuerySpec(q_knn_per_query, SQL_KNN_PER_QUERY),
    "q_dedup_exact": QuerySpec(q_dedup_exact, SQL_DEDUP_EXACT),
    "q_dedup_ngram": QuerySpec(q_dedup_ngram, SQL_DEDUP_NGRAM),
    "q_dedup_contain": QuerySpec(
        q_dedup_contain,
        SQL_DEDUP_CONTAIN,
        "asymmetric shingle containment (quote-inclusion dedup), exact ppm",
    ),
    "q_dedup_simhash": QuerySpec(q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "q_dedup_embed": QuerySpec(q_dedup_embed, SQL_DEDUP_EMBED),
    "q_lsh_buckets": QuerySpec(q_lsh_buckets, SQL_LSH_BUCKETS),
    "q_dedup_semantic": QuerySpec(
        q_dedup_semantic,
        SQL_DEDUP_SEMANTIC,
        "SemDeDup-style survivor-per-LSH-cell semantic dedup",
    ),
    # approximate / model-backed: rows-only driver check
    "q_knn_lsh": QuerySpec(
        q_knn_lsh, None,
        "BucketedRandomProjectionLSH approx kNN — ROWS-ONLY BY DESIGN: "
        "MLlib's internal hyperplanes are not SQL-mirrorable; quality "
        "held by the recall-vs-brute pytest (tests/test_scale_ops.py)",
    ),
    "q_knn_ivf": QuerySpec(q_knn_ivf, SQL_KNN_IVF),
    "q_knn_pq": QuerySpec(
        q_knn_pq,
        SQL_KNN_PQ,
        "product-quantization ADC kNN, pinned codebooks, fixed-point exact",
    ),
    "q_dedup_minhash": QuerySpec(q_dedup_minhash, SQL_DEDUP_MINHASH),
    "q_dedup_cluster": QuerySpec(q_dedup_cluster, SQL_DEDUP_CLUSTER),
    "q_dedup_apply": QuerySpec(
        q_dedup_apply,
        SQL_DEDUP_APPLY,
        "near-dedup keep/drop applied end-to-end (curate --dedup near path)",
    ),
    "q_golden_record": QuerySpec(
        q_golden_record,
        SQL_GOLDEN_RECORD,
        "ER survivorship: canonical record + merged provenance per cluster",
    ),
    "q_dedup_minhash_mllib": QuerySpec(
        q_dedup_minhash_mllib, None,
        "MLlib MinHashLSH near-dup pairs — ROWS-ONLY BY DESIGN: MLlib's "
        "internal hash coefficients are not SQL-mirrorable; quality held "
        "by the recall-vs-portable-minhash pytest (tests/test_scale_ops.py)",
    ),
    "q_embed_portable": QuerySpec(
        q_embed_portable, SQL_EMBED_PORTABLE,
        "dim-16 exact-TF embeddings over the pinned vocab, "
        "component-exact vs the oracle — the oracled sibling of the "
        "model-backed embedding tier",
    ),
    "q_embed_local": QuerySpec(
        q_embed_local, None,
        "MLlib TF-IDF embeddings — ROWS-ONLY BY DESIGN: model-backed "
        "(hashing TF + fitted IDF weights); dim/nonzero contracts "
        "checked in-query, full pipeline tested in tests/test_pipeline.py; "
        "oracled sibling: q_embed_portable (r5)",
    ),
    "q_embed_pipeline": QuerySpec(
        q_embed_pipeline, None,
        "clean->chunk->batched embed->validate pipeline — ROWS-ONLY BY "
        "DESIGN: exercises the mapInPandas retry/validation contract "
        "(reference index_documents.py:142-194); chunk/clean stages are "
        "separately oracled (q_chunk_*, q_clean_text)",
    ),
}
