"""Similarity search over embedding columns (``array<float>``).

Four tiers, mirroring how a 100 TB deployment would stage ANN:
1. ``knn_brute`` — exact cosine top-k: every corpus row is scored
   against the broadcast queries (pure column exprs, O(n) per query
   vector, the corpus never shuffles), then ``_top_k`` ranks with a
   ``row_number`` window after an exchange on ``query_id``. Spark's
   partial WindowGroupLimit cuts each partition to k rows per query
   before that exchange; a literal ``query_id`` (one query) drops the
   partitioning, and the optimizer plans a TakeOrderedAndProject. The
   baseline and the correctness oracle for the approximate tiers.
2. LSH: ``knn_lsh`` is MLlib's BucketedRandomProjectionLSH (seeded
   random hyperplanes, euclidean); ``knn_lsh_pinned`` bands sign
   bits of pinned hyperplanes into (band, bucket) codes map-side.
   Either way candidate generation is an equi-join on bucket ids.
3. IVF: the corpus is split into nlist cells, a query probes the
   nprobe nearest centroids and scans only those cells (the classic
   FAISS-IVF layout, done with DataFrames). Cell assignment is a
   map-side ``array_min`` over the centroid literals, no join;
   ``knn_ivf_pinned`` takes the centroids from the caller,
   ``knn_ivf`` trains them with seeded KMeans.
4. PQ: ``knn_pq_pinned`` encodes rows map-side against a pinned
   product-quantization codebook and ranks by asymmetric distance
   summed in fixed-point longs.

The pinned tiers are deterministic, so a SQL oracle can mirror them
value for value; the MLlib-backed ``knn_lsh`` and ``knn_ivf`` are
checked for recall against ``knn_brute`` instead.

The reference delegates this entirely to pgvector
(/root/reference/README.md:16; the `embedding <=> q` top-k query is
the downstream consumer's whole API) — here it is native.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from document_vector_indexer_spark.functions import vector as V


def cosine_over_norms(a: str, b: str, n_a: str, n_b: str) -> "F.Column":
    """Exact cosine of vector columns ``a`` and ``b`` from their
    precomputed ``V.l2_norm`` columns ``n_a`` and ``n_b``:
    ``dot / (n_a · n_b)``. A norm is a row property, so each side folds
    it once per row BEFORE the pair join and each pair folds only the
    dot (r6) — the same expression tree per value as ``V.cosine``, hence
    bit-identical sims. Every exact scorer runs this one expression:
    the kNN tiers through :func:`_score` and
    ``dedup.embedding_near_dup_pairs``."""
    return V.dot(a, b) / (F.col(n_a) * F.col(n_b))


def _score(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    on: str | list[str] | None = None,
) -> DataFrame:
    """(query_id, id, sim): exact cosine of each ``corpus`` row against
    the BROADCAST ``queries`` rows (``query_id``, ``q_vec``) it joins on
    ``on`` — every query when ``on`` is None (a cross join). The caller
    builds the candidate keys; norms are hoisted per row on both sides
    before the join."""
    return (
        corpus.withColumn("_n_v", V.l2_norm(vec_col))
        .join(F.broadcast(queries.withColumn("_n_q", V.l2_norm("q_vec"))), on)
        .select(
            "query_id",
            F.col(id_col).alias("id"),
            cosine_over_norms(vec_col, "q_vec", "_n_v", "_n_q").alias("sim"),
        )
    )


def _top_k(scored: DataFrame, k: int, key: "F.Column") -> DataFrame:
    """The first ``k`` rows per ``query_id`` by ``key`` then ``id`` (a
    unique tiebreak, so deterministic), ranked in ``rk``."""
    w = Window.partitionBy("query_id").orderBy(key, F.col("id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )


def knn_brute(
    vectors: DataFrame,
    query: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
) -> DataFrame:
    """Exact cosine top-k neighbors for every row of ``query`` (small,
    broadcast) against ``vectors`` (arbitrarily large).

    Returns (query_id, id, sim, rk). Deterministic: unique id tiebreak.
    Scale: broadcast the queries, per-partition partial top-k via the
    rank window is handled by Spark's WindowExec after a single shuffle
    on query_id — with q queries the shuffle carries q*k rows per
    partition at most once AQE coalesces.
    """
    q = query.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    return _top_k(_score(vectors, q, vec_col, id_col), k, F.col("sim").desc())


def knn_lsh(
    vectors: DataFrame,
    query: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate kNN via BucketedRandomProjectionLSH (euclidean).

    Returns (id, dist) for the single query row. Seeded hyperplanes ->
    deterministic buckets; still rows-only checked (approximation
    contract, not value equality).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    vecs = vectors.select(
        F.col(id_col).alias("id"), array_to_vector(F.col(vec_col)).alias("features")
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(vecs)
    q_row = query.select(array_to_vector(F.col(vec_col)).alias("features")).head()
    if q_row is None:
        raise ValueError(
            "knn_lsh: query DataFrame is empty — need exactly one query vector"
        )
    return model.approxNearestNeighbors(vecs, q_row.features, k).select(
        "id", F.col("distCol").alias("dist")
    )


def train_ivf_centroids(
    vectors: DataFrame,
    nlist: int,
    vec_col: str = "embedding",
    seed: int = 42,
):
    """Seeded KMeans centroids for IVF cell assignment. Returns the
    fitted model (centroids are tiny: nlist x dim — broadcastable)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = vectors.select(array_to_vector(F.col(vec_col)).alias("features"))
    return KMeans(k=nlist, seed=seed, featuresCol="features").fit(feat)


def _centroid_literals(centroids: list[tuple[int, list[float]]]) -> "F.Column":
    """``array<struct<cell:int, centroid:array<double>>>`` literal column
    from (cell, vector) pairs — nlist x dim scalars pinned into the
    plan, same trick as dedup.lsh_hyperplanes literal mirroring."""
    return F.array(
        *[
            F.struct(
                F.lit(int(cell)).alias("cell"),
                F.array(*[F.lit(float(x)) for x in vec])
                .cast("array<double>")
                .alias("centroid"),
            )
            for cell, vec in centroids
        ]
    )


def ivf_cell_distances(vec: "F.Column", cent_arr: "F.Column") -> "F.Column":
    """Per-centroid ``struct(d, cell)`` distances — pure column math, so
    argmin/top-n over it is map-side (struct ordering = (d, cell),
    which both deduplicates exact ties deterministically and mirrors a
    SQL ``ORDER BY d, cell``)."""
    return F.transform(
        cent_arr,
        lambda c: F.struct(
            V.l2_distance(vec, c["centroid"]).alias("d"),
            c["cell"].alias("cell"),
        ),
    )


def knn_ivf_pinned(
    vectors: DataFrame,
    query: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
) -> DataFrame:
    """IVF kNN with caller-pinned centroid literals — fully
    deterministic and exactly SQL-expressible (the oracle mirrors the
    same literals), unlike the KMeans-trained :func:`knn_ivf`.

    Scale shape, better than the trained variant's windowed argmin:
    - cell assignment is MAP-SIDE ``array_min`` over the nlist
      centroid literals — zero shuffle, no centroid join, no
      per-vector window (at 100 TB this is write-time partitioning:
      the assigned frame would persist clustered by cell);
    - query probing sorts the same per-centroid distance array and
      explodes the first ``nprobe`` cells (queries are small);
    - candidate scan is one equi-join on cell against the broadcast
      probe list, then a per-query top-k window — the scan touches
      ~nprobe/nlist of the corpus, the FAISS-IVF contract.
    """
    cent_arr = _centroid_literals(centroids)
    assigned = vectors.withColumn(
        "cell",
        F.array_min(ivf_cell_distances(F.col(vec_col), cent_arr))["cell"],
    )
    probes = query.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(
            F.slice(
                F.array_sort(ivf_cell_distances(F.col(vec_col), cent_arr)),
                1,
                nprobe,
            )["cell"]
        ).alias("cell"),
    )
    scored = _score(assigned, probes, vec_col, id_col, on="cell")
    return _top_k(scored, k, F.col("sim").desc())


def knn_ivf(
    vectors: DataFrame,
    query: DataFrame,
    k: int,
    nlist: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    seed: int = 42,
) -> DataFrame:
    """IVF approximate kNN with KMeans-trained cells: train the
    centroids (driver receives nlist x dim floats — tiny), then run
    the exact same physical shape as :func:`knn_ivf_pinned` — map-side
    ``array_min`` cell assignment over the centroid literals, probe
    explode, one cell equi-join, per-query top-k.

    (An earlier revision assigned cells with a per-vector window over
    the nlist-exploded corpus — an extra shuffle the literal form
    doesn't need; the two variants now share one code path and the
    trained one differs only in where the centroids come from.)

    At 100 TB: cell assignment is write-time work; the per-query scan
    touches nprobe/nlist of the data — the same contract as FAISS IVF.
    """
    model = train_ivf_centroids(vectors, nlist, vec_col, seed)
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return knn_ivf_pinned(
        vectors,
        query,
        centroids,
        k=k,
        nprobe=nprobe,
        vec_col=vec_col,
        id_col=id_col,
        query_id_col=query_id_col,
    )


def knn_lsh_pinned(
    vectors: DataFrame,
    query: DataFrame,
    k: int,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
) -> DataFrame:
    """Sign-LSH approximate kNN with PINNED seeded hyperplanes
    (``dedup.lsh_hyperplanes`` — exact ±1 add/subtract projections),
    fully deterministic and SQL-mirrorable: the oracle carries the
    identical hyperplane literals, so this tier is value-checked, not
    just rows-only — the same upgrade ``knn_ivf_pinned`` gave the IVF
    tier (MLlib's ``knn_lsh`` stays as the model-backed variant; its
    internal hyperplanes are not mirrorable).

    Candidate generation: corpus and queries band into (band, bucket)
    codes MAP-SIDE (``dedup.embedding_lsh_blocks``); candidates are
    the corpus rows sharing ANY band's bucket with a query — one
    BROADCAST equi-join on two int keys (queries are small; the
    corpus never shuffles for candidate generation). A (query, id)
    pair matching in several bands dedups through max(sim) — sim is
    the same deterministic expression on the same inputs, so max
    just collapses bit-identical duplicates. Exact cosine rerank +
    per-query top-k window ends the plan; the window input is
    candidates only (bucket-bounded, ~P[band match] x corpus). Both
    sides band with ``embedding_lsh_blocks``' default 6 bands x 4 bits,
    the hyperplanes the oracle SQL mirrors (see its scale note for
    sizing bits to a corpus).
    """
    from document_vector_indexer_spark.operators.dedup import embedding_lsh_blocks

    cb = embedding_lsh_blocks(vectors, dim, vec_col, id_col)
    qb = embedding_lsh_blocks(query, dim, vec_col, query_id_col).select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        "band",
        "bucket",
    )
    cand = _score(cb, qb, vec_col, id_col, on=["band", "bucket"])
    uniq = cand.groupBy("query_id", "id").agg(F.max("sim").alias("sim"))
    return _top_k(uniq, k, F.col("sim").desc())


def _pq_codebook_literal(codebook: list[list[float]]) -> "F.Column":
    """ksub full-dim vectors as a nested array<array<double>> literal;
    codeword j of subspace s is the s-th dsub-slice of codebook[j]."""
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in cw]) for cw in codebook]
    )


def pq_sub_sqdist_fp(
    vec: "F.Column", cb_lit: "F.Column", s: "F.Column", j: "F.Column", dsub: int
) -> "F.Column":
    """floor(1e6 * squared-L2(subvector s of vec, subvector s of
    codeword j)) as a long — the fixed-point distance both the encode
    argmin and the ADC sum run on. Quantizing BEFORE any accumulation
    makes every downstream comparison and sum pure-integer, hence
    bit-identical on any engine and partitioning (the q_vec_centroid
    precedent: floats only inside one left-to-right fold)."""
    a = F.slice(vec, s * dsub + 1, dsub)
    b = F.slice(F.element_at(cb_lit, j + 1), s * dsub + 1, dsub)
    d = F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.floor(d * 1_000_000)


def knn_pq_pinned(
    vectors: DataFrame,
    query: DataFrame,
    codebook: list[list[float]],
    m: int,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
) -> DataFrame:
    """Product-quantization kNN (Jégou et al., asymmetric distance) with
    caller-PINNED codebooks — the fourth ANN tier after brute/LSH/IVF,
    and like the pinned IVF/LSH variants fully deterministic and
    exactly SQL-expressible.

    ``codebook``: ksub full-dim vectors; subspace s of codeword j is
    the s-th slice. Corpus rows ENCODE map-side (per subspace, argmin
    of the fixed-point subvector distance over ksub codewords — zero
    shuffle; at 100 TB the uint8 codes are write-time artifacts ~m
    bytes/vector, the whole point of PQ: a 768-dim float corpus scans
    as 8-96 bytes/row). Queries build their m x ksub ADC lookup table
    the same way; scoring is one BROADCAST join (queries small) and a
    per-subspace table lookup summed in pure longs; per-query top-k
    window ends the plan. Approximation error comes only from the
    quantization itself — ranking given the codes is exact.
    """
    dim = len(codebook[0])
    ksub = len(codebook)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    dsub = dim // m
    cb = _pq_codebook_literal(codebook)
    subspaces = F.sequence(F.lit(0), F.lit(m - 1))
    codewords = F.sequence(F.lit(0), F.lit(ksub - 1))

    def encode(vec: "F.Column") -> "F.Column":
        return F.transform(
            subspaces,
            lambda s: F.array_min(
                F.transform(
                    codewords,
                    lambda j: F.struct(
                        pq_sub_sqdist_fp(vec, cb, s, j, dsub).alias("d"),
                        j.cast("int").alias("j"),
                    ),
                )
            )["j"],
        )

    coded = vectors.select(
        F.col(id_col).alias("id"), encode(F.col(vec_col)).alias("code")
    )
    dtab = F.transform(
        subspaces,
        lambda s: F.transform(
            codewords, lambda j: pq_sub_sqdist_fp(F.col(vec_col), cb, s, j, dsub)
        ),
    )
    q = query.select(F.col(query_id_col).alias("query_id"), dtab.alias("dtab"))
    scored = coded.join(F.broadcast(q)).select(
        "query_id",
        "id",
        F.aggregate(
            subspaces,
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.element_at(
                F.element_at(F.col("dtab"), s + 1),
                F.element_at(F.col("code"), s + 1) + 1,
            ),
        ).alias("adc_fp"),
    )
    return _top_k(scored, k, F.col("adc_fp"))
