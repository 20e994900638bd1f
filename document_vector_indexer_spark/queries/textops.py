"""Text-pipeline queries: the reference's clean/chunk surface, oracle-checked.

The flagship (``flagship_chunk_topk``) is the reference's whole reason
to exist done Spark-natively: clean (index_documents.py:58-63) ->
fixed-overlap chunk (index_documents.py:79-103) -> chunk table ->
join back to documents -> top-k longest chunks per language.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from document_vector_indexer_spark.functions import text as TX
from document_vector_indexer_spark.io import load_table
from document_vector_indexer_spark.operators.chunking import chunk_documents
from document_vector_indexer_spark.queries.base import QuerySpec

# Chunk geometry used by the oracle-checked chunk queries. The corpus
# documents are 78-540 chars, so the reference defaults (1200/200) would
# produce one chunk per doc; 180/30 exercises multi-window behavior.
CHUNK_SIZE = 180
OVERLAP = 30
STEP = CHUNK_SIZE - OVERLAP

# DuckDB fragment: the reference clean_text (index_documents.py:58-63).
# NOTE DuckDB regexp_replace needs the 'g' flag (Spark is global by default).
SQL_CLEAN = (
    "regexp_replace(regexp_replace(regexp_replace(replace({col}, chr(160), ' '),"
    " '[ \t]+', ' ', 'g'), '\\n{{3,}}', e'\\n\\n', 'g'), '^\\s+|\\s+$', '', 'g')"
)

# DuckDB CTE producing the fixed-overlap chunk table at (CHUNK_SIZE, OVERLAP):
# start positions 0, STEP, 2*STEP, ... up to the first window reaching the
# end (index_documents.py:91-103); strip each window, drop empties,
# re-index chunk_pos after the drop (posexplode parity).
SQL_FIXED_CHUNKS = f"""
cleaned AS (
  SELECT doc_id, lang, source, {SQL_CLEAN.format(col='text')} AS t
  FROM documents
),
wins AS (
  SELECT doc_id, lang, source, t,
         unnest(range(0, (CASE WHEN length(t) <= {CHUNK_SIZE} THEN 0
                ELSE CAST(ceil((length(t) - {CHUNK_SIZE}) / {STEP}.0) AS BIGINT)
                END) + 1)) * {STEP} AS win_start
  FROM cleaned
),
chunks0 AS (
  SELECT doc_id, lang, source, win_start,
         regexp_replace(substr(t, win_start + 1, {CHUNK_SIZE}), '^\\s+|\\s+$', '', 'g') AS chunk_text
  FROM wins
),
chunks AS (
  SELECT doc_id, lang, source, chunk_text,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY win_start) - 1 AS INTEGER) AS chunk_pos
  FROM chunks0 WHERE chunk_text <> ''
)
"""


def _chunks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", TX.clean_text("text")
    )
    return chunk_documents(
        docs,
        strategy="fixed",
        chunk_size=CHUNK_SIZE,
        overlap=OVERLAP,
        id_cols=("doc_id", "lang", "source"),
    )


def flagship_chunk_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 longest chunks per language; deterministic tiebreaks."""
    chunks = _chunks_df(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.length("chunk_text").desc(), F.col("doc_id"), F.col("chunk_pos")
    )
    return (
        chunks.withColumn("chunk_chars", F.length("chunk_text").cast("long"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select("lang", "doc_id", "chunk_pos", "chunk_text", "chunk_chars", "rk")
    )


SQL_FLAGSHIP = f"""
WITH {SQL_FIXED_CHUNKS}
SELECT lang, doc_id, chunk_pos, chunk_text,
       CAST(length(chunk_text) AS BIGINT) AS chunk_chars,
       CAST(row_number() OVER (PARTITION BY lang
            ORDER BY length(chunk_text) DESC, doc_id, chunk_pos) AS BIGINT) AS rk
FROM chunks
QUALIFY rk <= 5
"""


def chunk_fixed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) chunk counts + char totals over the full chunk
    table — verifies the whole fixed-chunker output, not just top-k."""
    chunks = _chunks_df(spark, sf_dir)
    return (
        chunks.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.length("chunk_text")).cast("long").alias("total_chars"),
            F.max(F.length("chunk_text")).cast("long").alias("max_chars"),
            F.max("chunk_pos").cast("long").alias("max_pos"),
        )
        .select("lang", "source", "n_chunks", "total_chars", "max_chars", "max_pos")
    )


SQL_CHUNK_FIXED_STATS = f"""
WITH {SQL_FIXED_CHUNKS}
SELECT lang, source, count(*) AS n_chunks,
       CAST(sum(length(chunk_text)) AS BIGINT) AS total_chars,
       CAST(max(length(chunk_text)) AS BIGINT) AS max_chars,
       CAST(max(chunk_pos) AS BIGINT) AS max_pos
FROM chunks
GROUP BY lang, source
"""


# ---------------------------------------------------------------------------
# Paragraph / sentence strategies. The corpus is word soup with little
# inherent structure (FIXTURES.md), so each query first injects
# structure deterministically with a literal replace — identical
# left-to-right non-overlapping semantics in both engines — making the
# strategy nontrivial at sf0.01. Literal-fixture coverage lives in
# tests/test_chunkers_golden.py.

SENT_CHUNK_SIZE = 220


def chunk_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.replace(TX.clean_text("text"), F.lit(" table "), F.lit("\n\n"))
    )
    return chunk_documents(docs, strategy="paragraph").select(
        "doc_id", "chunk_pos", "chunk_text"
    )


SQL_CHUNK_PARAGRAPH = f"""
WITH cleaned AS (
  SELECT doc_id, replace({SQL_CLEAN.format(col='text')}, ' table ', e'\\n\\n') AS t
  FROM documents
),
paras AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(t, '\\n\\s*\\n'),
                                    p -> regexp_replace(p, '^\\s+|\\s+$', '', 'g')),
                     p -> p <> '') AS parts
  FROM cleaned
),
expl AS (
  SELECT doc_id, unnest(generate_series(1, len(parts))) AS i, parts FROM paras
)
SELECT doc_id, CAST(i - 1 AS INTEGER) AS chunk_pos, parts[i] AS chunk_text
FROM expl
"""


def chunk_sentence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.replace(TX.clean_text("text"), F.lit(" the "), F.lit(". "))
    )
    return chunk_documents(
        docs, strategy="sentence", chunk_size=SENT_CHUNK_SIZE
    ).select("doc_id", "chunk_pos", "chunk_text")


# The greedy sentence-packing scan (index_documents.py:110-129) is
# inherently sequential per document; the oracle replays it with a
# recursive CTE carrying (group, buf_len) state — including the
# reference's first-buffer phantom +1 (append adds len(s)+1 at :125,
# flush resets to len(s) at :122).
SQL_CHUNK_SENTENCE = f"""
WITH RECURSIVE cleaned AS (
  SELECT doc_id, replace({SQL_CLEAN.format(col='text')}, ' the ', '. ') AS t
  FROM documents
),
marked AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(t, '^\\s+|\\s+$', '', 'g'),
                        '([.!?])\\s+', '\\1' || chr(1), 'g') AS m
  FROM cleaned
),
sents0 AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(m, chr(1)),
                                    p -> regexp_replace(p, '^\\s+|\\s+$', '', 'g')),
                     p -> p <> '') AS ss
  FROM marked
),
sent AS (
  SELECT doc_id, i, ss[i] AS s, length(ss[i]) AS slen
  FROM (SELECT doc_id, unnest(generate_series(1, len(ss))) AS i, ss FROM sents0)
),
walk AS (
  SELECT doc_id, i, 1 AS g, slen + 1 AS bl FROM sent WHERE i = 1
  UNION ALL
  SELECT s.doc_id, s.i,
         CASE WHEN w.bl + s.slen + 1 > {SENT_CHUNK_SIZE} THEN w.g + 1 ELSE w.g END,
         CASE WHEN w.bl + s.slen + 1 > {SENT_CHUNK_SIZE} THEN s.slen
              ELSE w.bl + s.slen + 1 END
  FROM walk w JOIN sent s ON s.doc_id = w.doc_id AND s.i = w.i + 1
)
SELECT w.doc_id, CAST(g - 1 AS INTEGER) AS chunk_pos,
       string_agg(s.s, ' ' ORDER BY w.i) AS chunk_text
FROM walk w JOIN sent s ON s.doc_id = w.doc_id AND s.i = w.i
GROUP BY w.doc_id, g
"""


def clean_text_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verifies clean_text (R3) over every document byte-for-byte via
    md5 (same algorithm in both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = TX.clean_text("text")
    return docs.select(
        "doc_id",
        F.length(cleaned).cast("long").alias("clean_len"),
        F.md5(cleaned.cast("binary")).alias("clean_md5"),
    )


SQL_CLEAN_TEXT = f"""
SELECT doc_id, CAST(length(t) AS BIGINT) AS clean_len, md5(t) AS clean_md5
FROM (SELECT doc_id, {SQL_CLEAN.format(col='text')} AS t FROM documents)
"""


# ---------------------------------------------------------------------------
# Text analysis (operators/textanalysis.py)


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from document_vector_indexer_spark.operators.textanalysis import quality_features

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_words"].alias("n_words"),
        feats["n_distinct_words"].alias("n_distinct_words"),
        feats["ttr"].alias("ttr"),
        feats["stop_ratio"].alias("stop_ratio"),
        feats["avg_word_len"].alias("avg_word_len"),
    )


SQL_TEXT_STATS = """
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                                        '\\s+'), x -> x <> '') AS words
  FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(words) AS BIGINT) AS n_words,
       CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_words,
       CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS ttr,
       CAST(len(list_filter(words, x -> x IN ('the','a','of','and','to','in','is')))
            AS DOUBLE) / len(words) AS stop_ratio,
       CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
         / len(words) AS avg_word_len
FROM w
"""


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from document_vector_indexer_spark.operators.textanalysis import lang_id

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


# Oracle replays the same rule table: CJK regex, then stopword-count
# argmax (de/fr/es over en, ties broken de > fr > es), default en.
SQL_LANG_ID = """
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                                        '\\s+'), x -> x <> '') AS words
  FROM documents
),
scored AS (
  SELECT doc_id, text,
         len(list_filter(words, x -> x IN ('the','of','and','is','to'))) AS s_en,
         len(list_filter(words, x -> x IN ('der','die','das','und','ist'))) AS s_de,
         len(list_filter(words, x -> x IN ('le','la','les','et','est'))) AS s_fr,
         len(list_filter(words, x -> x IN ('el','la','los','y','es'))) AS s_es
  FROM w
)
SELECT lang_pred, count(*) AS n_docs FROM (
  SELECT CASE
    WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}]') THEN 'zh'
    WHEN greatest(s_de, s_fr, s_es) > s_en THEN
      CASE WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
           WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END
    ELSE 'en' END AS lang_pred
  FROM scored
) GROUP BY lang_pred
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from document_vector_indexer_spark.operators.textanalysis import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


SQL_DOC_FINGERPRINT = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                                        '\\s+'), x -> x <> '') AS words
  FROM documents
)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                                list_transform(words, x -> CAST(length(x) * 17 + ascii(x) AS BIGINT))),
                   (a, x) -> (a * 31 + x) % 1000000007) AS fp
FROM w
"""


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count_ws(F.col("text")).alias("tok_ws"),
        TX.token_count_bpe_ish(F.col("text")).alias("tok_bpe"),
    )


SQL_TOKEN_COUNTS = """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                                               '\\s+'), x -> x <> '')) AS BIGINT) AS tok_ws,
       CAST(len(list_filter(string_split(
                regexp_replace(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])',
                               '\\1' || chr(1), 'g'), chr(1)),
                x -> regexp_replace(x, '\\s+', '', 'g') <> '')) AS BIGINT) AS tok_bpe
FROM documents
"""


def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold train/val/test assignment
    (operators/trainprep.hash_split): per-(split, lang) doc counts and
    token totals — the auditable split manifest. Map-side assignment;
    the only shuffle is the final small aggregation."""
    from document_vector_indexer_spark.operators.trainprep import hash_split

    docs = load_table(spark, sf_dir, "documents")
    assigned = hash_split(docs, id_col="doc_id", salt="split")
    return (
        assigned.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(TX.word_tokens(F.col("text")))).alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


# Mirrors trainprep.portable_hash_fraction: char-fold of 'split:doc_id'
# mod M31, three Lehmer rounds (x48271 mod M31), over M31; thresholds at
# the cumulative weights 0.8 / 0.9.
SQL_SAMPLE_SPLIT = """
WITH f AS (
  SELECT lang, text,
         CAST((((list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(generate_series(1, length(s)),
                               i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))),
              (a, c) -> (a * 131 + c) % 2147483647)
              * 48271 % 2147483647)
              * 48271 % 2147483647)
              * 48271 % 2147483647) AS DOUBLE)
           / 2147483647 AS frac
  FROM (SELECT lang, text, 'split:' || CAST(doc_id AS VARCHAR) AS s
        FROM documents)
),
assigned AS (
  SELECT lang, text,
         CASE WHEN frac < 0.8 THEN 'train'
              WHEN frac < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM f
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(len(list_filter(string_split_regex(regexp_replace(text,
             '^\\s+|\\s+$', '', 'g'), '\\s+'), x -> x <> ''))) AS BIGINT)
         AS n_tokens
FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
"""


def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/trainprep.pack_sequences): per-pack
    manifest — docs, tokens, straddle count — for 512-token packs over
    per-source streams ordered by doc_id."""
    from document_vector_indexer_spark.operators.trainprep import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(
        docs,
        context_len=512,
        token_col=F.size(TX.word_tokens(F.col("text"))),
        order_col="doc_id",
        part_col="source",
    )
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").alias("n_tokens"),
            F.sum(F.col("straddles").cast("long")).alias("n_straddle"),
        )
        .orderBy("pack_id")
    )


SQL_PACK_SEQUENCES = """
WITH toks AS (
  SELECT source, doc_id,
         CAST(len(list_filter(string_split_regex(regexp_replace(text,
               '^\\s+|\\s+$', '', 'g'), '\\s+'), x -> x <> '')) AS BIGINT)
           AS tokens
  FROM documents
),
packed AS (
  SELECT source, doc_id, tokens,
         COALESCE(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum_before
  FROM toks
)
SELECT source || ':' || CAST(cum_before // 512 AS VARCHAR) AS pack_id,
       count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN cum_before % 512 + tokens > 512 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_straddle
FROM packed GROUP BY 1 ORDER BY 1
"""


def repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-bigram repetition ratio per doc
    (operators/trainprep.repetition_ratio): the boilerplate/degenerate-
    repetition quality signal. Tokenize behind the exchange barrier
    (lambda-boundary CSE), ratio map-side."""
    from document_vector_indexer_spark.operators.trainprep import (
        repetition_ratio_from_words,
    )

    docs = load_table(spark, sf_dir, "documents")
    words_df = docs.repartition(F.col("doc_id")).select(
        "doc_id", TX.word_tokens(F.col("text")).alias("words")
    )
    return words_df.select(
        "doc_id",
        (F.round(repetition_ratio_from_words(F.col("words"), n=2), 6) + 0.0).alias(
            "rep_ratio"
        ),
    ).orderBy("doc_id")


SQL_REPETITION = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(regexp_replace(text,
           '^\\s+|\\s+$', '', 'g'), '\\s+'), x -> x <> '') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(words) >= 2 THEN
           list_transform(generate_series(1, len(words) - 1),
                          i -> words[i] || ' ' || words[i+1])
         ELSE [] END AS grams
  FROM w
)
SELECT doc_id,
       round(CASE WHEN len(grams) > 0 THEN
         1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
       END, 6) + 0.0 AS rep_ratio
FROM g ORDER BY doc_id
"""


# DuckDB fragments shared by the trainprep-derived queries below.
# Portable hash fraction (mirrors trainprep.portable_hash_fraction):
# char-fold of the salted key mod M31, three Lehmer rounds, over M31.
def _duck_units(s_expr: str) -> str:
    """The integer hash h in [0, M31) BEFORE the /M31 division —
    usable for exact cross-multiplied threshold tests (no double)."""
    return f"""(((list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(generate_series(1, length({s_expr})),
                               i -> CAST(ascii(substr({s_expr}, i, 1)) AS BIGINT))),
              (a, c) -> (a * 131 + c) % 2147483647)
              * 48271 % 2147483647)
              * 48271 % 2147483647)
              * 48271 % 2147483647)"""


def _duck_frac(s_expr: str) -> str:
    return f"CAST({_duck_units(s_expr)} AS DOUBLE) / 2147483647"


def _duck_charfold(s_expr: str) -> str:
    """Plain M31 char-fold (``TX.char_fold``, no Lehmer rounds) — the
    gram identity of the r13 hash-represented decontamination oracle;
    same fragment as corpusops._DUCK_CHARFOLD (q_dedup_substrings)."""
    return f"""list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(generate_series(1, length({s_expr})),
                     j -> CAST(ascii(substr({s_expr}, j, 1)) AS BIGINT))),
      (a, c) -> (a * 131 + c) % 2147483647)"""


# Word tokenization identical to the oracled queries above.
_DUCK_WORDS = (
    "list_filter(string_split_regex(regexp_replace({col}, "
    "'^\\s+|\\s+$', '', 'g'), '\\s+'), x -> x <> '')"
)


def _duck_ngrams(n: int, words: str = "w") -> str:
    """DuckDB ordered word n-grams over a list column (1-based)."""
    parts = " || ' ' || ".join(
        f"{words}[i]" if j == 0 else f"{words}[i+{j}]" for j in range(n)
    )
    return f"list_transform(generate_series(1, len({words}) - {n - 1}), i -> {parts})"


DECON_N = 5  # docs here are 15-100 words; web-scale sweeps use 13-grams


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/trainprep.contamination_hits):
    split the corpus deterministically, then flag train docs sharing any
    word 5-gram with the held-out test split — test-set leakage found
    via a broadcast of the benchmark n-gram set (r13: int64 char-fold
    HASHES on both sides, kernel-computed; the oracle applies the
    identical fold), map-side probe, narrow doc-keyed count shuffles."""
    from document_vector_indexer_spark.operators.trainprep import (
        contamination_hits,
        hash_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    assigned = hash_split(docs, id_col="doc_id", salt="split")
    train = assigned.filter(F.col("split") == "train")
    test = assigned.filter(F.col("split") == "test")
    return contamination_hits(train, test, n=DECON_N).orderBy("doc_id")


SQL_DECONTAMINATE = f"""
WITH f AS (
  SELECT doc_id, text, {_duck_frac("s")} AS frac
  FROM (SELECT doc_id, text, 'split:' || CAST(doc_id AS VARCHAR) AS s
        FROM documents)
),
assigned AS (
  SELECT doc_id, text,
         CASE WHEN frac < 0.8 THEN 'train'
              WHEN frac < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM f
),
tw AS (
  SELECT doc_id, {_DUCK_WORDS.format(col="text")} AS w
  FROM assigned WHERE split = 'train'
),
bw AS (
  SELECT {_DUCK_WORDS.format(col="text")} AS w
  FROM assigned WHERE split = 'test'
),
bg AS (SELECT DISTINCT {_duck_charfold('gram')} AS gh
       FROM (SELECT unnest({_duck_ngrams(DECON_N)}) AS gram FROM bw)),
tg AS (SELECT doc_id,
              list_distinct(list_transform({_duck_ngrams(DECON_N)},
                                           s -> {_duck_charfold('s')})) AS dg
       FROM tw),
te AS (SELECT doc_id, len(dg) AS n_grams, unnest(dg) AS gh FROM tg)
SELECT te.doc_id, count(*) AS n_contaminated,
       CAST(max(n_grams) AS BIGINT) AS n_grams
FROM te JOIN bg USING (gh)
GROUP BY te.doc_id ORDER BY te.doc_id
"""


def mix_sources_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source mixing (operators/trainprep.mix_sources):
    down-sample to the largest achievable corpus matching target
    weights 1 + (source_index mod 3) — per-source manifest of kept
    docs/tokens and the applied rate. Weights are integer-valued so the
    normalizing double sum is exact (order-insensitive) in any engine."""
    from document_vector_indexer_spark.operators.trainprep import mix_sources

    docs = load_table(spark, sf_dir, "documents")
    wt = 1.0 + (F.substring(F.col("source"), 4, 8).cast("long") % 3).cast("double")
    kept = mix_sources(docs, wt, source_col="source", id_col="doc_id", salt="mix")
    return (
        kept.groupBy("source")
        .agg(
            F.max("_n_source").alias("n_total"),
            F.count("*").alias("n_kept"),
            F.sum(F.size(TX.word_tokens(F.col("text")))).alias("n_tokens"),
            F.max(F.floor(F.col("_rate") * 1e6)).cast("long").alias("rate_ppm"),
        )
        .orderBy("source")
    )


SQL_MIX_SOURCES = f"""
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
w AS (
  SELECT source, n,
         1.0 + CAST(CAST(substr(source, 4) AS BIGINT) % 3 AS DOUBLE) AS wt
  FROM counts
),
caps AS (
  SELECT source, n, wt / (SELECT sum(wt) FROM w) AS p,
         n / (wt / (SELECT sum(wt) FROM w)) AS cap
  FROM w
),
rates AS (
  SELECT source, n,
         least(1.0, p * (SELECT min(cap) FROM caps) / n) AS rate
  FROM caps
),
kept AS (
  SELECT d.source, d.text, r.n, r.rate
  FROM documents d JOIN rates r USING (source)
  WHERE {_duck_frac("'mix:' || CAST(d.doc_id AS VARCHAR)")} < r.rate
)
SELECT source, max(n) AS n_total, count(*) AS n_kept,
       CAST(sum(len({_DUCK_WORDS.format(col="text")})) AS BIGINT) AS n_tokens,
       CAST(max(floor(rate * 1000000)) AS BIGINT) AS rate_ppm
FROM kept GROUP BY source ORDER BY source
"""


def vocab_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (operators/textanalysis.vocab_topk): top-100
    words by document frequency — one word-keyed aggregation + a
    TakeOrdered, no global sort."""
    from document_vector_indexer_spark.operators.textanalysis import vocab_topk

    docs = load_table(spark, sf_dir, "documents")
    return vocab_topk(docs, k=100)


SQL_VOCAB_TOPK = f"""
WITH w AS (
  SELECT doc_id, unnest({_DUCK_WORDS.format(col="text")}) AS word
  FROM documents
)
SELECT word, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occur
FROM w GROUP BY word
ORDER BY n_docs DESC, n_occur DESC, word
LIMIT 100
"""


def chunk_cdc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (operators/chunking.chunk_cdc): word
    rolling-hash boundaries — chunking stays stable under insertions,
    the property fixed-size chunking lacks (shift-robustness is
    test-pinned in tests/test_miningops.py). Full chunk table."""
    from document_vector_indexer_spark.operators.chunking import chunk_cdc

    docs = load_table(spark, sf_dir, "documents")
    # No presentation sort: the driver's value-hash is order-insensitive
    # (tests/parity_util.py) and a global sort here carries every chunk's
    # full text through one exchange — measured at ~2x the operator's own
    # sf100 wall (SCALE.md r13/r14). Sibling chunker keys return unsorted.
    return chunk_cdc(docs)


# Shareable CDC chunk-table SQL (no presentation ORDER BY): the
# q_dedup_cdc oracle embeds this as a CTE (the _SQL_NGRAM_PRELUDE
# sharing precedent — one definition of "a CDC chunk").
_SQL_CDC_CHUNKS = f"""
WITH w AS (
  SELECT doc_id, {_DUCK_WORDS.format(col="text")} AS words FROM documents
),
w2 AS (
  SELECT doc_id, words,
         list_transform(words,
           x -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(1, length(x)),
                    j -> CAST(ascii(substr(x, j, 1)) AS BIGINT))),
                  (a, c) -> (a * 131 + c) % 1000000007)) AS codes
  FROM w
),
c AS (
  SELECT doc_id, words,
         list_concat(list_concat([CAST(0 AS BIGINT)],
           CASE WHEN len(words) > 1 THEN
             list_filter(generate_series(1, len(words) - 1),
               i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      codes[greatest(1, i - 3):i]),
                      (a, x) -> (a * 257 + x) % 1000000007) % 64 = 63)
           ELSE CAST([] AS BIGINT[]) END),
           [CAST(len(words) AS BIGINT)]) AS cuts
  FROM w2
)
SELECT doc_id, CAST(k - 1 AS INTEGER) AS chunk_pos,
       CAST(cuts[k + 1] - cuts[k] AS BIGINT) AS n_words,
       array_to_string(words[cuts[k] + 1:cuts[k + 1]], ' ') AS chunk_text
FROM c CROSS JOIN unnest(generate_series(1, len(cuts) - 1)) AS t(k)
WHERE cuts[k + 1] - cuts[k] > 0
"""

SQL_CHUNK_CDC = f"{_SQL_CDC_CHUNKS}\nORDER BY doc_id, chunk_pos"


def dedup_cdc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-reuse pairs at CDC-chunk granularity
    (operators/dedup.cdc_chunk_pairs) — the application the CDC
    chunker exists for: shared chunks survive edits, so chunk-hash
    equality finds reused passages fixed windows miss. Top-20 by
    containment-style overlap."""
    from document_vector_indexer_spark.operators.dedup import cdc_chunk_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = cdc_chunk_pairs(docs)
    return (
        pairs.orderBy(F.col("overlap_ppm").desc(), "id_a", "id_b").limit(20)
    )


SQL_DEDUP_CDC = f"""
WITH chunks AS ({_SQL_CDC_CHUNKS}),
el AS (
  SELECT doc_id AS id, md5(chunk_text) AS h
  FROM chunks WHERE n_words >= 5 GROUP BY 1, 2
),
b AS (SELECT h, count(*) AS df FROM el GROUP BY 1),
ret AS (SELECT el.id, el.h FROM el JOIN b USING (h) WHERE df <= 20),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM ret GROUP BY 1),
p AS (
  SELECT a.id AS id_a, c.id AS id_b, CAST(count(*) AS BIGINT) AS shared
  FROM ret a JOIN ret c ON a.h = c.h AND a.id < c.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, shared, sa.n AS n_a, sb.n AS n_b,
       CAST(shared * 1000000 // least(sa.n, sb.n) AS BIGINT) AS overlap_ppm
FROM p JOIN sizes sa ON sa.id = p.id_a
       JOIN sizes sb ON sb.id = p.id_b
WHERE shared >= 1
ORDER BY overlap_ppm DESC, id_a, id_b
LIMIT 20
"""


QUERIES: dict[str, QuerySpec] = {
    "flagship_chunk_topk": QuerySpec(
        flagship_chunk_topk,
        SQL_FLAGSHIP,
        "clean -> fixed-overlap chunk -> explode -> top-5 longest per lang",
    ),
    "q_chunk_fixed": QuerySpec(
        chunk_fixed_stats,
        SQL_CHUNK_FIXED_STATS,
        "full fixed-chunker output verified via per-(lang,source) aggregates",
    ),
    "q_chunk_paragraph": QuerySpec(
        chunk_paragraph, SQL_CHUNK_PARAGRAPH, "paragraph-split chunk table (R4)"
    ),
    "q_chunk_sentence": QuerySpec(
        chunk_sentence,
        SQL_CHUNK_SENTENCE,
        "greedy sentence-grouping chunker (R5+R7) vs recursive-CTE oracle",
    ),
    "q_chunk_cdc": QuerySpec(
        chunk_cdc_q,
        SQL_CHUNK_CDC,
        "content-defined (rolling-hash) chunker — shift-robust boundaries",
    ),
    "q_dedup_cdc": QuerySpec(
        dedup_cdc_q,
        SQL_DEDUP_CDC,
        "passage-reuse pairs via shared CDC-chunk hashes, df-capped",
    ),
    "q_clean_text": QuerySpec(
        clean_text_check, SQL_CLEAN_TEXT, "clean_text (R3) md5-verified per doc"
    ),
    "q_text_stats": QuerySpec(text_stats, SQL_TEXT_STATS, "per-doc quality features"),
    "q_lang_id": QuerySpec(doc_lang_id, SQL_LANG_ID, "heuristic language ID"),
    "q_doc_fingerprint": QuerySpec(
        doc_fingerprint, SQL_DOC_FINGERPRINT, "rolling-hash document fingerprint"
    ),
    "q_token_count": QuerySpec(
        token_counts, SQL_TOKEN_COUNTS, "whitespace + BPE-ish token counts"
    ),
    "q_sample_split": QuerySpec(
        sample_split, SQL_SAMPLE_SPLIT, "deterministic hash train/val/test split"
    ),
    "q_pack_sequences": QuerySpec(
        pack_sequences_q, SQL_PACK_SEQUENCES, "512-token sequence packing manifest"
    ),
    "q_repetition": QuerySpec(
        repetition_q, SQL_REPETITION, "duplicate-bigram repetition quality signal"
    ),
    "q_decontaminate": QuerySpec(
        decontaminate,
        SQL_DECONTAMINATE,
        "train/test 5-gram overlap sweep (benchmark decontamination)",
    ),
    "q_mix_sources": QuerySpec(
        mix_sources_q,
        SQL_MIX_SOURCES,
        "deterministic weighted source-mixture down-sampling manifest",
    ),
    "q_vocab_topk": QuerySpec(
        vocab_topk_q, SQL_VOCAB_TOPK, "top-100 vocabulary by document frequency"
    ),
}
