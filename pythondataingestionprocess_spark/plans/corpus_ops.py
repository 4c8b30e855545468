"""Corpus-construction operators (engine-added per the LLM-pipeline
mandate; staged NEW_R9): the remaining training-data build steps that
sit between raw documents and a packed training set —

- C4-style block-level exact dedup (drop repeated word-blocks
  corpus-wide, keep the globally-first occurrence);
- token-budget chunking with overlap (sliding training windows);
- inverted-index construction (term -> df/tf + bounded postings),
  plus its incremental-maintenance face (partial states + semilattice
  top-k merge, proven against the full recompute);
- deterministic hash-based train/val/test split;
- Efraimidis-Spirakis weighted sampling (streaming twin in
  streaming/stateful.py::weighted_sample_stream).

All are one-to-three-shuffle DataFrame plans with DuckDB oracles. Scale notes per query; the common discipline: the only
per-group materialization anywhere is bounded (top-3 postings), every
explode happens after projection to the exploded column, and split
assignment is a map-side hash — no sampling, no driver state.

Reference anchor: the reference has no corpus ops (it is an
ingest/clean pipeline, import_files_to_postgre.py); these extend the
engine along the BASELINE.json north star, like plans/llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.catalog import load_table
from pythondataingestionprocess_spark.operators import dedup as dd
from pythondataingestionprocess_spark.plans.llm_ops import _DUP_CORPUS_SQL, _dup_corpus
from pythondataingestionprocess_spark.plans.registry import query

# Portable hex->int bridge (NEXT.md determinism-traps list):
# Spark  conv(substr(md5(x),1,8),16,10) == DuckDB ('0x'||substr(md5(x),1,8))::BIGINT


def _words(df: DataFrame) -> DataFrame:
    """text -> ws: array<string> of whitespace tokens (empty docs dropped)."""
    return df.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    ).withColumn("ws", F.split(F.trim(F.col("text")), r"\s+"))


# ----------------------------------------------- C4-style block dedup

_BLOCK = 10  # words per dedup block

_LINE_DEDUP_ORACLE = rf"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM corpus
  WHERE text IS NOT NULL AND trim(text) <> ''
),
blocks AS (
  SELECT doc_id, b AS block_idx,
         array_to_string(ws[b*{_BLOCK}+1 : b*{_BLOCK}+{_BLOCK}], ' ') AS block_text
  FROM words, UNNEST(range(CAST(ceil(len(ws)/{_BLOCK}.0) AS BIGINT))) AS t(b)
),
ranked AS (
  SELECT doc_id, block_idx, block_text,
         row_number() OVER (PARTITION BY block_text
                            ORDER BY doc_id, block_idx) AS rn
  FROM blocks
)
SELECT doc_id,
       COUNT(*) AS n_blocks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn = 1 THEN len(block_text) ELSE 0 END) AS BIGINT)
         AS kept_chars
FROM ranked
GROUP BY doc_id
HAVING COUNT(*) > CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
"""


@query("corpus_block_dedup", oracle=_LINE_DEDUP_ORACLE, tags=("dedup", "text"))
def corpus_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style block-level exact dedup over a corpus with planted
    duplicates: each doc is cut into 10-word blocks; a block survives
    only if it is the corpus-wide FIRST occurrence of that block text
    (total order: doc_id, block_idx). Returns per-doc retention for
    the docs that actually lost blocks.

    This is the span-granular sibling of ``dedup_exact_docs`` — C4 and
    RefinedWeb drop repeated spans (boilerplate, licence headers)
    without discarding the whole document.

    Scale: one shuffle, keyed by block TEXT — exactly the dedup key —
    then one partial-aggregated shuffle back to doc grain. The window
    per block_text group is O(group) and groups are duplicate
    multiplicity, not corpus size. At 100 TB, block_text would be
    replaced by its 128-bit hash as the shuffle key (same plan shape,
    fixed-width key); the 8-byte-per-word testdata makes that
    indistinguishable here, so the query keeps the text key the
    oracle can replay.
    """
    corpus = _dup_corpus(spark, sf_dir)
    return dd.block_dedup_retention(corpus, "doc_id", "text", block=_BLOCK).filter(
        F.col("n_blocks") > F.col("n_kept")
    )


# ------------------------------------------- repeated-span exact dedup

_SPAN_K = 10  # tokens per sliding span

_SPAN_DEDUP_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
grams AS (
  SELECT doc_id, s AS pos,
         md5(array_to_string(ws[s + 1 : s + {_SPAN_K}], ' ')) AS g
  FROM toks, UNNEST(range(CAST(len(ws) - {_SPAN_K - 1} AS BIGINT))) AS t(s)
  WHERE len(ws) >= {_SPAN_K}
),
occ AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n_occ
  FROM grams
),
covered AS (
  SELECT DISTINCT doc_id, pos + o AS pos
  FROM occ, UNNEST(range({_SPAN_K})) AS t(o)
  WHERE n_occ > 1 AND rn > 1
),
tok_rows AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS tok
  FROM toks, UNNEST(range(1, len(ws) + 1)) AS t(i)
),
kept AS (
  SELECT tr.doc_id, tr.pos, tr.tok FROM tok_rows tr
  WHERE NOT EXISTS (SELECT 1 FROM covered c
                    WHERE c.doc_id = tr.doc_id AND c.pos = tr.pos)
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS _text,
         COUNT(*) AS _n_kept
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, len(ws) AS n_tokens FROM toks)
SELECT d.doc_id,
       CAST(COALESCE(t.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(t.n_tokens, 0) - COALESCE(r._n_kept, 0) AS BIGINT)
         AS n_removed,
       COALESCE(r._text, '') AS text
FROM documents d
LEFT JOIN totals t ON d.doc_id = t.doc_id
LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
"""


@query("text_repeated_span_dedup", oracle=_SPAN_DEDUP_ORACLE, tags=("dedup", "text"))
def text_repeated_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al repeated-span exact dedup over the raw documents
    corpus: every 10-token span occurring more than once corpus-wide
    keeps only its first occurrence (total order:
    doc_id, then position); covered tokens of later occurrences drop
    and the survivors reassemble in order. The stride-1 sliding hash
    catches UNALIGNED repeats ``corpus_block_dedup``'s fixed blocks
    miss — the common case for banners and quoted passages pasted
    mid-document (operators/spandedup.py documents the distributed
    shape: one gram-grain shuffle ranks occurrences, only the
    duplicated tail pays the k-fold explode, one doc-grain anti-join
    rebuilds). No planting: sf corpora carry natural repeats
    (asserted at sf0.001 in tests/test_spandedup.py, which also
    pre-validated this exact oracle corpus-wide before registration).
    The oracle replays the full pipeline relationally in DuckDB —
    list slicing, windowed keep-first, NOT EXISTS screen, ordered
    string_agg rebuild — including the reassembled text."""
    from pythondataingestionprocess_spark.operators.spandedup import (
        repeated_span_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    return repeated_span_dedup(docs, k=_SPAN_K)


# ----------------------------------------------- chunking with overlap

_CHUNK, _STRIDE = 60, 45

_CHUNK_ORACLE = rf"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
chunks AS (
  SELECT doc_id, k AS chunk_idx,
         ws[k*{_STRIDE}+1 : k*{_STRIDE}+{_CHUNK}] AS chunk
  FROM words, UNNEST(range((len(ws)-1)//{_STRIDE} + 1)) AS t(k)
)
SELECT doc_id, chunk_idx,
       CAST(len(chunk) AS BIGINT) AS chunk_tokens,
       ('0x' || substr(md5(array_to_string(chunk, ' ')), 1, 8))::BIGINT
         AS chunk_hash
FROM chunks
"""


@query("doc_chunking_overlap", oracle=_CHUNK_ORACLE, tags=("packing", "text"))
def doc_chunking_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget chunking with overlap: each doc becomes sliding
    windows of 60 tokens at stride 45 (15-token overlap), the standard
    context-window carving step before packing. Emits one row per
    chunk with a portable 32-bit content hash.

    Scale: pure map-side — project (doc_id, ws), explode a computed
    start-index sequence, slice. No shuffle at all; the fan-out factor
    is ~n_tokens/stride and rows are emitted streaming per input row.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = _words(docs).select("doc_id", "ws")
    n_chunks = ((F.size("ws") - 1) / _STRIDE).cast("long") + 1
    chunk = F.slice(F.col("ws"), F.col("chunk_idx") * _STRIDE + 1, _CHUNK)
    return (
        words.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .withColumn("chunk", chunk)
        .select(
            "doc_id",
            "chunk_idx",
            F.size("chunk").cast("long").alias("chunk_tokens"),
            F.conv(F.substring(F.md5(F.concat_ws(" ", F.col("chunk"))), 1, 8), 16, 10)
            .cast("long")
            .alias("chunk_hash"),
        )
    )


# ----------------------------------------------- inverted index

_INVIDX_ORACLE = r"""
WITH terms AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS term
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
tf AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM terms GROUP BY term, doc_id
),
ranked AS (
  SELECT term, doc_id, tf,
         row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
  FROM tf
)
SELECT term,
       COUNT(*) AS df,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       string_agg(CASE WHEN rn <= 3 THEN doc_id || ':' || tf END, ','
                  ORDER BY rn) AS top_postings
FROM ranked
GROUP BY term
HAVING COUNT(*) >= 5
ORDER BY df DESC, total_tf DESC, term
LIMIT 100
"""


@query("inverted_index_postings", oracle=_INVIDX_ORACLE, tags=("text", "index"))
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: per term, document frequency,
    total term frequency, and the top-3 postings ``doc:tf`` (ranked
    tf desc, doc_id asc — a total order). Top-100 terms by df.

    Scale: explode -> partial-agg -> shuffle on (term, doc_id) for tf,
    then one shuffle on term. The per-term postings list is BOUNDED at
    3 before collection (collect_list over a rn<=3 conditional — nulls
    are skipped, so a hot term with a million postings still carries
    exactly 3 structs into the final agg); final top-100 is a
    TakeOrderedAndProject, never a global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    terms = _words(docs).select(
        "doc_id", F.explode(F.col("ws")).alias("term")
    )
    tf = terms.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    w = W.partitionBy("term").orderBy(F.col("tf").desc(), "doc_id")
    ranked = tf.withColumn("rn", F.row_number().over(w))
    posting = F.when(
        F.col("rn") <= 3,
        F.struct(
            F.col("rn").alias("rn"),
            F.concat_ws(":", F.col("doc_id"), F.col("tf")).alias("s"),
        ),
    )
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(posting)), lambda x: x["s"]
                ),
                ",",
            ).alias("top_postings"),
        )
        .filter(F.col("df") >= 5)
        .orderBy(F.col("df").desc(), F.col("total_tf").desc(), "term")
        .limit(100)
    )


# ----------------------------------------------- train/val/test split

_SPLIT_ORACLE = """
WITH assigned AS (
  SELECT source, lang, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           AS bucket
  FROM documents
)
SELECT source,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM assigned
GROUP BY source, split
"""


@query("train_val_test_split", oracle=_SPLIT_ORACLE, tags=("sampling", "split"))
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-free key
    hash (md5(doc_id) bucket mod 100) with per-source split accounting.
    Hash-assignment — not sampling — so membership is stable under
    reprocessing, cluster size, and partitioning: the property a
    training pipeline needs so val examples can never drift into train
    between runs.

    Scale: entirely map-side assignment plus one partial-aggregated
    shuffle keyed by (source, split) — output-group-sized, independent
    of corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return (
        docs.withColumn("bucket", bucket)
        .withColumn(
            "split",
            F.when(F.col("bucket") < 80, "train")
            .when(F.col("bucket") < 90, "val")
            .otherwise("test"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
    )


# ----------------------------------------------- weighted sampling

_WSAMPLE_ORACLE = """
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         ROUND(
           ln( (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
               / 4294967297.0 )
           / n_chars, 9) AS sample_key
  FROM documents WHERE n_chars > 0
),
ranked AS (
  SELECT source, doc_id, n_chars, sample_key,
         row_number() OVER (PARTITION BY source
                            ORDER BY sample_key DESC, doc_id) AS rn
  FROM keyed
)
SELECT source, doc_id, n_chars, sample_key, rn
FROM ranked WHERE rn <= 10
"""


@query("corpus_weighted_sample", oracle=_WSAMPLE_ORACLE, tags=("sampling", "mixing"))
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis–Spirakis
    A-ES scheme (Inf. Proc. Letters 97(5), 2006): each doc gets key
    u^(1/w) for a uniform u and weight w; the top-k keys ARE a
    weighted sample without replacement. Here w = n_chars (longer
    docs proportionally likelier — the corpus-mixing knob) and u is a
    deterministic md5(doc_id) uniform, so the sample is reproducible
    under any partitioning, reprocessing, or cluster size — same
    property as train_val_test_split, extended to weighted draws.

    Ranking uses ln(u)/w (monotone in u^(1/w), avoids underflow for
    large w), ROUND(·, 9) per the cross-engine determinism convention
    for transcendental results; doc_id breaks ties totally.

    Scale: map-side key assignment + one source-keyed window — and
    the rank filter pushes down: Catalyst inserts a PARTIAL
    WindowGroupLimit below the exchange (rank<=k limit pushdown,
    Spark 3.5+), so each input partition ships only its own top-10
    per source. Measured at sf0.1: 200 records shuffled for a
    5000-doc corpus. The huge-group case is already a bounded heap;
    no manual top-k aggregation needed.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / F.lit(4294967297.0)
    keyed = docs.withColumn(
        "sample_key", F.round(F.log(u) / F.col("n_chars"), 9)
    )
    w = W.partitionBy("source").orderBy(F.col("sample_key").desc(), "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("source", "doc_id", "n_chars", "sample_key", "rn")
    )


# ------------------------------------- incremental index maintenance


def _partial_index(terms: DataFrame) -> DataFrame:
    """(doc_id, term) -> per-term partial index state:
    (term, df, total_tf, top array<struct<tf_neg,doc_id>>), postings
    bounded at 3 BEFORE collection. tf_neg = -tf so ascending struct
    sort gives (tf desc, doc_id asc)."""
    tf = terms.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    w = W.partitionBy("term").orderBy(F.col("tf").desc(), "doc_id")
    ranked = tf.withColumn("rn", F.row_number().over(w))
    posting = F.when(
        F.col("rn") <= 3,
        F.struct((-F.col("tf")).alias("tf_neg"), F.col("doc_id").alias("doc_id")),
    )
    return ranked.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.array_sort(F.collect_list(posting)).alias("top"),
    )


def merge_index_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two partial inverted-index states built over DISJOINT
    document sets: df/total_tf add; top-k postings merge because
    top-k is a semilattice — top-k(A ∪ B) == top-k(top-k(A) ∪
    top-k(B)) when no (term, doc) pair splits across the two sides
    (append-only corpora assign each doc wholly to one batch). This
    is ``incremental_agg_maintenance``'s refresh shape applied to the
    index: a nightly delta re-indexes ONLY its own docs and the merge
    shuffles |terms| state rows, never the corpus."""
    return (
        a.unionAll(b)
        .groupBy("term")
        .agg(
            F.sum("df").cast("long").alias("df"),
            F.sum("total_tf").cast("long").alias("total_tf"),
            F.slice(F.array_sort(F.flatten(F.collect_list("top"))), 1, 3).alias(
                "top"
            ),
        )
    )


@query("inverted_index_incremental", oracle=_INVIDX_ORACLE, tags=("text", "index"))
def inverted_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance, proven by the merge identity:
    build partial index states over the two halves of the corpus
    (doc_id parity split — each doc wholly on one side), merge, and
    render. The oracle is the FULL recompute
    (``inverted_index_postings``'s SQL verbatim), so the driver
    hash-check proves merge(index(A), index(B)) == index(A ∪ B).

    Scale: the delta side indexes only its own docs; the merge
    shuffles term-grain state rows (vocabulary-sized, corpus-
    independent), with postings bounded at 3 per term per side.
    """
    docs = load_table(spark, sf_dir, "documents")
    terms = _words(docs).select(
        "doc_id", F.explode(F.col("ws")).alias("term")
    )
    # pmod, not %: Spark's % keeps the dividend's sign, so a negative
    # doc_id would land in NEITHER half and silently vanish from the
    # merged index (breaking the merge identity the oracle proves)
    base = _partial_index(terms.filter(F.pmod(F.col("doc_id"), 2) == 0))
    delta = _partial_index(terms.filter(F.pmod(F.col("doc_id"), 2) == 1))
    merged = merge_index_states(base, delta)
    render = F.array_join(
        F.transform(
            F.col("top"),
            lambda x: F.concat_ws(":", x["doc_id"], -x["tf_neg"]),
        ),
        ",",
    )
    return (
        merged.withColumn("top_postings", render)
        .filter(F.col("df") >= 5)
        .select("term", "df", "total_tf", "top_postings")
        .orderBy(F.col("df").desc(), F.col("total_tf").desc(), "term")
        .limit(100)
    )


# ----------------------------------------------- BM25 retrieval

_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS = ("key", "table", "merge")

_BM25_ORACLE = rf"""
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
stats AS (
  SELECT COUNT(*) AS n_docs, AVG(len(ws)) AS avgdl FROM docs
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST(ws) AS term FROM docs)
  WHERE term IN ('key', 'table', 'merge')
  GROUP BY doc_id, term
),
idf AS (
  SELECT term, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
  FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), stats
),
scored AS (
  SELECT t.doc_id,
         SUM(i.idf * (t.tf * ({_BM25_K1} + 1.0)) /
             (t.tf + {_BM25_K1} * (1.0 - {_BM25_B}
              + {_BM25_B} * len(d.ws) / s.avgdl))) AS score,
         COUNT(*) AS n_terms_hit
  FROM tf t
  JOIN docs d USING (doc_id), stats s
  JOIN idf i ON t.term = i.term
  GROUP BY t.doc_id
)
SELECT doc_id, ROUND(score, 9) AS score, n_terms_hit
FROM scored
ORDER BY ROUND(score, 9) DESC, doc_id
LIMIT 20
"""


def bm25_topk(
    docs: DataFrame, terms: tuple[str, ...], k: int = 20
) -> DataFrame:
    """DataFrame-level BM25 builder: the plan body of the registered
    ``bm25_retrieval_topk`` query, callable on any documents frame."""
    docs = _words(docs).select("doc_id", "ws").withColumn(
        "dl", F.size("ws").cast("double")
    )
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", "dl", F.explode("ws").alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .crossJoin(F.broadcast(stats))
    )
    df_w = F.count(F.lit(1)).over(W.partitionBy("term")).cast("double")
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    norm = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.withColumn("df", df_w)
        .withColumn("part", idf * (F.col("tf") * (_BM25_K1 + 1.0)) / norm)
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("part"), 9).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )


@query("bm25_retrieval_topk", oracle=_BM25_ORACLE, tags=("text", "index", "similarity"))
def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson & Zaragoza, Found. Trends IR
    2009; the Okapi BM25 scoring function) for a fixed 3-term query —
    the lexical-retrieval sibling of the embedding kNN family, and
    what the inverted index exists to serve. k1=1.2, b=0.75, idf =
    ln((N-df+0.5)/(df+0.5)+1) (the always-positive variant).

    Scale: TWO corpus scans total, because DataFrame reuse is not CSE
    (the q20/triangles lesson): one scan feeds the (doc, term) tf
    aggregate — the query-term filter cuts the explode to query-term
    postings before any shuffle — and one feeds the N/avgdl aggregate,
    which rides a broadcast 1-row frame. Per-term df comes from a
    window over the tf rows' own term key (never a second tf pass),
    so idf stays in-plan; top-20 is TakeOrderedAndProject. Scores
    ROUND(·, 9) with doc_id tiebreak per the transcendental-result
    convention.
    """
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=20)


# ------------------------------------- temperature-rebalanced mixing

_TEMP_MIX_ORACLE = """
WITH counts AS (
  SELECT lang, COUNT(*) AS n_in FROM documents GROUP BY lang
),
tot AS (
  SELECT SUM(n_in) AS n_total,
         CAST(SUM(CAST(sqrt(CAST(n_in AS DOUBLE)) AS DECIMAL(25,12)))
              AS DOUBLE) AS z
  FROM counts
),
rates AS (
  SELECT lang, n_in,
         ROUND(sqrt(CAST(n_in AS DOUBLE)) / z
               * CAST(n_total AS DOUBLE) / n_in, 9) AS rate
  FROM counts, tot
),
assigned AS (
  SELECT d.lang, r.n_in, r.rate,
         CAST(floor(r.rate) AS BIGINT)
         + CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                     < (r.rate - floor(r.rate)) * 4294967296.0
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN rates r USING (lang)
)
SELECT lang, n_in, rate, CAST(SUM(n_copies) AS BIGINT) AS n_out
FROM assigned
GROUP BY lang, n_in, rate
"""


@query("corpus_temperature_mix", oracle=_TEMP_MIX_ORACLE, tags=("mixing", "sampling"))
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced language mixing (the multilingual
    pretraining recipe: sample language l with q_l ∝ p_l^α, α=0.5 —
    Conneau et al., XLM-R, ACL 2020 §3; also mT5): low-resource
    languages are up-sampled, high-resource down-sampled, total corpus
    size preserved in expectation. Unlike ``corpus_mix_resample``
    (fixed per-source rates), the rates here are DERIVED FROM THE
    CORPUS DISTRIBUTION in-plan: counts → α-scaled renormalization →
    broadcast per-lang rate → deterministic per-doc copy count
    (floor(rate) + md5-bucket Bernoulli for the fraction).

    Determinism: α=0.5 means the scaling is sqrt, which IEEE-754
    specifies exactly (unlike libm pow) — the rate is bit-identical
    across engines before its ROUND(·, 9); the Bernoulli draw is the
    portable md5 bucket.

    Scale: ONE corpus scan for the lang-grain aggregate plus one for
    the assignment join (reuse is not CSE, so the normalizers n_total
    and z come from a window OVER the |langs|-row aggregate — the
    hierarchical_revenue_share pattern — not a separate agg that would
    re-execute the counts subtree); the copy-count expression is
    map-side and the output aggregate shuffles |langs| partial rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_in"))
    w_all = W.partitionBy()  # global window over the tiny lang aggregate
    rates = counts.select(
        "lang",
        "n_in",
        F.round(
            F.sqrt(F.col("n_in").cast("double"))
            # z accumulates exactly in decimal (order-insensitive per
            # the registry convention), one cast back to double
            / F.sum(F.sqrt(F.col("n_in").cast("double")).cast("decimal(25,12)"))
            .over(w_all)
            .cast("double")
            * F.sum("n_in").over(w_all).cast("double")
            / F.col("n_in"),
            9,
        ).alias("rate"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("double")
    n_copies = F.floor("rate").cast("long") + F.when(
        bucket < (F.col("rate") - F.floor("rate")) * F.lit(4294967296.0), 1
    ).otherwise(0)
    return (
        docs.join(F.broadcast(rates), "lang")
        .withColumn("n_copies", n_copies)
        .groupBy("lang", "n_in", "rate")
        .agg(F.sum("n_copies").cast("long").alias("n_out"))
    )


# ------------------------------------------- boilerplate line removal

# Synthetic-boilerplate corpus: the sf tables' documents are single-
# line, so the query plants per-source chrome around each doc's text —
# a header on EVERY doc (always stripped), a promo line on doc_id ≡ 0
# mod 3 (~33% < the 0.5 threshold → always kept), and a footer on
# doc_id ≡ 0 mod 2 (~50%, straddling the threshold source by source —
# the per-source document-frequency test decides, identically in both
# engines). concat_ws/concat_ws skip the NULL (unplanted) lines, so
# line counts vary per doc.
_BOILERPLATE_ORACLE = """
WITH corpus AS (
  SELECT doc_id, source,
         concat_ws(chr(10),
           'HEADER ' || source,
           CASE WHEN doc_id % 3 = 0 THEN 'PROMO subscribe now ' || source END,
           text,
           CASE WHEN doc_id % 2 = 0 THEN 'FOOTER cookies ' || source END
         ) AS text
  FROM documents
),
lines AS (
  SELECT doc_id, source, i AS pos, ls[i] AS line, md5(trim(ls[i])) AS line_key
  FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ls FROM corpus),
       UNNEST(range(1, len(ls) + 1)) AS t(i)
),
source_docs AS (SELECT source, COUNT(*) AS n_docs FROM corpus GROUP BY source),
bl AS (
  SELECT l.source, l.line_key
  FROM lines l
  JOIN source_docs sd ON l.source = sd.source
  WHERE trim(l.line) <> ''
  GROUP BY l.source, l.line_key, sd.n_docs
  HAVING COUNT(DISTINCT l.doc_id) >= 3
     AND COUNT(DISTINCT l.doc_id) >= sd.n_docs * 0.5
),
kept AS (
  SELECT l.* FROM lines l
  WHERE NOT EXISTS (SELECT 1 FROM bl
                    WHERE bl.source = l.source AND bl.line_key = l.line_key)
),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS _text,
         COUNT(*) AS _n_kept
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_lines_in FROM lines GROUP BY doc_id)
SELECT c.doc_id, c.source,
       COALESCE(r._text, '') AS text,
       CAST(COALESCE(t.n_lines_in, 0) AS BIGINT) AS n_lines_in,
       CAST(COALESCE(t.n_lines_in, 0) - COALESCE(r._n_kept, 0) AS BIGINT)
         AS n_lines_removed
FROM corpus c
LEFT JOIN rebuilt r ON c.doc_id = r.doc_id
LEFT JOIN totals t ON c.doc_id = t.doc_id
"""


@query("text_strip_boilerplate", oracle=_BOILERPLATE_ORACLE, tags=("text", "curation"))
def text_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-source line-frequency boilerplate removal
    over a corpus with planted chrome: a header
    line on every doc, a promo line on ~33% (kept — under the 0.5
    document-frequency threshold), a footer on ~50% (the per-source
    frequency test decides). operators/boilerplate.strip_boilerplate
    is the engine face: two shuffles — (source, line-hash) grain for
    document frequency, doc grain for order-preserving reassembly —
    with the tiny frequent-line set broadcast into an anti-join
    screen; document text never rides a join. The oracle replays the
    whole screen relationally in DuckDB, including the md5 line keys,
    the >= min_docs(3) guard, and the ordered string_agg rebuild."""
    from pythondataingestionprocess_spark.operators.boilerplate import (
        strip_boilerplate,
    )

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        "source",
        F.concat_ws(
            "\n",
            F.concat(F.lit("HEADER "), F.col("source")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("PROMO subscribe now "), F.col("source")),
            ),
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("FOOTER cookies "), F.col("source")),
            ),
        ).alias("text"),
    )
    return strip_boilerplate(planted, min_docs=3, frac_threshold=0.5)


# ------------------------------------------- DSIR importance weights

_DSIR_M = 256  # hashed n-gram buckets

_DSIR_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
occ AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(ws[i]), 1, 8))::BIGINT % {_DSIR_M} AS b
  FROM toks, UNNEST(range(1, len(ws) + 1)) AS t(i)
  UNION ALL
  SELECT doc_id, source,
         ('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 8))::BIGINT % {_DSIR_M}
  FROM toks, UNNEST(range(1, len(ws))) AS t(i)
  WHERE len(ws) >= 2
),
tgt AS (
  SELECT b, COUNT(*) AS c FROM occ
  WHERE source = (SELECT min(source) FROM documents) GROUP BY b
),
raw AS (SELECT b, COUNT(*) AS c FROM occ GROUP BY b),
ratio AS (
  SELECT g.b,
         ln((COALESCE(t.c, 0) + 1.0)
            / ((SELECT SUM(c) FROM tgt) + {_DSIR_M}.0))
       - ln((COALESCE(r.c, 0) + 1.0)
            / ((SELECT SUM(c) FROM raw) + {_DSIR_M}.0)) AS r
  FROM (SELECT unnest(range({_DSIR_M})) AS b) g
  LEFT JOIN tgt t ON g.b = t.b
  LEFT JOIN raw r ON g.b = r.b
)
SELECT o.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_feats,
       ROUND(SUM(rt.r), 6) AS logw
FROM occ o JOIN ratio rt ON o.b = rt.b
GROUP BY o.doc_id
"""


@query("corpus_dsir_importance", oracle=_DSIR_ORACLE, tags=("curation", "selection"))
def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al.,
    NeurIPS 2023, arXiv:2302.03169): hashed unigram+bigram bucket
    features (m=256, md5 — engine-portable), add-one-smoothed
    multinomials for the TARGET slice (the min-source's documents, a
    data-derived scalar both engines recompute) and the RAW corpus,
    and the per-document importance log-weight sum log p - log q over
    its n-gram occurrences. Weights are emitted for ALL documents
    (ROUND 6 absorbs float-fold ulps: JVM vs DuckDB ln and SQL's
    unordered SUM both live ~1e-11 below the rounding grain, the
    registry's established ROUND-oracle discipline) — selection stays
    out of the driver face to avoid top-k boundary knife-edges.

    Plan shape (operators/dsir.py): featurize is map-side; each
    distribution is one occurrence-grain shuffle with map-side
    partials into m rows; the m log-ratios fold back as a LITERAL
    array so scoring is zero-shuffle whole-stage codegen
    (element_at + aggregate).
    Driver state = the two m-vectors, the method's own contract."""
    from pythondataingestionprocess_spark.operators import dsir

    docs = load_table(spark, sf_dir, "documents")
    min_src = docs.agg(F.min("source").alias("s"))
    target = docs.join(
        F.broadcast(min_src), docs["source"] == min_src["s"], "inner"
    ).select("doc_id", "text")
    bucketed_all = dsir.featurize(docs, "doc_id", "text", m=_DSIR_M)
    tdist = dsir.bucket_log_dist(
        dsir.featurize(target, "doc_id", "text", m=_DSIR_M), m=_DSIR_M
    )
    rdist = dsir.bucket_log_dist(bucketed_all, m=_DSIR_M)
    ratio = dsir.log_ratio_vector(tdist, rdist, m=_DSIR_M)
    return dsir.dsir_logweights(bucketed_all, ratio).select(
        "doc_id", "n_feats", F.round("logw", 6).alias("logw")
    )
