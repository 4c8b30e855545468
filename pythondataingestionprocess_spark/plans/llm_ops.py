"""LLM-data-pipeline operator queries (engine-added per BASELINE.json
north star): the cheap single-pass surface — exact/fingerprint dedup,
brute-force kNN, text analysis, multimodal column plumbing. The
expensive multi-stage dedup/ANN queries live in ``plans.llm_heavy``,
registered last, so a driver-side run-time budget truncates on those,
not on this otherwise-unverified surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.catalog import load_table
from pythondataingestionprocess_spark.functions import text as tx
from pythondataingestionprocess_spark.operators import dedup as dd
from pythondataingestionprocess_spark.operators import similarity as sim
from pythondataingestionprocess_spark.plans.registry import query

# Shared: a corpus with planted duplicates — documents plus re-tagged
# copies of every 10th doc (the raw corpus is dup-free by
# construction, so dedup queries plant their own). Plant ids sit at
# +1e12: a smaller offset (+1e6) collides with real ids at SF≈5,
# corrupting keep-min-id representatives and pair oracles invisibly;
# real doc ids at the 100TB target are ~5e10 — 20x headroom, and
# min-id representative semantics keep pointing at the REAL doc.
_DUP_CORPUS_SQL = """
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000000000 AS doc_id, text, source
  FROM documents WHERE doc_id % 10 = 0
"""


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dupes = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000000000
    )
    return docs.select("doc_id", "text", "source").unionAll(
        dupes.select("doc_id", "text", "source")
    )


# ------------------------------------------------------------- exact dedup


@query(
    "dedup_exact_docs",
    oracle=f"""
WITH corpus AS ({_DUP_CORPUS_SQL})
SELECT source,
       COUNT(*) AS n_rows,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique,
       COUNT(*) - CAST(COUNT(DISTINCT text) AS BIGINT) AS n_dupes
FROM corpus GROUP BY source
""",
    tags=("dedup",),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting over a corpus with planted duplicates —
    hash-groupBy on content (scalable form of the reference's
    existence-probe dedup J5)."""
    corpus = _dup_corpus(spark, sf_dir)
    return corpus.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("text").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("n_dupes"),
    )


@query(
    "dedup_fingerprint",
    oracle=f"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
fp AS (
  SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
         MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
  FROM corpus GROUP BY 1
)
SELECT n_copies, COUNT(*) AS n_groups, MIN(keep_id) AS min_keep_id
FROM fp GROUP BY n_copies
""",
    tags=("dedup",),
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup: md5 over whitespace-normalized lowercased
    text; groups-by-copy-count histogram."""
    corpus = _dup_corpus(spark, sf_dir)
    groups = dd.fingerprint_dedup(corpus, "doc_id", "text")
    return groups.groupBy("n_copies").agg(
        F.count(F.lit(1)).alias("n_groups"), F.min("keep_id").alias("min_keep_id")
    )


# ------------------------------------------------------- similarity search

_KNN_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
    list_sum(list_transform(list_zip(q_vec, c_vec), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(c_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
  FROM c, q WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
  FROM scored
) t WHERE rank <= 5
"""


@query("embedding_knn_brute", oracle=_KNN_ORACLE, tags=("similarity",))
def embedding_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for 10 query vectors, brute force.
    Cosine is a sequential double fold on both engines — bit-identical
    (DuckDB's float32 list_cosine_similarity deliberately NOT used)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.knn_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=5)


# The functions/vectors.py zip_with/aggregate double folds are
# exercised by `embedding_knn_brute` (inside a ranked join, full
# oracle) and by every cosine-dedup query.


# ----------------------------------------------------------- text analysis

_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), df AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         tf.tf * (SELECT n_docs FROM n) * 1.0 / df.df AS score
  FROM tf JOIN df USING (tok)
  WHERE tf.doc_id % 97 = 0
)
SELECT doc_id, tok, tf, df, score, rnk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, tok) AS INT) AS rnk
  FROM scored
) t WHERE rnk <= 3
"""


@query("text_tfidf_top_terms", oracle=_TFIDF_ORACLE, tags=("text",))
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tf-idf surface: top-3 distinguishing terms per sampled doc.
    Uses the rational idf (tf·N/df — one IEEE division, bit-identical
    across engines) rather than ln-smoothed idf, whose libm rounding
    can differ in the last ulp between JVM and DuckDB; the ranking
    pipeline (explode → tf → df → join → window top-k) is the operator
    under test, not the weighting flavor."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tx.tokens("text")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    # The corpus-size scalar stays IN the plan (agg → broadcast cross
    # join, the q11/q20 scalar-threshold pattern) instead of a separate
    # docs.count() job — one fewer scan per run, and the scalar rides
    # the same DAG at any scale.
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") % 97 == 0)
        .join(dfreq, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf") * F.col("n_docs") * F.lit(1.0) / F.col("df"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "tok", "tf", "df", "score", "rnk")
    )


# Whitespace token counting is a strict subset of
# `text_quality_score`'s feature columns (functions/text.py
# quality_score computes token_count inside its mean-token-length and
# stopword-ratio bands, and that face's oracle restates the same
# string_split_regex tokenization) and of `text_bpe_token_count`'s
# harder regex tokenization; the per-lang whitespace-count aggregation
# is pinned against DuckDB by tests/test_llm_operators.py
# ::test_whitespace_token_count_per_lang_matches_duckdb.


_BPE_ORACLE = r"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(list_filter(
         regexp_extract_all(text,
           '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+'),
         t -> regexp_matches(t, '\S')))) AS BIGINT) AS total_bpe_tokens
FROM documents GROUP BY lang
"""


@query("text_bpe_token_count", oracle=_BPE_ORACLE, tags=("text",))
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting per language (the LLM token-budget
    estimator) — same alternation pattern evaluated by Java regex and
    RE2 (verified identical on the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_bpe", tx.bpe_token_count("text"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
        )
    )


_LANG_ORACLE = """
WITH scored AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             t -> t IN ('the','a','of','and','to'))) AS s_en,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             t -> t IN ('el','la','de','y','que'))) AS s_es,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             t -> t IN ('der','die','das','und','zu'))) AS s_de
  FROM documents
)
SELECT CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en'
            WHEN s_es >= s_de AND s_es > 0 THEN 'es'
            WHEN s_de > 0 THEN 'de'
            ELSE 'und' END AS predicted_lang,
       COUNT(*) AS n_docs
FROM scored GROUP BY 1
"""


@query("text_lang_id", oracle=_LANG_ORACLE, tags=("text",))
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language-ID heuristic (argmax with fixed tie
    order), counted per predicted language."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("predicted_lang", tx.lang_id("text"))
        .groupBy("predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_QUALITY_ORACLE = """
WITH q AS (
  SELECT doc_id, source,
         length(trim(text)) AS n_chars,
         len(string_split_regex(trim(text), '\\s+')) AS n_toks,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             t -> t IN ('the','a','of','and','to'))) AS stop_hits
  FROM documents
), s AS (
  SELECT doc_id, source,
         (CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 0.4 ELSE 0.1 END)
         + (CASE WHEN (n_chars - (n_toks - 1)) * 1.0 / n_toks BETWEEN 3 AND 10 THEN 0.3 ELSE 0.1 END)
         + (CASE WHEN stop_hits * 1.0 / n_toks >= 0.05 THEN 0.3 ELSE 0.0 END) AS score
  FROM q
)
SELECT source, COUNT(*) AS n_docs,
       CAST(CAST(SUM(CAST(score AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_score
FROM s GROUP BY source
"""


@query("text_quality_score", oracle=_QUALITY_ORACLE, tags=("text",))
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length / token-shape / stopword
    bands), aggregated per source."""
    from pythondataingestionprocess_spark.plans.registry import dec_sum

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("score", tx.quality_score("text"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), dec_sum("score", "sum_score"))
    )


_ROLLING_FP_ORACLE = """
WITH RECURSIVE tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), '\\s+')) AS tok,
         unnest(range(1, len(string_split_regex(trim(text), '\\s+')) + 1)) AS ord,
         len(string_split_regex(trim(text), '\\s+')) AS n
  FROM documents
), maxn AS (SELECT MAX(n) AS m FROM tok),
powers(k, v) AS (
  SELECT 0, CAST(1 AS HUGEINT)
  UNION ALL
  SELECT k + 1, (v * 31) % 2147483647 FROM powers WHERE k < (SELECT m FROM maxn)
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h, n - ord AS exp
  FROM tok
),
fp AS (
  SELECT doc_id,
         md5(array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' ')) AS md5_fp
  FROM documents
)
SELECT h.doc_id,
       CAST(SUM(CAST(h.h AS HUGEINT) * p.v) % 2147483647 AS BIGINT) AS rhash,
       fp.md5_fp
FROM hashed h JOIN powers p ON p.k = h.exp JOIN fp USING (doc_id)
GROUP BY h.doc_id, fp.md5_fp
"""


@query("text_rolling_fingerprint", oracle=_ROLLING_FP_ORACLE, tags=("text",))
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash per document, on a
    PORTABLE md5-based token hash (functions/text.rolling_hash).
    Full oracle: the sequential Spark fold ``((0·b+h1)·b+h2…) mod m``
    is checked against
    DuckDB's closed form ``Σ h_i·b^(n−i) mod m`` via a recursive-CTE
    power table — two independent formulations of the same hash."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.rolling_hash("text").alias("rhash"),
        tx.doc_fingerprint("text").alias("md5_fp"),
    )


# ------------------------------------------------------------- multimodal

_MULTIMODAL_ORACLE = """
SELECT source,
       COUNT(*) AS n_blobs,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       MIN(md5(text)) AS min_digest
FROM documents GROUP BY source
"""


# fake_decode_stats (multimodal/media.py:616) is pure arithmetic over
# the blob's byte length — width 16+n%64, height 16+(n//64)%64,
# n_frames 1 for image else 2+n%29 — so the WHOLE face replays in SQL:
# octet_length of the utf-8 bytes, the round-robin type assignment,
# the decode arithmetic, and the per-type aggregates. What the driver
# then certifies end-to-end is the Arrow plumbing itself: binary
# column encode, mapInPandas batch traversal, per-row decode dispatch,
# stats schema, aggregation.
_DECODE_STATS_ORACLE = """
WITH b AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         octet_length(encode(text)) AS n
  FROM documents
)
SELECT media_type,
       CAST(COUNT(*) AS BIGINT) AS n_blobs,
       CAST(SUM(n) AS BIGINT) AS total_bytes,
       CAST(SUM(CASE WHEN media_type = 'image' THEN 1
                     ELSE 2 + n % 29 END) AS BIGINT) AS total_frames,
       CAST(MIN(16 + n % 64) AS INT) AS min_width,
       CAST(MAX(16 + (n // 64) % 64) AS INT) AS max_height
FROM b GROUP BY 1
"""


@query("multimodal_decode_stats", oracle=_DECODE_STATS_ORACLE,
       tags=("multimodal",))
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched media decode (mapInPandas) over opaque binary
    payloads: utf-8 doc bytes stand in for media blobs, media_type
    assigned round-robin, deterministic fake decoder (container ships
    no image/audio libs — multimodal/media.py stubs the real one).
    Full oracle: the fake decoder is byte-length arithmetic, so DuckDB
    replays it exactly (_DECODE_STATS_ORACLE) and the driver row
    certifies the Arrow binary-column plumbing end-to-end, as the
    real-decode face does with synth.py's blobs.
    Determinism of the per-blob stats stays pinned by
    tests/test_llm_operators.py."""
    from pythondataingestionprocess_spark.multimodal.media import decode_media

    docs = load_table(spark, sf_dir, "documents")
    blobs = docs.select(
        F.col("doc_id").alias("id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "UTF-8").alias("content"),
    )
    stats = decode_media(blobs)
    return stats.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.sum("byte_len").alias("total_bytes"),
        F.sum("n_frames").alias("total_frames"),
        F.min("width").alias("min_width"),
        F.max("height").alias("max_height"),
    )


_REAL_DECODE_ORACLE = """
-- Restates multimodal/synth.py::blob_for in SQL arithmetic: every
-- blob derives from doc_id alone, so the REAL decoders' outputs are
-- closed forms. The mu-law branch is the G.711 expansion
-- ((mant*8+132)*2^exp - 132) of the constant sample byte b with
-- u = 255-b (bytes transmitted inverted), exp=(u//16)%8, mant=u%16.
WITH s AS (
  SELECT doc_id, doc_id % 4 AS kind FROM documents
), stats AS (
  SELECT
    CASE kind WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'image/tiff'
         WHEN 2 THEN 'audio/wav' ELSE 'video/quicktime' END AS media_type,
    CASE kind WHEN 0 THEN 3 + doc_id % 10 WHEN 1 THEN 2 + doc_id % 9
         WHEN 2 THEN 8000 ELSE 2 + doc_id % 6 END AS width,
    CASE kind WHEN 0 THEN 2 + doc_id % 5 WHEN 1 THEN 1 + doc_id % 6
         WHEN 2 THEN 1 ELSE 1 + doc_id % 4 END AS height,
    CASE kind WHEN 0 THEN 1 WHEN 1 THEN 1
         WHEN 2 THEN 20 + doc_id % 80 ELSE 3 END AS n_frames,
    CASE kind
      WHEN 0 THEN (doc_id % 256) / 255.0
      WHEN 1 THEN ((doc_id * 7) % 256) / 255.0
      WHEN 2 THEN (((255 - (16 + doc_id % 64)) % 16 * 8 + 132)
                   * CAST(POWER(2, ((255 - (16 + doc_id % 64)) // 16) % 8)
                          AS BIGINT) - 132) / 32767.0
      ELSE (30 + doc_id % 200) / 255.0 END AS mean_i
  FROM s
)
SELECT media_type,
       COUNT(*) AS n_blobs,
       CAST(SUM(width) AS BIGINT) AS sum_width,
       CAST(SUM(height) AS BIGINT) AS sum_height,
       CAST(SUM(n_frames) AS BIGINT) AS sum_frames,
       CAST(SUM(CAST(ROUND(mean_i * 1000000) AS BIGINT)) AS BIGINT)
         AS sum_mean_micros,
       CAST(SUM(0) AS BIGINT) AS n_quarantined
FROM stats GROUP BY media_type
"""


@query("multimodal_real_decode_roundtrip", oracle=_REAL_DECODE_ORACLE,
       tags=("multimodal",))
def multimodal_real_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode, fully oracle-checked: synthesize one
    valid BMP/TIFF/WAV/MOV blob per document (multimodal/synth.py —
    every byte a function of doc_id), run the real decoders through
    the Arrow decode_media path (RLE8 expansion + palette, PackBits
    strips + IFD walk, G.711 companding, ISO-BMFF sample tables +
    raw-frame luma), and aggregate the decoded stats. The DuckDB
    oracle restates the same stats as closed-form integer arithmetic
    on doc_id — the first multimodal face where the DECODERS
    themselves are driver-checked, not just the plumbing.
    mean_intensity compares at micro precision: every branch's
    mean·10^6 is a rational with odd denominator (255/32767), never
    nearer a rounding boundary than 1/102, while the numeric noise
    between the decoders' float path and the closed form is <1e-6."""
    from pythondataingestionprocess_spark.multimodal.media import decode_media
    from pythondataingestionprocess_spark.multimodal.synth import (
        synthesize_blobs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    stats = decode_media(synthesize_blobs(docs), use_fake=False)
    return stats.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.sum("width").alias("sum_width"),
        F.sum("height").alias("sum_height"),
        F.sum("n_frames").alias("sum_frames"),
        F.sum(
            F.round(F.col("mean_intensity") * 1000000).cast("long")
        ).alias("sum_mean_micros"),
        F.sum(
            F.when(F.col("decode_status") != "ok", 1).otherwise(0)
        ).cast("long").alias("n_quarantined"),
    )


@query("multimodal_binary_meta", oracle=_MULTIMODAL_ORACLE, tags=("multimodal",))
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing: treat utf-8 encoded text as the
    media payload (the container has no image/audio libs — see
    multimodal.media for the decode stubs), compute per-blob byte
    length + digest, aggregate per source. Both engines hash the same
    utf-8 bytes."""
    from pythondataingestionprocess_spark.multimodal.media import binary_meta

    docs = load_table(spark, sf_dir, "documents")
    blobs = docs.select(
        "doc_id", "source", F.encode("text", "UTF-8").alias("content")
    )
    meta = binary_meta(blobs, "content")
    return meta.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.sum("byte_len").alias("total_bytes"),
        F.min("digest").alias("min_digest"),
    )


# ------------------------------------------------ contamination / packing

_CONTAMINATION_ORACLE = """
WITH sh AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(list_zip(w, w[2:], w[3:]),
           z -> z[1] || ' ' || z[2] || ' ' || z[3])[:greatest(len(w)-2,0)]) AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents)
),
test_sh AS (SELECT doc_id, g FROM sh WHERE doc_id % 97 = 0),
train_sh AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 <> 0),
hits AS (
  SELECT t.doc_id,
         COUNT(*) AS n_shingles,
         COUNT(*) FILTER (WHERE tr.g IS NOT NULL) AS n_hit
  FROM test_sh t LEFT JOIN train_sh tr USING (g)
  GROUP BY t.doc_id
)
SELECT doc_id, n_shingles, n_hit,
       n_hit * 1.0 / n_shingles AS containment
FROM hits
"""


@query("text_contamination_check", oracle=_CONTAMINATION_ORACLE, tags=("text", "dedup"))
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination: for each held-out doc (doc_id % 97),
    the fraction of its word trigrams appearing ANYWHERE in the rest of
    the corpus — the standard n-gram-containment screen run before
    training on scraped data (a held-out doc with containment near 1
    has a near-copy in the training set).

    Shape: shingle explode → split test/train ONCE from the same
    exploded frame → distinct train-shingle set → LEFT join + counting
    agg. The train side shuffles distinct shingles only (no doc ids,
    no payloads); at 100 TB the test side is tiny by construction and
    AQE broadcasts it into the probe."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dd.shingle_sets(docs, "doc_id", "text", 3)
    test_sh = sh.filter(F.col("doc_id") % 97 == 0)
    train_g = (
        sh.filter(F.col("doc_id") % 97 != 0)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        test_sh.join(train_g, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_hit"),
        )
        .withColumn(
            "containment", F.col("n_hit") / F.col("n_shingles").cast("double")
        )
    )


_SHARD_ORACLE = """
WITH t AS (
  SELECT source, doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), o AS (
  SELECT source, doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM t
)
SELECT source, CAST(start_offset // 4096 AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
FROM o GROUP BY source, shard_id
"""


@query("doc_packing_shards", oracle=_SHARD_ORACLE, tags=("packing", "window"))
def doc_packing_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment (budget 4096, offset semantics —
    a doc belongs to the shard its cumulative start offset falls in):
    per-(source, shard) doc and token counts. One shuffle on source,
    pure window arithmetic — the 'how many training shards and how
    full' accounting query run before a pretraining job."""
    from pythondataingestionprocess_spark.operators.packing import shard_by_offset

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("source", "doc_id", tx.token_count("text").alias("n_tokens"))
    sharded = shard_by_offset(t, "source", "doc_id", "n_tokens", 4096)
    return sharded.groupBy("source", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
    )


_GREEDY_PACK_ORACLE = """
WITH RECURSIVE t AS (
  SELECT source, doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
), walk AS (
  SELECT source, rn, CAST(0 AS BIGINT) AS bin_id, CAST(n_tokens AS BIGINT) AS fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.source, t.rn,
         CASE WHEN w.fill + t.n_tokens > 4096 THEN w.bin_id + 1 ELSE w.bin_id END,
         CASE WHEN w.fill + t.n_tokens > 4096 THEN CAST(t.n_tokens AS BIGINT)
              ELSE w.fill + t.n_tokens END
  FROM walk w JOIN t ON t.source = w.source AND t.rn = w.rn + 1
)
SELECT source, bin_id, COUNT(*) AS n_docs, CAST(MAX(fill) AS BIGINT) AS bin_tokens
FROM walk GROUP BY 1, 2
"""


@query("doc_packing_greedy", oracle=_GREEDY_PACK_ORACLE, tags=("packing", "pandas-udf"))
def doc_packing_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document greedy packing (budget 4096): per-(source, bin)
    fill stats from the applyInPandas sequential packer. Full oracle:
    greedy bin state
    isn't window-expressible, but DuckDB's recursive CTE can walk the
    per-group document sequence row-by-row and replay the exact
    open-bin state machine — an independent sequential formulation.
    Invariants (fill ≤ budget unless single oversized doc, order
    preserved, no doc dropped) stay property-tested in pytest."""
    from pythondataingestionprocess_spark.operators.packing import (
        pack_documents_greedy,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("source", "doc_id", tx.token_count("text").alias("n_tokens"))
    packed = pack_documents_greedy(t, "source", "doc_id", "n_tokens", 4096)
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("bin_fill").alias("bin_tokens"),
    )


_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), per_tok AS (
  SELECT doc_id, source, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2, 3
), per_doc AS (
  SELECT doc_id, source,
         SUM(n) AS n_tokens, COUNT(*) AS n_distinct, MAX(n) AS top_n
  FROM per_tok GROUP BY 1, 2
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN n_distinct * 1.0 / n_tokens < 0.4
                  OR top_n * 1.0 / n_tokens > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_flagged,
  CAST(CAST(SUM(CAST(n_distinct * 1.0 / n_tokens AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
    / COUNT(*) AS avg_distinct_ratio,
  CAST(CAST(SUM(CAST(top_n * 1.0 / n_tokens AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
    / COUNT(*) AS avg_top_frac
FROM per_doc GROUP BY source
"""


@query("text_repetition_stats", oracle=_REPETITION_ORACLE, tags=("text", "quality"))
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition screening (the Gopher-rules shape): per document the
    distinct-token ratio and the most-common-token fraction, rolled up
    per source with a flagged count (distinct ratio < 0.4 OR top token
    > 20% — boilerplate/keyword-stuffed docs). One token explode, two
    key-bounded aggregations; ratios averaged through exact decimal
    sums for cross-engine determinism."""
    docs = load_table(spark, sf_dir, "documents")
    per_tok = (
        docs.select("doc_id", "source", F.explode(tx.tokens("text")).alias("tok"))
        .groupBy("doc_id", "source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_doc = per_tok.groupBy("doc_id", "source").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("n").alias("top_n"),
    )
    distinct_ratio = F.col("n_distinct") / F.col("n_tokens").cast("double")
    top_frac = F.col("top_n") / F.col("n_tokens").cast("double")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when((distinct_ratio < 0.4) | (top_frac > 0.2), 1).otherwise(0)
        ).cast("long").alias("n_flagged"),
        (
            F.sum(distinct_ratio.cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_distinct_ratio"),
        (
            F.sum(top_frac.cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_top_frac"),
    )


# Planted PII (the synthetic corpus has none): deterministic per-doc
# suffixes, identical expressions on both engines. Counting/redaction is
# staged email → phone → ipv4 (a dotted phone is a prefix-match for the
# IPv4 pattern; staging attributes every match to exactly one kind).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\d{3}[-.]\d{3}[-.]\d{4}"
_PII_IPV4 = r"(\d{1,3}\.){3}\d{1,3}"

_PII_ORACLE = f"""
WITH planted AS (
  SELECT source,
    text
    || CASE WHEN doc_id % 5 = 0
         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
         THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-4567' ELSE '' END
    || CASE WHEN doc_id % 11 = 0
         THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
    AS t
  FROM documents
), staged AS (
  SELECT source, t,
    regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM planted
), staged2 AS (
  SELECT source, t, t1,
    regexp_replace(t1, '{_PII_PHONE}', '<PHONE>', 'g') AS t2
  FROM staged
), staged3 AS (
  SELECT source, t, t1, t2,
    regexp_replace(t2, '{_PII_IPV4}', '<IP>', 'g') AS t3
  FROM staged2
)
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(len(regexp_extract_all(t, '{_PII_EMAIL}'))) AS BIGINT) AS n_emails,
  CAST(SUM(len(regexp_extract_all(t1, '{_PII_PHONE}'))) AS BIGINT) AS n_phones,
  CAST(SUM(len(regexp_extract_all(t2, '{_PII_IPV4}'))) AS BIGINT) AS n_ips,
  CAST(SUM(len(regexp_extract_all(t3, '{_PII_EMAIL}'))
         + len(regexp_extract_all(t3, '{_PII_PHONE}'))
         + len(regexp_extract_all(t3, '{_PII_IPV4}'))) AS BIGINT) AS n_leftover,
  CAST(SUM(len(t) - len(t3)) AS BIGINT) AS chars_removed
FROM staged3
GROUP BY source
"""


@query("text_pii_redact", oracle=_PII_ORACLE, tags=("text", "pii"))
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: per source, how many emails / phone numbers /
    IPv4s were found and redacted, that NOTHING matches after the scrub
    (n_leftover must be 0 — the self-check a compliance pass ships
    with), and the volume removed. The corpus is synthetic, so PII is
    planted deterministically per doc_id; detection and redaction are
    pure staged regexp expressions (functions/text.py::redact_pii), no
    Python in the path."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((did % 1000).cast("string"), 3, "0"),
                    F.lit("-4567"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    (did % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    counts = tx.pii_counts("t")
    redacted = tx.redact_pii("t")
    leftover = tx.pii_counts(redacted)
    return planted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(counts["email"]).cast("long").alias("n_emails"),
        F.sum(counts["phone"]).cast("long").alias("n_phones"),
        F.sum(counts["ipv4"]).cast("long").alias("n_ips"),
        F.sum(
            leftover["email"] + leftover["phone"] + leftover["ipv4"]
        ).cast("long").alias("n_leftover"),
        F.sum(F.length("t") - F.length(redacted)).cast("long").alias("chars_removed"),
    )


_MIX_ORACLE = """
WITH rated AS (
  SELECT doc_id, source,
         CASE CAST(regexp_extract(source, '([0-9]+)$', 1) AS INTEGER) % 3
           WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END AS rate_int,
         CASE CAST(regexp_extract(source, '([0-9]+)$', 1) AS INTEGER) % 3
           WHEN 0 THEN 5 WHEN 1 THEN 0 ELSE 3 END AS rate_tenths
  FROM documents
), expanded AS (
  SELECT doc_id, source,
         unnest(range(rate_int + CASE WHEN doc_id % 10 < rate_tenths THEN 1 ELSE 0 END)) AS copy_idx
  FROM rated
)
SELECT r.source,
       COUNT(DISTINCT r.doc_id) AS n_in,
       COALESCE(CAST(e.n_out AS BIGINT), 0) AS n_out
FROM rated r
LEFT JOIN (SELECT source, COUNT(*) AS n_out FROM expanded GROUP BY source) e
  USING (source)
GROUP BY r.source, e.n_out
"""


@query("corpus_mix_resample", oracle=_MIX_ORACLE, tags=("mixing", "sampling"))
def corpus_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing: per-source target rates (0.5× /
    1.0× / 2.3× derived from the source's numeric suffix mod 3) applied
    as id-stride replication — the data-recipe step of a pretraining
    pipeline. Output: per-source input vs post-mix row counts. Rates
    are RNG-free (doc_id % 10 stride), so the mix is bit-reproducible
    across runs and engines; amplification is explode-after-project,
    map-side only (operators/mixing.py)."""
    from pythondataingestionprocess_spark.operators.mixing import resample

    docs = load_table(spark, sf_dir, "documents")
    suffix = F.regexp_extract("source", r"([0-9]+)$", 1).cast("int")
    rate_int = (
        F.when(suffix % 3 == 0, 0).when(suffix % 3 == 1, 1).otherwise(2)
    )
    rate_tenths = (
        F.when(suffix % 3 == 0, 5).when(suffix % 3 == 1, 0).otherwise(3)
    )
    rated = docs.select("doc_id", "source")
    mixed = resample(rated, "doc_id", rate_int, rate_tenths)
    out = mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n_out"))
    inp = rated.groupBy("source").agg(F.countDistinct("doc_id").alias("n_in"))
    return inp.join(out, "source", "left").select(
        "source", "n_in", F.coalesce("n_out", F.lit(0)).alias("n_out")
    )


_DET_SAMPLE_ORACLE = """
SELECT source, doc_id, rnk FROM (
  SELECT source, doc_id,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
              AS INT) AS rnk
  FROM documents
) t WHERE rnk <= 5
"""


@query("deterministic_sample_per_source", oracle=_DET_SAMPLE_ORACLE, tags=("sampling",))
def deterministic_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-source sample: the 5 docs with the smallest
    md5(doc_id) per source — hash-rank sampling, the RNG-free way to
    carve a stable eval set out of a moving corpus (same doc ids come
    back run after run, engine after engine; adding docs only perturbs
    the sample where hashes land lower). One window shuffle on source;
    at 100 TB swap row_number for a per-partition top-k (the
    TakeOrdered pattern) to avoid sorting whole partitions."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "doc_id", "rnk")
    )


_FRAME_SAMPLE_ORACLE = """
WITH blobs AS (
  SELECT doc_id,
         ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
         octet_length(encode(text)) AS n
  FROM documents
), frames AS (
  SELECT doc_id, media_type,
         unnest(range(CASE WHEN media_type = 'image'
                           THEN 1 ELSE 2 + (n % 29) END)) AS frame_idx
  FROM blobs
)
SELECT media_type,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_blobs,
       COUNT(*) AS n_sampled_frames,
       CAST(MAX(frame_idx) AS BIGINT) AS max_frame_idx
FROM frames
WHERE frame_idx % 5 = 0
GROUP BY media_type
"""


@query("multimodal_frame_sample", oracle=_FRAME_SAMPLE_ORACLE, tags=("multimodal",))
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over decoded media: Arrow-batched decode
    (mapInPandas — the real 100 TB plumbing; deterministic fake decoder
    since the container has no media libs), explode one row per frame,
    keep every 5th frame, aggregate per media type. First HARD-verified
    multimodal path: the fake decoder derives n_frames purely from byte
    length, so the DuckDB oracle reproduces the whole pipeline
    arithmetically. Frame explosion happens AFTER the payload column is
    dropped — rows amplify ~15×, bytes don't."""
    from pythondataingestionprocess_spark.multimodal.media import decode_media

    docs = load_table(spark, sf_dir, "documents")
    blobs = docs.select(
        F.col("doc_id").alias("id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "UTF-8").alias("content"),
    )
    stats = decode_media(blobs)  # payload pruned inside; narrow stats out
    frames = stats.select(
        "id",
        "media_type",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx"),
    )
    return (
        frames.filter(F.col("frame_idx") % 5 == 0)
        .groupBy("media_type")
        .agg(
            F.countDistinct("id").alias("n_blobs"),
            F.count(F.lit(1)).alias("n_sampled_frames"),
            F.max(F.col("frame_idx").cast("long")).alias("max_frame_idx"),
        )
    )


_SKETCH_CERT_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS est_rel_err_le_0_05
FROM events GROUP BY 1
UNION ALL
SELECT 'ALL' AS event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS est_rel_err_le_0_05
FROM events
"""


@query("events_distinct_users_sketch", oracle=_SKETCH_CERT_ORACLE,
       tags=("sketch", "agg"))
def events_distinct_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    hll_sketch_agg): per-event-type user sketches, PLUS an 'ALL' row
    whose estimate comes from hll_union_agg over the per-type sketches
    — never re-scanning the data for the union. Mergeability is THE
    100 TB pattern: partial sketches combine across
    partitions/days/tiers where exact distinct state cannot.

    An ERROR-BOUND CERTIFICATE (the approx_distinct_customers
    pattern): the
    DataSketches estimate can never hash-match DuckDB's HLL, but the
    claim "every estimate — per type AND the sketch-union ALL row —
    is within 5% of exact" is decidable; the oracle asserts the exact
    counts and the bounds, so a sketch or UNION regression flips a
    boolean and the driver row goes red. The ≤2% measured error is
    also pinned in pytest; the certificate's 5% leaves host-agnostic
    margin. The union row's exact count needs one extra exact pass —
    driver-scale only; the sketch path itself never re-scans."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    typed = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").cast("long").alias("_est"),
        "exact_users",
    )
    merged = per_type.agg(
        F.lit("ALL").alias("event_type"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("_est"),
    ).crossJoin(
        ev.agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return typed.unionByName(merged).select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("est_rel_err_le_0_05"),
    )


# --------------------------------------------------------- bigram LM counts

_BIGRAM_ORACLE = """
WITH toks AS (
  SELECT string_split_regex(trim(text), '\\s+') AS arr FROM documents
), big AS (
  SELECT arr[i] AS w1, arr[i + 1] AS w2
  FROM (SELECT arr, unnest(range(1, len(arr))) AS i FROM toks)
), counts AS (
  SELECT w1, w2, COUNT(*) AS n FROM big GROUP BY 1, 2
), totals AS (
  SELECT w1, SUM(n) AS w1_total FROM counts GROUP BY 1
)
SELECT c.w1, c.w2, c.n,
       CAST(c.n AS DOUBLE) / CAST(t.w1_total AS DOUBLE) AS prob
FROM counts c JOIN totals t ON c.w1 = t.w1
ORDER BY c.n DESC, c.w1, c.w2
LIMIT 50
"""


@query("text_bigram_lm", oracle=_BIGRAM_ORACLE, tags=("text", "ngram"))
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus bigrams with conditional probability P(w2 | w1) —
    the count-based n-gram LM table (and the building block for
    perplexity-style quality filters). Bigram expansion is fully
    MAP-SIDE: zip each doc's token array with its own tail
    (arrays_zip of two slices) — no positional self-join, no window;
    the only shuffles are the two aggregations over (w1, w2) and (w1),
    both with map-side partial counts. Conditional probability divides
    two exact longs (deterministic double division, no decimal tax);
    top-50 is TakeOrderedAndProject with a total tiebreak order, not a
    global sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tx.tokens("text").alias("arr"))
    n = F.size("arr")
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("arr", 1, n - 1).alias("w1"),
                F.slice(F.col("arr"), 2, n - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("w1").agg(F.sum("n").alias("w1_total"))
    return (
        counts.join(totals, "w1")
        .select(
            "w1",
            "w2",
            "n",
            (F.col("n").cast("double") / F.col("w1_total").cast("double")).alias("prob"),
        )
        .orderBy(F.col("n").desc(), "w1", "w2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation verdict: the full filter pass in one query.
# ---------------------------------------------------------------------------

_CURATION_ORACLE = """
WITH base AS (
  SELECT source,
         string_split_regex(trim(text), '\\s+') AS w,
         string_split_regex(trim(lower(text)), '\\s+') AS wl,
         length(trim(text)) AS n_chars
  FROM documents
), feat AS (
  SELECT source, n_chars,
         len(w) AS n_toks,
         len(list_distinct(w)) AS n_distinct,
         len(list_filter(wl, t -> t IN ('the','a','of','and','to'))) AS s_en,
         len(list_filter(wl, t -> t IN ('el','la','de','y','que'))) AS s_es,
         len(list_filter(wl, t -> t IN ('der','die','das','und','zu'))) AS s_de
  FROM base
), scored AS (
  SELECT source, n_toks,
         CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en'
              WHEN s_es >= s_de AND s_es > 0 THEN 'es'
              WHEN s_de > 0 THEN 'de' ELSE 'und' END AS lang,
         (CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 0.4 ELSE 0.1 END)
         + (CASE WHEN (n_chars - (n_toks - 1)) * 1.0 / n_toks BETWEEN 3 AND 10
                 THEN 0.3 ELSE 0.1 END)
         + (CASE WHEN s_en * 1.0 / n_toks >= 0.05 THEN 0.3 ELSE 0.0 END)
           AS score,
         n_distinct * 1.0 / n_toks AS dr
  FROM feat
)
SELECT source,
       CASE WHEN lang = 'und' THEN 'drop:lang'
            WHEN score < 0.5 THEN 'drop:quality'
            WHEN dr < 0.4 THEN 'drop:repetition'
            ELSE 'keep' END AS verdict,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS sum_tokens
FROM scored GROUP BY 1, 2
"""


@query("corpus_curation_filter", oracle=_CURATION_ORACLE, tags=("text", "quality", "pipeline"))
def corpus_curation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pass as ONE query: language-ID, quality
    score, and repetition screen fused into a single keep/drop verdict
    per document (first-failing-rule attribution, fixed rule order
    lang → quality → repetition), rolled up per (source, verdict) with
    the surviving token budget — the decision table a corpus build
    actually publishes.

    Spark-first: every feature is a map-side expression over the one
    documents scan (the repetition screen uses array_distinct on the
    token array rather than the explode+regroup of
    text_repetition_stats — no per-token shuffle), so the ONLY
    exchange is the final (source, verdict) rollup, output-groups
    sized. At 100 TB the same plan holds: scan → codegen'd features →
    partial agg → tiny final agg. Rule thresholds are compared with
    the same literals and expression shapes on both engines (exact
    integer ratios where possible; the 0.4+0.1+0.0 band sums are
    identical left-associated IEEE additions)."""
    docs = load_table(spark, sf_dir, "documents")
    w = tx.tokens("text")
    n_toks = F.size(w)
    dr = F.size(F.array_distinct(w)) / n_toks.cast("double")
    verdict = (
        F.when(tx.lang_id("text") == "und", F.lit("drop:lang"))
        .when(tx.quality_score("text") < 0.5, F.lit("drop:quality"))
        .when(dr < 0.4, F.lit("drop:repetition"))
        .otherwise(F.lit("keep"))
    )
    return (
        docs.select("source", verdict.alias("verdict"), n_toks.alias("n_toks"))
        .groupBy("source", "verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("sum_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge statistics: adjacent-pair counts over the pre-tokenized corpus.
# ---------------------------------------------------------------------------

_BPE_PAIRS_ORACLE = r"""
WITH toks AS (
  SELECT list_filter(
           regexp_extract_all(text,
             '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+'),
           t -> regexp_matches(t, '\S')) AS t
  FROM documents
), pairs AS (
  SELECT unnest(list_transform(
           list_zip(t[1:len(t)-1], t[2:]),
           z -> z[1] || chr(1) || z[2])) AS pair
  FROM toks WHERE len(t) >= 2
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair
LIMIT 20
"""


@query("text_bpe_pair_counts", oracle=_BPE_PAIRS_ORACLE, tags=("text", "tokenizer"))
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistic ONE round of BPE-merge training maximizes: the 20
    most frequent ADJACENT token pairs across the pre-tokenized corpus
    (whitespace matches dropped first, so pairs span them — exactly
    what a merge step sees). At 100 TB this is the inner loop of
    tokenizer training on your own corpus: per-doc pair generation is
    map-side (zip the token array with its own tail — no explode
    before the count would be wrong, but the explode here is a
    map-side Generate feeding a partial-agg), and the only exchange
    carries (pair, partial count) — vocabulary-sized, not token-count
    sized. The pair key is chr(1)-joined (a control byte no tokenizer
    pre-split emits), identical on both engines; top-20 totalized by
    (n DESC, pair)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.filter(tx.bpe_tokens("text"), lambda x: x.rlike(r"\S"))
    pairs = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat(a, F.lit("\x01"), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BPE merge LEARNING: the full training loop, three iterations deep.
# ---------------------------------------------------------------------------

# Three unrolled [pair-count → argmax → greedy fold] iterations over a
# POSITIONAL symbol table — an independent set-based formulation of the
# operator's accumulator fold (gaps-and-islands for the greedy
# left-to-right run semantics: within a run of overlapping candidate
# matches, only possible when a == b, keep the odd-indexed ones).
_BPE_ITER_SQL = """
c{k} AS (
  SELECT a, b, SUM(cnt) AS n FROM (
    SELECT sym AS a, lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS b, cnt
    FROM s{k}
  ) WHERE b IS NOT NULL GROUP BY a, b
),
best{k} AS (SELECT a, b, CAST(n AS BIGINT) AS n FROM c{k} ORDER BY n DESC, a, b LIMIT 1),
m{k} AS (
  SELECT wid, cnt, pos, sym,
         CASE WHEN sym = (SELECT a FROM best{k})
               AND lead(sym) OVER (PARTITION BY wid ORDER BY pos) = (SELECT b FROM best{k})
              THEN 1 ELSE 0 END AS cand
  FROM s{k}
),
k{k} AS (
  SELECT *, CASE WHEN cand = 1 AND
        (ROW_NUMBER() OVER (PARTITION BY wid, cand, isl ORDER BY pos) % 2) = 1
        THEN 1 ELSE 0 END AS keep
  FROM (SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY wid, cand ORDER BY pos) AS isl
        FROM m{k})
),
s{k1} AS (
  SELECT wid, cnt,
         ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos) AS pos,
         CASE WHEN keep = 1 THEN sym || (SELECT b FROM best{k}) ELSE sym END AS sym
  FROM (SELECT *, lag(keep) OVER (PARTITION BY wid ORDER BY pos) AS prev_keep FROM k{k})
  WHERE COALESCE(prev_keep, 0) = 0
),
"""

_BPE_LEARN_ORACLE = (
    """
WITH w0 AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
  )
  WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY word
),
s0 AS (
  SELECT word AS wid, cnt,
         unnest(range(1, length(word) + 2)) AS pos,
         unnest(list_append(regexp_extract_all(word, '.'), '</w>')) AS sym
  FROM w0
),
"""
    + _BPE_ITER_SQL.format(k=0, k1=1)
    + _BPE_ITER_SQL.format(k=1, k1=2)
    + _BPE_ITER_SQL.format(k=2, k1=3)
    + """
c3 AS (
  SELECT a, b, SUM(cnt) AS n FROM (
    SELECT sym AS a, lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS b, cnt
    FROM s3
  ) WHERE b IS NOT NULL GROUP BY a, b
),
top3 AS (SELECT a, b, CAST(n AS BIGINT) AS n FROM c3 ORDER BY n DESC, a, b LIMIT 10)
SELECT 'merge' AS kind, CAST(0 AS INT) AS rank, a, b, n FROM best0
UNION ALL SELECT 'merge', CAST(1 AS INT), a, b, n FROM best1
UNION ALL SELECT 'merge', CAST(2 AS INT), a, b, n FROM best2
UNION ALL SELECT 'pair', CAST(-1 AS INT), a, b, n FROM top3
"""
)

# Same three-iteration replay, but the OUTPUT is the tokenizer's
# application surface: the 20 most frequent words with their post-
# merge subword segmentation (s3 is the positional symbol table after
# the third fold — string_agg over pos reassembles each word's
# segmentation).
_BPE_TOKENIZE_ORACLE = (
    _BPE_LEARN_ORACLE[: _BPE_LEARN_ORACLE.index("SELECT 'merge'")]
    + """, top_words AS (SELECT word, cnt FROM w0 ORDER BY cnt DESC, word LIMIT 20)
SELECT t.word, CAST(t.cnt AS BIGINT) AS n, sg.subwords
FROM top_words t JOIN (
  SELECT wid, string_agg(sym, ' ' ORDER BY pos) AS subwords
  FROM s3 GROUP BY wid
) sg ON sg.wid = t.word
"""
)


# The batched face below hash-matches the sequential-replay oracle, so
# the SEQUENTIAL learner needs no face of its own: it keeps oracle
# evidence via
# tests/test_llm_operators.py::test_sequential_bpe_face_matches_oracle
# (face body vs the oracle at sf0.001) plus the parity-batch
# certificate tests. The sequential face's scale notes (one corpus
# pass; vocabulary-sized iterations; bounded driver state) are the
# batched face's too.
@query(
    "text_bpe_merge_learn_batched",
    oracle=_BPE_LEARN_ORACLE,
    tags=("text", "tokenizer"),
)
def text_bpe_merge_learn_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`text_bpe_merge_learn` through the BATCHED learner
    (operators/bpe.py::learn_bpe_merges_batched) — the O(passes)
    production path for vocabulary-scale training. Same DuckDB oracle
    as the sequential face ON PURPOSE: the parity-batch certificate
    claims the batched merge sequence is IDENTICAL to sequential
    merge-at-a-time learning, so the sequential replay oracle is the
    exact spec this face must hash-match — a driver-checked proof of
    the certificate on real corpus data, not just the synthetic test
    corpora. Selection-time counts come from the snapshot rows the
    batch was certified from (equal to sequential's recount by the
    same theorem).

    At 100 TB the difference is jobs: 3 merges happen to fit one or
    two passes here, but a 30k-merge vocabulary runs O(passes) ≪
    O(n_merges) corpus-table jobs (BASELINE.md: 200 merges took 185
    passes before the certificate fix and 12 after)."""
    return _bpe_merge_face(spark, sf_dir, batched=True)


@query(
    "text_bpe_tokenize_vectorized",
    oracle=_BPE_TOKENIZE_ORACLE,
    tags=("text", "tokenizer"),
)
def text_bpe_tokenize_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION tokenizer-application path, driver-checked:
    learn 3 merges (batched learner), then segment the 20 most
    frequent words through `apply_merges_vectorized` — the rank-dict
    mapInPandas kernel that `apply_merges`'s depth guard points users
    to for vocabulary-scale tables (30k+ merges can't be expression
    folds). The DuckDB oracle reassembles each word's segmentation
    from the positional replay's post-merge symbol table — so the
    hash check proves rank-greedy application == learned-order
    application on driver data, the theorem the vectorized path's
    docstring claims.

    Plan shape: corpus scan → word count agg → TakeOrdered(20) →
    MapInPandas (Arrow batch, the one sanctioned Python node — see
    tests/test_plan_sweep.py). At 100 TB the same kernel runs over
    the full word table instead of a top-20: the merge table ships in
    the task closure (kilobytes), the kernel is embarrassingly
    parallel, and no shuffle follows it."""
    from pythondataingestionprocess_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.learn_bpe_merges_batched(
        docs, n_merges=3, min_count=2, word_pattern="^[a-z]+$",
        ascii_ws=True,
    )
    words = bpe.word_counts(docs, word_pattern="^[a-z]+$", ascii_ws=True)
    top = words.orderBy(F.col("count").desc(), "word").limit(20)
    applied = bpe.apply_merges_vectorized(top, merges)
    return applied.select(
        "word",
        F.col("count").cast("long").alias("n"),
        F.concat_ws(" ", "subwords").alias("subwords"),
    )


def _bpe_merge_face(spark: SparkSession, sf_dir: str, batched: bool) -> DataFrame:
    """Shared body of the two BPE faces: learn 3 merges (sequential or
    batched), report them with selection-time counts plus the top-10
    pairs of the learner's OWN final word table (stats["words_df"] —
    the localCheckpointed post-merge state; no second corpus scan, no
    re-folding). ascii_ws=True: DuckDB RE2 \\s is ASCII-only, so an
    oracle-paired path must tokenize ASCII on the Spark side too (the
    operators/dsir.py constraint)."""
    from pythondataingestionprocess_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    stats: dict = {}
    kw = dict(
        n_merges=3, min_count=2, word_pattern="^[a-z]+$",
        stats=stats, ascii_ws=True,
    )
    if batched:
        merges = bpe.learn_bpe_merges_batched(docs, **kw)
        counts = stats["selected_counts"]
    else:
        merges = bpe.learn_bpe_merges(docs, **kw)
        counts = [n for _, _, n in stats["selected"]]
    merge_rows = spark.createDataFrame(
        [("merge", i, a, b, counts[i]) for i, (a, b) in enumerate(merges)],
        "kind string, rank int, a string, b string, n long",
    )
    top_pairs = (
        bpe.pair_counts(stats["words_df"])
        .orderBy(F.col("n").desc(), "a", "b")
        .limit(10)
        .select(
            F.lit("pair").alias("kind"),
            F.lit(-1).cast("int").alias("rank"),
            "a",
            "b",
            F.col("n").cast("long").alias("n"),
        )
    )
    return merge_rows.unionAll(top_pairs)


# ---------------------------------------------------------------------------
# The whole corpus build, end-to-end: curate → exact-dedup → shard.
# ---------------------------------------------------------------------------

_BUILD_ORACLE = """
WITH feat AS (
  SELECT source, doc_id,
         length(trim(text)) AS n_chars,
         len(string_split_regex(trim(text), '\\s+')) AS n_toks,
         len(list_distinct(string_split_regex(trim(text), '\\s+')))
           AS n_distinct,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             t -> t IN ('the','a','of','and','to'))) AS s_en,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             t -> t IN ('el','la','de','y','que'))) AS s_es,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             t -> t IN ('der','die','das','und','zu'))) AS s_de,
         md5(array_to_string(
             string_split_regex(trim(lower(text)), '\\s+'), ' ')) AS fp
  FROM documents
), kept AS (
  SELECT source, doc_id, CAST(n_toks AS BIGINT) AS n_toks, fp
  FROM feat
  WHERE NOT (CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en'
                  WHEN s_es >= s_de AND s_es > 0 THEN 'es'
                  WHEN s_de > 0 THEN 'de' ELSE 'und' END) = 'und'
    AND (CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 0.4 ELSE 0.1 END)
        + (CASE WHEN (n_chars - (n_toks - 1)) * 1.0 / n_toks BETWEEN 3 AND 10
                THEN 0.3 ELSE 0.1 END)
        + (CASE WHEN s_en * 1.0 / n_toks >= 0.05 THEN 0.3 ELSE 0.0 END)
        >= 0.5
    AND n_distinct * 1.0 / n_toks >= 0.4
), surv AS (
  SELECT source, doc_id, n_toks FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
), o AS (
  SELECT source, n_toks,
         CAST(COALESCE(SUM(n_toks) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM surv
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(MAX(start_offset // 4096) + 1 AS BIGINT) AS n_shards
FROM o GROUP BY source
"""


@query("corpus_build_pipeline", oracle=_BUILD_ORACLE, tags=("text", "dedup", "packing", "pipeline"))
def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE corpus build in one plan — what a user of this
    engine runs end-to-end before a pretraining job:

    1. curate: keep docs passing the lang / quality / repetition
       screens (same rules as corpus_curation_filter);
    2. exact-dedup: one survivor per content fingerprint (md5 of the
       whitespace-normalized lowered text), min doc_id wins — global
       across sources;
    3. shard: token-budget-4096 offset sharding per source
       (doc_packing_shards semantics);
    summarized per source as (docs kept, tokens kept, shards).

    Spark-first: stage 1 is pure map-side expressions on the scan;
    stage 2 is a fingerprint-keyed window (shuffle ~ surviving keys);
    stage 3 reuses the source-keyed running-sum window; the final
    rollup rides stage 3's partitioning. Nothing in the plan is
    sized by pairs or by dropped docs — at 100 TB each stage's
    shuffle is bounded by its own output."""
    docs = load_table(spark, sf_dir, "documents")
    w = tx.tokens("text")
    n_toks = F.size(w).cast("long")
    dr = F.size(F.array_distinct(w)) / F.size(w).cast("double")
    keep = (
        (tx.lang_id("text") != "und")
        & (tx.quality_score("text") >= 0.5)
        & (dr >= 0.4)
    )
    kept = docs.filter(keep).select(
        "source",
        "doc_id",
        n_toks.alias("n_toks"),
        tx.doc_fingerprint("text").alias("fp"),
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(W.partitionBy("fp").orderBy("doc_id"))
    surv = (
        kept.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn", "fp")
    )
    from pythondataingestionprocess_spark.operators.packing import (
        shard_by_offset,
    )

    sharded = shard_by_offset(surv, "source", "doc_id", "n_toks", 4096)
    return sharded.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        (F.max("shard_id") + 1).cast("long").alias("n_shards"),
    )


# ---------------------------------------------------------------------------
# Deterministic pseudonymization with a re-identification vault — the
# step past redaction: replace each detected identifier with a STABLE
# keyed token (same email → same token everywhere, so joins and
# analytics still work on the tokenized corpus) and emit the
# token↔value vault for authorized re-identification. md5 is the
# portable hash basis (same discipline as text_rolling_fingerprint /
# dedup_simhash).
# ---------------------------------------------------------------------------

_VAULT_ORACLE = f"""
WITH planted AS (
  SELECT source, doc_id,
    text || CASE WHEN doc_id % 5 = 0
      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END AS t
  FROM documents
),
hits AS (
  SELECT source, doc_id, t,
         regexp_extract(t, '{_PII_EMAIL}') AS email
  FROM planted
  WHERE regexp_extract(t, '{_PII_EMAIL}') <> ''
),
tok AS (
  SELECT source, doc_id, t, email,
         'tok_' || substr(md5(email), 1, 16) AS token
  FROM hits
),
swapped AS (
  SELECT source, doc_id, email, token,
         replace(t, email, token) AS t_tok
  FROM tok
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT email) AS n_distinct_emails,
       COUNT(DISTINCT token) AS n_distinct_tokens,
       CAST(SUM(len(regexp_extract_all(t_tok, '{_PII_EMAIL}'))) AS BIGINT) AS n_leftover,
       CAST(SUM(CASE WHEN contains(t_tok, token) THEN 1 ELSE 0 END) AS BIGINT) AS n_tokened
FROM swapped
GROUP BY source
"""


@query("pii_pseudonymize_vault", oracle=_VAULT_ORACLE, tags=("text", "pii", "privacy"))
def pii_pseudonymize_vault(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymization audit: every detected email is swapped for a
    stable token ('tok_' + 16 hex chars of md5 — deterministic, so
    the tokenized corpus still joins/aggregates by identity without
    exposing it), and the summary proves the contract per source:
    token count equals email count (injective on this corpus), zero
    raw emails survive the swap, and every document carries its
    token. The (email, token) pairs in the ``swapped`` stage ARE the
    vault a compliance store would persist (restricted-access
    re-identification table).

    Scale: detection, hashing, and the swap are all map-side
    expressions; the single exchange is the per-source audit rollup.
    A salted/keyed variant (concat a secret before hashing) defeats
    rainbow lookups without changing the plan shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = docs.select(
        "source",
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    hits = planted.withColumn(
        "email", F.regexp_extract("t", _PII_EMAIL, 0)
    ).filter(F.col("email") != "")
    tok = hits.withColumn(
        "token", F.concat(F.lit("tok_"), F.substring(F.md5("email"), 1, 16))
    )
    swapped = tok.withColumn("t_tok", F.replace("t", "email", "token"))
    return swapped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("email").alias("n_distinct_emails"),
        F.countDistinct("token").alias("n_distinct_tokens"),
        F.sum(F.size(F.regexp_extract_all("t_tok", F.lit(_PII_EMAIL), F.lit(0))))
        .cast("long")
        .alias("n_leftover"),
        F.sum(F.when(F.contains("t_tok", F.col("token")), 1).otherwise(0))
        .cast("long")
        .alias("n_tokened"),
    )
