"""Streaming near-duplicate screening against a persistent signature
store — the end-to-end daily-ingest dedup architecture (engine-added;
the reference's only dedup is a batch existence probe,
database_utils.py:128-145).

Each micro-batch of incoming documents is:

1. screened WITHIN the batch (`minhash_lsh_pairs` on the batch alone);
2. screened AGAINST EVERYTHING PREVIOUSLY INGESTED by the batch
   incremental operator, `minhash_lsh_pairs_incremental`, with the
   store's committed tables as its corpus side — the streaming query
   is the incremental form of the batch query, not a copy of it.
   Corpus×corpus work is never repeated, so the marginal cost of a
   batch stays proportional to the batch;
3. appended to the store (its band buckets + its distinct-shingle
   arrays), making it "corpus" for every later batch.

The store is one :class:`~pythondataingestionprocess_spark.pipeline.txn_group.TableGroup`
rooted at ``store_dir`` — one commit log over two tables:

- ``buckets``  (id, band, band_hash) — the LSH membership rows the
  cross-batch candidate join probes;
- ``shingles`` (id, sh: array<string>) — the compact verify-side
  representation (exact Jaccard without re-reading text).

At 100 TB both tables live partitioned/bucketed by their join keys in
a metastore (bucket the ``buckets`` table BY (band, band_hash) and the
candidate join is co-located — zero corpus shuffle per batch).

Exactly-once, the one rule of every store-backed ``foreachBatch``
sink (here, ``embedding_ingest``, ``dsir_ingest``, ``table_sink``): a
batch's store write is ONE commit keyed by ``stream_txn(app,
batch_df, batch_id)`` (the streaming query's id and the batch id),
and a batch whose key is already in the log returns before any work.
Its ``batch_id=N`` output is written before the commit, so a
committed replay has nothing left to do; another query into the
store (a second landing dir, a restart from a lost checkpoint)
commits under its own key and screens against every committed row.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.operators import dedup as dd
from pythondataingestionprocess_spark.pipeline.txn_group import TableGroup, stream_txn

# the one signature scheme of the store, its probes and its appends
_LSH = dict(shingle_n=3, num_hashes=64, bands=16, seed=42)
# the app ids of the stores' commit keys (stream_txn adds the query id)
_APP_ID = "dedup_batch_fn"
_BLOCK_APP_ID = "block_dedup_batch_fn"


def _batch_frames(
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    banded: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The batch's (band buckets, shingle arrays) — the store's two
    tables and the inputs of both screen halves — each built unless
    supplied."""
    if banded is None:
        banded = dd._signatures_banded(batch_df, id_col, text_col, **_LSH)
    if shingles is None:
        shingles = dd.shingle_array_table(
            batch_df, id_col, text_col, _LSH["shingle_n"]
        )
    return banded, shingles


def screen_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bucket_cap: int = 1000,
    banded: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs for one incoming batch: within-batch pairs
    (`minhash_lsh_pairs`) plus cross pairs against the signature store
    (a store with no commits → within-batch only). Returns (id_a,
    id_b, jaccard, kind) where ``kind`` is 'within' or 'cross'; for
    cross pairs id_a is the NEW doc. Does NOT mutate the store —
    callers append via :func:`append_to_store` after consuming the
    result (see module docstring for retry semantics).

    The cross pairs ARE `minhash_lsh_pairs_incremental` with the
    store's ``buckets`` / ``shingles`` tables, read at one snapshot,
    as its corpus frames: the same per-bucket ``bucket_cap`` rule,
    the same candidate prune and the same verify as the batch face.
    ``bucket_cap`` also caps the within-batch screen, so the tuning
    knob applies to the whole screen.

    ``banded`` / ``shingles`` optionally supply the batch's
    `_signatures_banded` / `shingle_array_table` frames so the
    dominant tokenize+shingle+minhash CPU runs ONCE per micro-batch
    instead of once per screen half and once again in append_to_store
    (the block path's blocks_df threads the same way)."""
    banded, shingles = _batch_frames(
        batch_df, id_col, text_col, banded, shingles
    )
    kw = dict(_LSH, threshold=threshold, bucket_cap=bucket_cap)
    within = dd.minhash_lsh_pairs(
        batch_df, id_col, text_col, banded=banded, doc_sh=shingles, **kw
    ).withColumn("kind", F.lit("within"))
    store = TableGroup(spark, store_dir)
    sid = store.current_snapshot()
    if sid is None:
        return within  # first batch: nothing committed yet
    cross = dd.minhash_lsh_pairs_incremental(
        None, batch_df, id_col, text_col,
        corpus_banded=store.read("buckets", sid),
        corpus_sh=store.read("shingles", sid),
        new_banded=banded, new_sh=shingles, **kw,
    )
    return within.unionByName(
        cross.select(
            F.col("new_id").alias("id_a"), F.col("corpus_id").alias("id_b"),
            "jaccard",
        )
        # an id the store holds twice (two ad-hoc appends) verifies
        # against both of its shingle rows
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("kind", F.lit("cross"))
    )


def append_to_store(
    batch_df: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
    banded: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> None:
    """Append this batch's band buckets and shingle arrays to the
    store in one commit, making it corpus for all later batches.

    With ``batch_id`` the commit is exactly-once: the replay of a
    committed batch commits nothing. Without ``batch_id``
    (ad-hoc/backfill use) it is a plain append. ``banded`` /
    ``shingles`` reuse precomputed frames (see screen_batch)."""
    banded, shingles = _batch_frames(
        batch_df, id_col, text_col, banded, shingles
    )
    store = TableGroup(batch_df.sparkSession, store_dir)
    with store.transaction(stream_txn(_APP_ID, batch_df, batch_id)) as t:
        t.append("buckets", banded)
        t.append("shingles", shingles)


def dedup_batch_fn(
    store_dir: str,
    pairs_out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bucket_cap: int = 1000,
):
    """foreachBatch function factory: screen → write pairs (per-batch
    subdir) → commit signatures (module docstring: exactly-once). Wire it
    up with file_ingest.file_stream + run_ingestion for the full
    drop-dir → dedup-screen → store pipeline. ``bucket_cap`` tunes the per-bucket
    cross-candidate bound (tighter for boilerplate-skewed corpora,
    looser when recall past the min-id anchors matters).
    Several queries may feed one store (each commits under its own query
    id), but each needs its own ``pairs_out_dir``: the ``batch_id=N``
    subdirs of two queries would overwrite each other."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if TableGroup(spark, store_dir).committed(
                stream_txn(_APP_ID, batch_df, batch_id)):
            return
        batch_df = batch_df.localCheckpoint(eager=True)  # read the source once
        # the tokenize+shingle+minhash stage is the batch's dominant
        # CPU: compute its two products ONCE and thread them through
        # the screen (within + cross probe) and the store append
        # instead of three times per micro-batch (block_dedup_batch_fn's
        # blocks_df follows the same pattern). Both are
        # batch-proportional (16 bucket rows / one distinct-shingle
        # array per doc), so eager materialization is bounded by the
        # batch.
        banded, shingles = (
            f.localCheckpoint(eager=True)
            for f in _batch_frames(batch_df, id_col, text_col)
        )
        pairs = screen_batch(
            spark, batch_df, store_dir, id_col, text_col, threshold,
            bucket_cap=bucket_cap, banded=banded, shingles=shingles,
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_out_dir, f"batch_id={batch_id}")
        )
        append_to_store(batch_df, store_dir, id_col, text_col,
                        batch_id=batch_id, banded=banded,
                        shingles=shingles)

    return fn


# ---- streaming block-level (C4-style) dedup -------------------------

_BLOCK_WORDS = 10


def _batch_blocks(
    batch_df: DataFrame, id_col: str, text_col: str, block: int
) -> DataFrame:
    """Carve a batch into ``block``-word blocks keyed by their 128-bit
    content hash — the fixed-width shuffle/store key (the batch
    operator keeps text keys only so its DuckDB oracle can replay).
    The key is a 16-byte binary md5, NOT xxhash64: the store is
    persistent and grows with corpus history, and at C4-scale block
    counts (billions) a 64-bit birthday collision is *expected* —
    P(collision) ≈ n²/2⁶⁵ ≈ 5% at n=10⁹ — which would silently drop a
    never-ingested block. At 128 bits the same
    bound is ~10⁻²⁰; 16 bytes/key keeps shuffle and store width fixed.
    The carve itself is the SHARED ``dd.carve_blocks`` — the batch and
    streaming faces cannot silently diverge on tokenization."""
    return dd.carve_blocks(batch_df, id_col, text_col, block).select(
        id_col,
        "block_idx",
        F.length("block_text").alias("block_chars"),
        F.unhex(F.md5(F.col("block_text").cast("binary"))).alias("block_hash"),
    )


def block_screen_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    block: int = _BLOCK_WORDS,
    blocks_df: DataFrame | None = None,
) -> DataFrame:
    """Streaming face of ``operators.dedup.block_dedup_retention``:
    per-doc block retention where a block survives iff it is the first
    occurrence WITHIN the batch (total order (id, block_idx)) AND its
    hash has never been ingested before (anti-join against the block
    store). Precedence is INGESTION ORDER across batches ((id,
    block_idx) within a batch): when ids are monotone with arrival —
    the normal append-only ingest — this equals the batch operator
    over the concatenation; with out-of-order ids the streaming result
    keeps the EARLIER-ARRIVED copy where the batch operator would keep
    the lower id. First-arrival-wins is the semantics a streaming
    dedup store can implement without reprocessing history.

    ``blocks_df``: pass a pre-carved (ideally checkpointed) frame from
    ``_batch_blocks`` to avoid re-running the carve; the foreachBatch
    factory below carves ONCE per batch for both screen and append.

    Scale: the store is NEVER shuffled (the minhash screen's
    semi-prune discipline): a naive batch-anti-store equi-join would
    hash-partition the whole store every batch — a per-batch cost that
    grows with history. Instead the store is semi-joined map-side
    against the BATCH's broadcast hash set (matched hashes are at most
    batch-sized), and the batch anti-joins that small broadcast frame.
    Marginal cost per batch = one map-side store scan + batch-sized
    shuffles, flat as the store grows; with the store bucketed by
    block_hash on a metastore the scan prunes too."""
    from pyspark.sql.window import Window as W

    blocks = (
        blocks_df
        if blocks_df is not None
        else _batch_blocks(batch_df, id_col, text_col, block).localCheckpoint(
            eager=True
        )  # three subtrees below reference it — carve once (reuse != CSE)
    )
    w = W.partitionBy("block_hash").orderBy(id_col, "block_idx")
    ranked = blocks.withColumn("rn", F.row_number().over(w))
    group = TableGroup(spark, store_dir)
    sid = group.current_snapshot()
    if sid is not None:
        store = group.read("blocks", sid)
        batch_hashes = blocks.select("block_hash").distinct()
        matched = (
            store.join(F.broadcast(batch_hashes), "block_hash", "left_semi")
            .select("block_hash")
            .distinct()
        )
        fresh = ranked.join(F.broadcast(matched), "block_hash", "left_anti")
    else:
        fresh = ranked
    kept = fresh.filter(F.col("rn") == 1)
    total = blocks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_blocks"),
    )
    kept_agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("block_chars").cast("long").alias("kept_chars"),
    )
    return (
        total.join(kept_agg, id_col, "left")
        .fillna(0, ["n_kept", "kept_chars"])
        .select(id_col, "n_blocks", "n_kept", "kept_chars")
    )


def append_blocks_to_store(
    batch_df: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    block: int = _BLOCK_WORDS,
    batch_id: int | None = None,
    blocks_df: DataFrame | None = None,
) -> None:
    """Append this batch's DISTINCT block hashes to the store. Same
    exactly-once contract as ``append_to_store``. ``blocks_df``: reuse
    a pre-carved frame (see block_screen_batch)."""
    blocks = (
        blocks_df
        if blocks_df is not None
        else _batch_blocks(batch_df, id_col, text_col, block)
    )
    hashes = blocks.select("block_hash").distinct()
    store = TableGroup(batch_df.sparkSession, store_dir)
    with store.transaction(stream_txn(_BLOCK_APP_ID, batch_df, batch_id)) as t:
        t.append("blocks", hashes)


def block_dedup_batch_fn(
    store_dir: str,
    retention_out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    block: int = _BLOCK_WORDS,
):
    """foreachBatch factory: screen blocks → write per-doc retention
    (per-batch subdir) → commit the batch's block hashes (module
    docstring: exactly-once). Several queries may feed one store (each
    commits under its own query id), but each needs its own
    ``retention_out_dir``: the ``batch_id=N`` subdirs of two queries
    would overwrite each other."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if TableGroup(spark, store_dir).committed(
                stream_txn(_BLOCK_APP_ID, batch_df, batch_id)):
            return
        # carve ONCE per batch; screen (3 subtrees) and append share it
        blocks = _batch_blocks(batch_df, id_col, text_col, block).localCheckpoint(
            eager=True
        )
        retention = block_screen_batch(
            spark, batch_df, store_dir, id_col, text_col, block,
            blocks_df=blocks,
        )
        retention.write.mode("overwrite").parquet(
            os.path.join(retention_out_dir, f"batch_id={batch_id}")
        )
        append_blocks_to_store(
            batch_df, store_dir, id_col, text_col, block,
            batch_id=batch_id, blocks_df=blocks,
        )

    return fn


# ---- store maintenance ----------------------------------------------

# Every signature-store table this engine writes (minhash:
# buckets/shingles, block: blocks, embedding: vec_buckets/vectors).
# Rows are value-identical across replays and backfills (a given id
# always carries the same signature/payload), so full-row DISTINCT is
# the compaction dedup.
_STORE_TABLES = ("buckets", "shingles", "blocks", "vec_buckets", "vectors")


def compact_store(spark: SparkSession, store_dir: str) -> dict[str, tuple[int, int]]:
    """Fold a signature store's per-micro-batch files (one-plus
    parquet file per batch per table — a year of daily ingest is
    hundreds of file opens per screen) into one file set per table,
    rows deduplicated, as ONE overwrite commit; then vacuum the
    superseded files. Returns {table: (files_before, files_after)}.

    Crash-safe by the commit protocol: until the claim, readers and
    the stream see the old snapshot, and a crash leaves only orphan
    files for a later vacuum. A stream batch committing meanwhile
    fails the compaction with ConcurrentWriteError (rows are never
    lost), but the vacuum does drop the files of older snapshots, so
    run it when no reader is pinned to one."""
    store = TableGroup(spark, store_dir)
    tables = sorted(set(_STORE_TABLES) & set(store.tables()))
    before = {}
    with store.transaction() as txn:
        for table in tables:
            df = txn.read(table)
            before[table] = len(df.inputFiles())
            txn.overwrite(table, df.distinct().coalesce(max(1, before[table] // 64)))
    store.vacuum(keep_last=1)
    return {t: (before[t], len(store.read(t).inputFiles())) for t in tables}
