"""IVF (inverted-file) approximate nearest neighbor — the clustered
alternative to hyperplane LSH (operators/similarity.py), per the
classic IVF design (Sivic & Zisserman "Video Google" 2003; Jégou et
al., PAMI 2011 — coarse quantizer + inverted lists, no product
quantization here since payload vectors are small).

Shape for scale:

- **fit**: Lloyd's k-means where only the ASSIGN step touches the
  corpus (Arrow-batched argmin against broadcast centroids — one pass
  per iteration, no shuffle) and the UPDATE step is one groupBy over
  (cluster, dim) — centroids (k×dim doubles) are the only
  driver-materialized state, which is the legitimate driver payload
  of any k-means at any corpus size.
- **index**: each vector gets its nearest-centroid list id — a plain
  column; at rest you'd partition/cluster the table by it.
- **search**: each query probes its ``n_probe`` nearest lists → join
  on list id → exact cosine + per-query top-k. Cost ≈
  (n_probe / k) × brute force, recall tunable via n_probe.

Deterministic end-to-end: centroid init takes the k lowest-id
vectors, numpy float64 math, ties broken by id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pythondataingestionprocess_spark.functions.vectors import cosine
from pythondataingestionprocess_spark.storage import glob_escape



def _assign_udf(centroids: np.ndarray):
    """nearest-centroid id per vector (squared-L2 argmin, GEMM form)."""
    c = centroids.astype(np.float64)
    c_sq = (c * c).sum(axis=1)

    @pandas_udf("int")
    def _assign(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        # argmin ||x-c||^2 = argmin (|c|^2 - 2 x·c); |x|^2 constant per row
        d = c_sq[None, :] - 2.0 * (mat @ c.T)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return _assign


def _probe_udf(centroids: np.ndarray, n_probe: int):
    """the n_probe nearest list ids per query vector."""
    c = centroids.astype(np.float64)
    c_sq = (c * c).sum(axis=1)

    @pandas_udf("array<int>")
    def _probe(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        d = c_sq[None, :] - 2.0 * (mat @ c.T)
        idx = np.argsort(d, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(idx))

    return _probe


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    max_iter: int = 5,
) -> np.ndarray:
    """Lloyd's k-means, returning (k, dim) centroids. Empty clusters
    keep their previous centroid.

    Init is a deterministic HASH-SPREAD sample: rank ids by md5 and
    take the first k. First-k-by-id is equally deterministic but
    degenerate when low ids are correlated (e.g. all from one true
    cluster → k near-identical seeds → empty lists); the hash order is
    uncorrelated with any data ordering, same trick as
    deterministic_sample_per_source."""
    init = (
        df.select(F.md5(F.col(id_col).cast("string")).alias("_h"), vec_col)
        .orderBy("_h")
        .limit(k)
        .select(vec_col)
        .toPandas()[vec_col]
        .to_numpy()
    )
    centroids = np.vstack(init).astype(np.float64)
    for _ in range(max_iter):
        assigned = df.select(
            F.col(vec_col), _assign_udf(centroids)(F.col(vec_col)).alias("_c")
        )
        sums = (
            assigned.select("_c", F.posexplode(vec_col).alias("_dim", "_x"))
            .groupBy("_c", "_dim")
            .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        new = centroids.copy()
        acc = np.zeros_like(centroids)
        cnt = np.zeros(centroids.shape[0])
        for r in sums:
            acc[r["_c"], r["_dim"]] = r["_s"]
            cnt[r["_c"]] = r["_n"]
        nonempty = cnt > 0
        new[nonempty] = acc[nonempty] / cnt[nonempty, None]
        if np.allclose(new, centroids):
            break
        centroids = new
    return centroids


def ivf_assign(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Attach the inverted-list id (the at-rest clustering column)."""
    return df.withColumn("ivf_list", _assign_udf(centroids)(F.col(vec_col)))


def ivf_probe_lists(
    queries: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """``(id_col, probe_lists array<int>)`` — the n_probe nearest list
    ids per query, exposed for callers that drive their own pruned
    scan (e.g. the IVFADC composition in operators/pq.py, or a reader
    turning the lists into partition filters on an at-rest index)."""
    return queries.select(
        F.col(id_col),
        _probe_udf(centroids, n_probe)(F.col(vec_col)).alias("probe_lists"),
    )



def _score_probed(indexed: DataFrame, probed: DataFrame, k: int) -> DataFrame:
    """Shared scoring tail of ivf_search and search_index (one copy, so
    the two searches cannot drift apart): probe-list equi-join (probed side broadcast — it is
    queries x n_probe rows), self-pair filter, exact cosine, per-query
    top-k with the neighbor_id tiebreak making the ranking a total
    order."""
    scored = (
        indexed.join(F.broadcast(probed), "ivf_list")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine("query_vec", "neighbor_vec"))
        .select("query_id", "neighbor_id", "cos")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k: (query_id, neighbor_id, cos, rank), searching
    only the ``n_probe`` probed lists per query."""
    indexed = ivf_assign(corpus, centroids, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("neighbor_vec"),
        "ivf_list",
    )
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.explode(_probe_udf(centroids, n_probe)(F.col(vec_col))).alias("ivf_list"),
    )
    return _score_probed(indexed, probed, k)


# ---- persistent index ------------------------------------------------


def save_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantized: bool = False,
) -> None:
    """Materialize the IVF index at rest: ``centroids/`` (list_id,
    centroid) and ``vectors/`` PARTITIONED BY ivf_list — the layout
    the module docstring promises, so a probed search reads ONLY its
    lists' files (partition pruning), which is the entire IVF payoff
    at corpus scale: (n_probe / k) of the bytes, enforced by the
    storage layout rather than a post-scan filter.

    ``quantized=True`` stores the resident vectors as per-vector
    symmetric int8 (``qvec``) instead of floats — the IVF-SQ8 layout
    (Jégou et al.'s IVF with a scalar quantizer): 1/8 the bytes per
    resident vector on top of the list pruning, and the asymmetric
    int8-corpus × float-query cosine is exact in expectation because
    the per-vector scale cancels in the corpus side's norm ratio
    (same argument as operators/similarity.quantize_int8)."""
    import os

    spark = corpus.sparkSession
    cent_rows = [
        (int(i), [float(x) for x in row]) for i, row in enumerate(centroids)
    ]
    spark.createDataFrame(
        cent_rows, "list_id int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, "centroids")
    )
    assigned = ivf_assign(corpus, centroids, vec_col)
    if quantized:
        from pythondataingestionprocess_spark.operators.similarity import (
            int8_qvec_col,
        )

        assigned = assigned.select(
            id_col, int8_qvec_col(vec_col).alias("qvec"), "ivf_list"
        )
    else:
        assigned = assigned.select(id_col, vec_col, "ivf_list")
    assigned.write.mode("overwrite").partitionBy("ivf_list").parquet(
        os.path.join(index_dir, "vectors")
    )
    # format marker: one tiny file so the streaming append path never
    # has to partition-discover the whole vectors dir per micro-batch
    # just to learn a boolean
    spark.createDataFrame(
        [(bool(quantized),)], "quantized boolean"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, "meta")
    )


def load_centroids(spark, index_dir: str) -> np.ndarray:
    import os

    rows = (
        spark.read.parquet(glob_escape(os.path.join(index_dir, "centroids")))
        .orderBy("list_id")
        .collect()
    )
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def append_to_index(
    batch: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedup_resident: bool = False,
) -> None:
    """Incremental add (the daily-ingest shape): assign the batch to
    the EXISTING lists and append into their partitions — no refit, no
    rewrite of resident lists; the batch is stored in the INDEX's own
    vector format (float or int8, read from the meta marker).
    Centroid drift under sustained inserts is the classic IVF trade;
    refit + save_index when list-size skew degrades recall.

    ``dedup_resident=True`` makes the append idempotent under replay:
    the batch's ids are anti-joined against the resident ids of ONLY
    the lists the batch lands in (a partition-pruned read — cost
    bounded by the touched lists, not the index), so re-delivering the
    same batch appends nothing. The streaming face uses this; plain
    batch backfills can skip the read."""
    import os

    spark = batch.sparkSession
    centroids = load_centroids(spark, index_dir)
    assigned = ivf_assign(batch, centroids, vec_col)
    if dedup_resident:
        assigned = assigned.localCheckpoint(eager=True)  # probed twice
        lists = [
            r["ivf_list"]
            for r in assigned.select("ivf_list").distinct().collect()
        ]
        resident_ids = (
            spark.read.parquet(glob_escape(os.path.join(index_dir, "vectors")))
            .filter(F.col("ivf_list").isin(lists))
            .select(id_col)
        )
        assigned = assigned.join(resident_ids, id_col, "left_anti")
    if _index_quantized(spark, index_dir):
        from pythondataingestionprocess_spark.operators.similarity import (
            int8_qvec_col,
        )

        assigned = assigned.select(
            id_col, int8_qvec_col(vec_col).alias("qvec"), "ivf_list"
        )
    else:
        assigned = assigned.select(id_col, vec_col, "ivf_list")
    assigned.write.mode("append").partitionBy("ivf_list").parquet(
        os.path.join(index_dir, "vectors")
    )


def _index_quantized(spark, index_dir: str) -> bool:
    """Read the one-row format marker (fallback: sniff the vectors
    schema, for indexes written before the marker existed)."""
    import os

    try:
        return bool(
            spark.read.parquet(glob_escape(os.path.join(index_dir, "meta"))).first()["quantized"]
        )
    except Exception:
        return "qvec" in spark.read.parquet(
            glob_escape(os.path.join(index_dir, "vectors"))
        ).columns


def search_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k against the PERSISTED index. The probed list ids of the
    (contract-small) query side are collected driver-side and pushed
    into the vectors read as a literal IN-filter on the partition
    column, so unprobed lists are pruned at file-listing time — the
    scan metrics read n_probe-ish partitions out of k, never the
    corpus. Scoring then mirrors ivf_search."""
    import os

    centroids = load_centroids(spark, index_dir)
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.explode(_probe_udf(centroids, n_probe)(F.col(vec_col))).alias("ivf_list"),
    ).localCheckpoint(eager=True)  # probed twice: list collect + join
    lists = [r["ivf_list"] for r in probed.select("ivf_list").distinct().collect()]
    resident = spark.read.parquet(glob_escape(os.path.join(index_dir, "vectors")))
    stored_vec = "qvec" if "qvec" in resident.columns else vec_col
    indexed = (
        resident
        .filter(F.col("ivf_list").isin(lists))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(stored_vec).alias("neighbor_vec"),
            "ivf_list",
        )
    )
    return _score_probed(indexed, probed, k)


def index_ingest_batch_fn(index_dir: str, id_col: str = "vec_id",
                          vec_col: str = "embedding"):
    """foreachBatch factory: stream vectors into the persisted index
    (assign to existing lists → partitioned append). Composes with
    streaming.file_ingest like every other ingest face.

    Retry semantics (foreachBatch is AT-LEAST-once even with a
    checkpointed source: a crash after the append but before the
    epoch commit re-delivers the same batch): the append runs with
    ``dedup_resident=True``, so a replayed batch's ids anti-join
    against the already-resident ids of its target lists
    (partition-pruned) and the retry appends nothing. The signature
    stores' exactly-once commit log is not used here: search prunes
    by ``ivf_list=`` directories, which the log does not write."""

    def fn(batch_df, batch_id: int) -> None:
        # no outer checkpoint: dedup_resident already checkpoints the
        # assigned frame, which evaluates the source exactly once
        append_to_index(
            batch_df, index_dir, id_col, vec_col, dedup_resident=True
        )

    return fn


# ---- index maintenance ----------------------------------------------


def index_list_stats(spark, index_dir: str) -> DataFrame:
    """Per-list maintenance statistics off the persisted index:
    ``(ivf_list, n_rows, n_files)``. One partition-discovering scan of
    footers plus a count aggregate — metadata-sized output (k rows)."""
    import os

    vectors = spark.read.parquet(glob_escape(os.path.join(index_dir, "vectors")))
    rows = vectors.groupBy("ivf_list").agg(F.count(F.lit(1)).alias("n_rows"))
    files = (
        vectors.select("ivf_list", F.input_file_name().alias("f"))
        .groupBy("ivf_list")
        .agg(F.countDistinct("f").alias("n_files"))
    )
    return rows.join(files, "ivf_list")


def needs_refit(spark, index_dir: str, skew_threshold: float = 8.0) -> bool:
    """The refit trigger ``append_to_index``'s docstring defers:
    True when the largest list holds more than
    ``skew_threshold`` × the mean list size (over k, counting
    centroid-empty lists as zero). Sustained inserts drift away from
    the fitted centroids; a hot list degrades BOTH sides of the IVF
    trade — probes that hit it scan a large fraction of the corpus
    (cost), probes that miss it lose its overflow mass (recall).
    Driver payload is one k-row collect."""
    import os

    k = spark.read.parquet(glob_escape(os.path.join(index_dir, "centroids"))).count()
    if k == 0:
        return False
    stats = index_list_stats(spark, index_dir).collect()
    total = sum(r["n_rows"] for r in stats)
    if total == 0:
        return False
    mean = total / k
    return max(r["n_rows"] for r in stats) > skew_threshold * mean


def refit_index(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    max_iter: int = 5,
) -> np.ndarray:
    """Re-fit centroids on the CURRENT corpus and rewrite the index in
    place (save_index), preserving the stored-vector format from the
    meta marker. The caller supplies the float corpus: an IVF-SQ8
    index stores int8 residents, which must not seed a re-fit (the
    quantization error would compound across refits). Returns the new
    centroids. Run quiesced, like compact_index."""
    spark = corpus.sparkSession
    quantized = _index_quantized(spark, index_dir)
    centroids = kmeans_fit(corpus, id_col, vec_col, k=k, max_iter=max_iter)
    save_index(corpus, centroids, index_dir, id_col, vec_col,
               quantized=quantized)
    return centroids


def compact_index(spark, index_dir: str) -> tuple[int, int]:
    """Fold the streaming append path's accreted small files (one-plus
    per touched list per micro-batch) back to ONE file per ivf_list
    partition, preserving the partition-pruned layout search_index
    depends on. Returns (files_before, files_after).

    Unlike the streaming signature stores, the index does not commit
    through the snapshot log (pipeline/snapshot_store.py): search
    prunes by ``ivf_list=`` directories, which the log does not
    write. So compaction swaps directories by rename, with one
    crash-safety rule — LEFTOVERS ARE INPUTS, NEVER TRASH: the live
    ``vectors`` table, any ``__next``/``__old`` swap remnant, and any
    ``__building*`` staging leftover are all unioned (full-row
    DISTINCT — resident rows are value-identical across replays), the
    consolidated copy is durably written to a fresh uuid-suffixed
    staging name BEFORE anything is deleted, and the swap is
    rename-based. Run quiesced (stream stopped, checkpoint
    committed). One task per list (hash repartition on the partition
    column) → exactly one output file per list directory."""
    import os
    import uuid as _uuid

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = os.path.join(index_dir, "vectors")
    p = jvm.org.apache.hadoop.fs.Path(path)
    nxt = jvm.org.apache.hadoop.fs.Path(path + "__next")
    op = jvm.org.apache.hadoop.fs.Path(path + "__old")
    fs = p.getFileSystem(conf)

    # LISTING, not globbing: a glob built from an index path
    # containing metacharacters would throw or silently match
    # nothing — orphaning the only complete copy after a mid-swap
    # crash
    parent = jvm.org.apache.hadoop.fs.Path(os.path.dirname(path) or ".")
    base = os.path.basename(path)
    building = [
        str(st.getPath().toUri().getPath())
        for st in (fs.listStatus(parent) if fs.exists(parent) else [])
        if st.getPath().getName().startswith(base + "__building")
    ]

    def n_parquet_files(root: str) -> int:
        it = fs.listFiles(jvm.org.apache.hadoop.fs.Path(root), True)
        n = 0
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    exists = lambda s: fs.exists(jvm.org.apache.hadoop.fs.Path(s))  # noqa: E731
    sources = [
        s for s in (path, path + "__next", path + "__old", *building)
        if exists(s) and n_parquet_files(s) > 0
    ]
    if not sources:
        return (0, 0)

    before = sum(n_parquet_files(s) for s in sources)
    parts = [spark.read.parquet(glob_escape(s)) for s in sources]
    merged = parts[0]
    for df in parts[1:]:
        merged = merged.unionByName(df)
    # ONE scan of the union (counting lists over the sources would
    # re-read every source file before the rewrite scans them again):
    # dedup once, materialize, then count lists cheaply
    # over the deduped rows
    merged = merged.distinct().localCheckpoint(eager=True)
    n_lists = merged.select("ivf_list").distinct().count()
    out = merged.repartition(max(1, n_lists), "ivf_list")

    tmp = path + "__building_" + _uuid.uuid4().hex[:8]
    out.write.mode("overwrite").partitionBy("ivf_list").parquet(tmp)
    for b in building:
        fs.delete(jvm.org.apache.hadoop.fs.Path(b), True)
    fs.delete(nxt, True)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), nxt):
        raise IOError(f"compact_index: staging rename failed for {path}")
    fs.delete(op, True)
    if fs.exists(p) and not fs.rename(p, op):
        raise IOError(f"compact_index: aside rename failed for {path}")
    if not fs.rename(nxt, p):
        raise IOError(f"compact_index: swap rename failed for {path}")
    fs.delete(op, True)
    return (before, n_parquet_files(path))
