"""Physical-layout utilities: bucketed tables for co-located joins.

At 100 TB the biggest join cost is shuffling two fact tables on the
join key. Bucketing pre-shuffles AT WRITE TIME: both tables hashed
into the same number of buckets on the key mean the join (and any
groupBy on that key) runs with NO exchange — each task reads matching
bucket files from both sides. The win repeats on every downstream
query, amortizing the one-time write shuffle.

Local tests register bucketed tables in the in-memory catalog
(spark-warehouse dir); on a cluster this is the same API against a
metastore, or Delta/Iceberg's clustered-write equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def glob_escape(path: str) -> str:
    """Escape Hadoop glob metacharacters in a path handed to a Spark
    reader. DataFrameReader globs every input path, so a store under
    ``/data/run[2026]/`` would otherwise raise PATH_NOT_FOUND or
    silently read nothing. Write paths and local filesystem calls are
    literal and take the raw path."""
    for c in "\\*?[]{}":
        path = path.replace(c, "\\" + c)
    return path


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (optionally sorted) managed table.
    Sorting within buckets additionally enables exchange-AND-sort-free
    sort-merge joins."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # an orphaned managed-table dir (warehouse outliving the catalog,
    # e.g. across local test sessions) blocks re-creation — clear it
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{warehouse}/{table.lower()}", ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — planner
    elides both shuffles (asserted in tests/test_bucketing.py)."""
    return spark.table(left_table).join(spark.table(right_table), on)


def plan_compaction(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> list[list[str]]:
    """Group a directory's parquet part-files into compaction bins of
    ~``target_bytes`` (first-fit over the size list — the same
    greedy_bins core the document packer uses). Pure metadata: one
    driver-side listing, no data read. Streaming sinks accrete small
    files (one-plus per micro-batch per partition); compaction restores
    scan efficiency — at 100 TB, small files dominate task-scheduling
    and footer overhead long before data volume matters."""
    from pythondataingestionprocess_spark.operators.packing import greedy_bins

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    files = [
        (st.getPath().toString(), st.getLen())
        for st in fs.listStatus(p)
        if st.getPath().getName().endswith(".parquet")
    ]
    files.sort()  # deterministic bin assignment
    bins, _ = greedy_bins([sz for _, sz in files], target_bytes)
    out: dict[int, list[str]] = {}
    for (name, _), b in zip(files, bins):
        out.setdefault(b, []).append(name)
    return [out[b] for b in sorted(out)]


def compact_dir(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite ``path``'s parquet part-files into ``out_path`` with one
    output file per ~``target_bytes`` bin (coalesce(1) per bin — each
    bin's input already fits the target, so the single writer task is
    bounded). Returns the number of output bins. Rewrite-to-new-dir +
    atomic swap by the caller keeps readers consistent (object stores
    have no atomic in-place replace)."""
    groups = plan_compaction(spark, path, target_bytes)
    for i, group in enumerate(groups):
        (
            spark.read.parquet(*group)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{out_path}/bin_{i:05d}")
        )
    return len(groups)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    dynamic: bool = True,
) -> None:
    """Hive-style partitioned parquet write with DYNAMIC partition
    overwrite: only the partitions present in ``df`` are replaced;
    every other partition on disk survives. This is the idempotent
    daily-reload primitive — re-running one day's load rewrites that
    day's directory and nothing else (static overwrite mode would
    silently truncate the whole table; ``dynamic=False`` exposes it
    for the rare full-rebuild).

    Scale notes: (1) downstream readers get PARTITION PRUNING for
    free — a ``day = X`` filter reads one directory, not 100 TB (the
    PartitionFilters line in the scan, pinned by the test); (2) the
    partition column should be low-cardinality (day, region — never a
    key), or the write fans out into millions of directories;
    (3) pair with a per-partition ``repartition`` upstream if the
    incoming frame has many tasks, else each task writes a file into
    every partition it touches (tasks × partitions small files).
    """
    (
        df.write.mode("overwrite")
        .option(
            "partitionOverwriteMode", "dynamic" if dynamic else "static"
        )
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def file_skipping_stats(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """Per-file min/max/count index over a parquet directory — the
    data-skipping statistics a lakehouse table format (Delta/Iceberg)
    maintains in its manifest, derivable here from the files alone.

    One distributed pass: group by ``input_file_name()``, aggregate
    min/max per requested column. The result is files-sized (not
    rows-sized) and is the input to :func:`prunable_files`, which
    turns a range predicate into the set of files a reader can skip
    without opening. Parquet footers already carry row-group stats;
    this table lifts them to the FILE grain where a planner (or a
    manifest-driven reader) consults them before touching storage —
    at 100 TB the difference between listing 1M footers and reading
    one manifest table.

    Pair with a layout that keeps ranges tight per file: a single-
    column sort tightens that column only; a Morton interleave
    (functions/layout.py) tightens BOTH queried dimensions at once —
    measured in tests/test_bucketing.py::test_file_stats_zorder_skips_more_files.
    """
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return df.groupBy(F.input_file_name().alias("file")).agg(*aggs)


def prunable_files(stats: DataFrame, col: str, lo, hi) -> DataFrame:
    """Files whose [min, max] envelope for ``col`` does not intersect
    [lo, hi] — a reader can skip them entirely. Chain calls (or union
    the results) for conjunctive multi-column predicates: a file is
    skippable if ANY conjunct's envelope misses."""
    overlaps = (F.col(f"{col}_max") >= F.lit(lo)) & (F.col(f"{col}_min") <= F.lit(hi))
    return stats.filter(~overlaps)


def zorder_manifest(
    df: DataFrame, x_col: str, y_col: str, cell_bits: int = 6
) -> DataFrame:
    """The file-skipping manifest a Z-range-aligned layout yields,
    computed at CELL grain without writing files: rows are grouped by
    the top ``cell_bits`` bits of their 16-bit Morton code (2^cell_bits
    fixed-width Z-ranges — the unit an OPTIMIZE ZORDER write assigns
    to files), and each cell reports the (min, max) envelope of both
    layout dimensions plus its row count — exactly the per-file stats
    :func:`file_skipping_stats` extracts from a written directory.

    This is the PLANNING face of :func:`optimize_zorder` +
    :func:`file_skipping_stats`: the physical rewrite uses a sampled
    range partitioner (parallel, but boundaries are not reproducible
    cross-engine), while the fixed-width cell grain is deterministic,
    so the manifest math — the envelopes a reader consults before
    touching storage — is oracle-checkable end to end. One map-side
    exact shuffle at the 2^cell_bits output grain; no global sort, no
    single-partition window.

    ``x_col``/``y_col`` must already be 8-bit bucket columns (0..255),
    as produced by the caller's binning expressions."""
    from pythondataingestionprocess_spark.functions.layout import morton16

    cell = F.shiftright(morton16(x_col, y_col), 16 - cell_bits)
    return df.groupBy(cell.alias("cell")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(x_col).alias(f"{x_col}_min"),
        F.max(x_col).alias(f"{x_col}_max"),
        F.min(y_col).alias(f"{y_col}_min"),
        F.max(y_col).alias(f"{y_col}_max"),
    )


def optimize_zorder(
    spark: SparkSession,
    src: str,
    dst: str,
    x_expr: str,
    y_expr: str,
    n_files: int,
) -> None:
    """Rewrite a parquet directory clustered by the Morton (Z-order)
    interleave of two 8-bit bucket expressions — the engine's
    ``OPTIMIZE ZORDER BY`` equivalent (functions/layout.py has the
    interleave; Delta/Iceberg ship the same op as a table service).

    ``repartitionByRange`` on the Morton key range-partitions rows
    into ``n_files`` files whose Z-ranges don't overlap (Spark samples
    the key to find balanced cut points), and ``sortWithinPartitions``
    extends the clustering to row-group grain so parquet footer stats
    are tight inside each file too. The helper column is dropped
    before the write — projection preserves partitioning and order.

    Payoff is measured, not assumed:
    tests/test_bucketing.py::test_optimize_zorder_tightens_file_stats
    rewrites a key-ordered table and shows :func:`file_skipping_stats`
    envelopes shrink from full-range to fractions on BOTH queried
    dimensions. At 100 TB this job runs per partition (day) after the
    daily load, and the skip rate compounds with every subsequent
    2-D-predicate read.
    """
    from pythondataingestionprocess_spark.functions.layout import morton16

    df = spark.read.parquet(src)
    (
        df.withColumn("__zorder", morton16(x_expr, y_expr))
        .repartitionByRange(n_files, "__zorder")
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
        .write.mode("overwrite")
        .parquet(dst)
    )
