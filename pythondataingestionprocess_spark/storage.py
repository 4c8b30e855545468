"""Storage-path and layout helpers shared by the stores and the faces:
the reader-side glob escape every store path goes through, and the
Z-order file-skipping manifest computed without writing files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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


def zorder_manifest(
    df: DataFrame, x_col: str, y_col: str, cell_bits: int = 6
) -> DataFrame:
    """The file-skipping manifest a Z-range-aligned layout yields,
    computed at CELL grain without writing files: rows are grouped by
    the top ``cell_bits`` bits of their 16-bit Morton code (2^cell_bits
    fixed-width Z-ranges — the unit an OPTIMIZE ZORDER write assigns
    to files), and each cell reports the (min, max) envelope of both
    layout dimensions plus its row count — the per-file stats a
    lakehouse manifest keeps for data skipping.

    A physical Z-order rewrite uses a sampled range partitioner
    (parallel, but boundaries are not reproducible cross-engine); the
    fixed-width cell grain is deterministic, so the manifest math — the
    envelopes a reader consults before touching storage — is
    oracle-checkable end to end. One map-side exact shuffle at the
    2^cell_bits output grain; no global sort, no single-partition
    window.

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
