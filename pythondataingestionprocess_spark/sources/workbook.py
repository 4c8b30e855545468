"""Two-sheet inventory workbook source (SURVEY.md §2.1 S2/S3/S4,
§1.5 schema validation).

The reference reads each workbook with pandas + openpyxl on one
thread (import_files_to_postgre.py:245-261); here the stdlib codec
:mod:`xlsx_lite` decodes it, no optional dependency. Parallelism at scale
comes from MANY workbooks, so the idiomatic Spark shape is: decode
each small workbook driver-side (or in a ``binaryFile`` UDF when
volume demands), emit typed rows WITH file order (``row_idx``), and
let everything downstream be DataFrame transforms. What must survive
re-architecture:

- **S3 hyperlink side-channel**: the ``Preview`` column's display
  text is useless; the URL lives on ``cell.hyperlink.target``,
  invisible to pandas (import_files_to_postgre.py:45-65) — emitted
  here as a real ``Preview_URL`` column.
- **S4 positional attach**: ``Picture_URL`` = hyperlink list zipped
  by ROW POSITION onto Compras (import_files_to_postgre.py:261) —
  an equi-join on ``row_idx``, never an implicit order assumption.
- **P2/§1.5 degraded validation**: missing required columns add NULL
  columns instead of failing (import_files_to_postgre.py:82-89).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.functions.cleaning import (
    normalize_null_markers,
    safe_float,
)
from pythondataingestionprocess_spark.functions.dates import excel_serial_to_date

# Required-column contracts (import_files_to_postgre.py:82-89)
REQUIRED_COMPRAS = ("Descripción", "Cant", "C. Unit", "Total Cmpr", "Fch Cmpr")
REQUIRED_PRECIOS = ("Descripción", "Marca", "Categoria")

# Numeric Compras columns (cleaned with safe_float — F6 comma-decimal)
COMPRAS_NUMERIC = (
    "Precio", "% Desc", "C. Unit US", "C. Unit", "Total Cmpr", "Envio",
    "Dólar", "Desct", "Costo Final",
)
PRECIOS_NUMERIC = ("P. Tienda", "C. Unit", "P. Venta", "P. Oferta")


def _q(name: str) -> F.Column:
    return F.col(f"`{name}`")


def validate_columns(df: DataFrame, required: tuple[str, ...]) -> tuple[DataFrame, bool]:
    """P2: missing required columns are added as NULL strings and the
    frame is flagged degraded — schema-on-read with a declared
    required subset, graceful like the reference."""
    missing = [c for c in required if c not in df.columns]
    for c in missing:
        df = df.withColumn(c, F.lit(None).cast("string"))
    return df, not missing


def attach_positional(
    target: DataFrame, values: list[str | None], col_name: str = "Picture_URL"
) -> DataFrame:
    """S4: join a driver-side positional list onto row order. The
    reference silently truncates the list to len(df)
    (``links_urls[:len(df)]``); rows beyond the list get NULL."""
    spark = target.sparkSession
    lookup = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], f"row_idx long, {col_name} string"
    )
    return target.join(lookup, "row_idx", "left")


def clean_compras(df: DataFrame) -> DataFrame:
    """deep_clean (F6/F7) + Excel-serial date (F18) → the typed frame
    the Phase-3 pipeline consumes. String-typed input columns (raw
    sheet reads); output: numerics double, ``purchase_date`` date."""
    out = df
    for c in COMPRAS_NUMERIC:
        if c in df.columns:
            out = out.withColumn(c, safe_float(_q(c)))
    for c in ("Cant", "Pzs"):
        if c in df.columns:
            out = out.withColumn(c, safe_float(_q(c)).try_cast("long"))
    for c in ("Descripción", "Liga", "Fch Entrga"):
        if c in df.columns:
            out = out.withColumn(c, normalize_null_markers(_q(c).cast("string")))
    return out.withColumn("purchase_date", excel_serial_to_date(_q("Fch Cmpr")))


def clean_precios(df: DataFrame) -> DataFrame:
    out = df
    for c in PRECIOS_NUMERIC:
        if c in df.columns:
            out = out.withColumn(c, safe_float(_q(c)))
    for c in ("No", "Cant", "Pzs"):
        if c in df.columns:
            out = out.withColumn(c, safe_float(_q(c)).try_cast("long"))
    for c in ("Descripción", "Marca", "Categoria"):
        if c in df.columns:
            out = out.withColumn(c, normalize_null_markers(_q(c).cast("string")))
    return out


def read_workbook(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, list[str | None]]:
    """S2/S3: read sheets ``Compras``+``Precios`` and the Preview
    hyperlink list from one workbook, decoded with the
    dependency-free stdlib codec (:mod:`xlsx_lite`): string-typed
    cells (schema-on-read), the file's row order stamped into
    ``row_idx``, and the Preview column's hyperlink TARGET per
    Precios data row (the S3 side-channel — the display text stays
    useless, as in the reference)."""
    from pythondataingestionprocess_spark.sources import xlsx_lite

    book = xlsx_lite.read_sheets(path)

    def sheet_df(name: str) -> DataFrame:
        rows = book[name]["rows"]
        header = [str(h) for h in rows[0]]
        typed = [
            tuple(None if v is None else str(v) for v in r) + (path, i)
            for i, r in enumerate(rows[1:])
        ]
        schema = ", ".join(f"`{h}` string" for h in header)
        return spark.createDataFrame(
            typed, schema + ", src_file string, row_idx long"
        )

    precios_rows = book["Precios"]["rows"]
    header = [str(h) for h in precios_rows[0]]
    links: list[str | None] = []
    if "Preview" in header:
        col = header.index("Preview")
        hl = book["Precios"]["hyperlinks"]
        links = [hl.get((r, col)) for r in range(1, len(precios_rows))]
    return sheet_df("Compras"), sheet_df("Precios"), links
