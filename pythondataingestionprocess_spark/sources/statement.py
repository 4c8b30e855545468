"""BBVA statement extraction, Spark-first (SURVEY.md §3 EP2).

The reference (pdf_to_xlsx.py:18-135) is: PDF → one big string →
section regexes → per-line regex loops → two pandas frames → Excel
with a data-derived name. Here the whole text→tables stage is pure
column expressions (`regexp_extract_all` + `explode` + per-group
`regexp_extract`), so at scale thousands of statements parse in
parallel inside codegen; only the PDF byte decode is a UDF (the
stdlib sources/pdf_lite.py codec, with a decode-confidence quarantine
for CID fonts it cannot map).

Grammar parity (pdf_to_xlsx.py:39-52):
- msi line: date desc $m1 $m2 $m3 "n de m" "r%"
- regular-charge line: date date desc signed-money
- sections sliced between the statement's literal headings.
"""

from __future__ import annotations

from datetime import date as _date

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.functions.cleaning import (
    money_clean,
    signed_money,
)
from pythondataingestionprocess_spark.functions.dates import parse_stmt_date

# F1 (pdf_to_xlsx.py:39-42) — 7 capture groups
MSI_LINE = (
    r"(?i)(\d{2}-[a-z]{3}-\d{4})\s+(.+?)\s+\$([\d,]+\.\d{2})\s+\$([\d,]+\.\d{2})"
    r"\s+\$([\d,]+\.\d{2})\s+(\d+ de \d+)\s+([\d.]+%)"
)
# F2 (pdf_to_xlsx.py:45-48) — 4 capture groups
CHARGE_LINE = (
    r"(?i)(\d{2}-[a-z]{3}-\d{4})\s+(\d{2}-[a-z]{3}-\d{4})\s+(.+?)"
    r"\s+([+-]\s*\$?[\d,]+\.\d{2})"
)
# P6 section slicing (pdf_to_xlsx.py:51-52)
MSI_SECTION = (
    r"(?is)COMPRAS Y CARGOS DIFERIDOS A MESES SIN INTERESES(.+?)"
    r"COMPRAS Y CARGOS DIFERIDOS A MESES CON INTERESES"
)
CHARGES_SECTION = r"(?is)CARGOS,COMPRAS Y ABONOS REGULARES\(NO A MESES\)(.+?)TOTAL CARGOS"


def _exploded_lines(df: DataFrame, text_col: str, section_re: str, line_re: str) -> DataFrame:
    """Slice the section, extract every grammar match, one row per
    match (keeps all other columns as lineage/source identifiers)."""
    section = F.regexp_extract(F.col(text_col), section_re, 1)
    return df.withColumn(
        "line", F.explode(F.regexp_extract_all(section, F.lit(line_re), F.lit(0)))
    ).drop(text_col)


def _g(pattern: str, group: int) -> Column:
    return F.regexp_extract(F.col("line"), pattern, group)


def parse_msi(df: DataFrame, text_col: str = "text") -> DataFrame:
    """MSI (installments) table — schema per pdf_to_xlsx.py:118-120.

    ``Fecha operación`` is the parsed date; the raw string is kept in
    ``Fecha operación raw`` (the reference stores string-or-datetime
    in ONE object column on parse failure — a union Spark's schema
    can't hold, so the raw survives in a sibling column).
    """
    lines = _exploded_lines(df, text_col, MSI_SECTION, MSI_LINE)
    return lines.select(
        "*",
        parse_stmt_date(_g(MSI_LINE, 1)).alias("Fecha operación"),
        _g(MSI_LINE, 1).alias("Fecha operación raw"),
        _g(MSI_LINE, 2).alias("Descripción"),
        money_clean(_g(MSI_LINE, 3)).alias("Monto original"),
        money_clean(_g(MSI_LINE, 4)).alias("Saldo pendiente"),
        money_clean(_g(MSI_LINE, 5)).alias("Pago requerido"),
        _g(MSI_LINE, 6).alias("Núm. de pago"),
        _g(MSI_LINE, 7).alias("Tasa de interés aplicable"),
    ).drop("line")


def parse_charges(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Regular-charges table — schema per pdf_to_xlsx.py:122-123."""
    lines = _exploded_lines(df, text_col, CHARGES_SECTION, CHARGE_LINE)
    return lines.select(
        "*",
        parse_stmt_date(_g(CHARGE_LINE, 1)).alias("Fecha de la operación"),
        _g(CHARGE_LINE, 1).alias("Fecha de la operación raw"),
        parse_stmt_date(_g(CHARGE_LINE, 2)).alias("Fecha de cargo"),
        signed_money(_g(CHARGE_LINE, 4)).alias("Pago requerido"),
        _g(CHARGE_LINE, 3).alias("Descripción"),
    ).drop("line")


def statement_output_name(
    charges: DataFrame, base: str = "cargos_bbva", today: _date | None = None
) -> str:
    """S8 dynamic sink naming (pdf_to_xlsx.py:106-115): the MAX
    operation date names the output, ``ddMMMyyyy`` (English month
    abbreviations capitalized like ``%d%b%Y`` — e.g. 17Sep2025);
    no parsed dates → today. One tiny aggregate collect — the only
    driver-side step, as in any compute-then-name sink."""
    row = charges.select(
        F.date_format(F.max("Fecha de la operación"), "ddMMMyyyy").alias("d")
    ).first()
    stamp = row["d"] if row and row["d"] else (today or _date.today()).strftime("%d%b%Y")
    return f"{base}_{stamp}.xlsx"


def extract_pdf_text(
    spark: SparkSession, path_glob: str, password: bytes = b""
) -> DataFrame:
    """S1 PDF text scan: ``binaryFile`` source + per-file decode UDF
    → (path, text, decode_confidence, decode_status), decoded by the
    stdlib extractor (sources/pdf_lite.py — standard-encoded and
    ToUnicode-mapped Type0 PDFs), so the scan needs no optional
    dependency. ``password`` opens password-protected statements
    batch-wide: tried as user then owner per file, with the empty
    password as the final fallback, so a mixed protected/open batch
    needs one call; files the password cannot open quarantine per-row.

    The confidence columns are the CID-font quarantine: a Type0
    statement with no ToUnicode CMap extracts glyph ids, not text,
    and MUST NOT silently enter the corpus — filter
    ``decode_status = 'ok'`` for parsing and route the rest to a
    dead-letter dir (``sources/files.py`` archive semantics). The
    decode is the ONLY non-Spark-native stage."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    result_t = StructType([
        StructField("text", StringType()),
        StructField("decode_confidence", DoubleType()),
        StructField("decode_status", StringType()),
    ])

    @F.udf(result_t)
    def _pdf_text(content):
        from pythondataingestionprocess_spark.sources import pdf_lite

        return pdf_lite.extract_with_confidence(content, password)

    blobs = spark.read.format("binaryFile").load(path_glob)
    return blobs.select(
        F.col("path"), _pdf_text("content").alias("r")
    ).select("path", "r.text", "r.decode_confidence", "r.decode_status")


# Driver-side materialization bound for the Excel sink. Statement
# workbooks are ~200 rows at reference scale (pdf_to_xlsx.py:126-128);
# the guard exists so pointing this sink at a FACT table fails loud
# instead of OOMing the driver via collect(). Overridable for
# legitimately larger exports.
EXCEL_SINK_MAX_ROWS = 100_000


def write_two_sheet_excel(
    msi: DataFrame, charges: DataFrame, path: str,
    max_rows: int = EXCEL_SINK_MAX_ROWS,
) -> None:
    """S7 Excel two-sheet sink (pdf_to_xlsx.py:126-128). Driver-side —
    statement outputs are small by construction. Written by the
    dependency-free stdlib codec (sources/xlsx_lite.py)."""
    for name, df in (("msi", msi), ("compras", charges)):
        # count under a LIMIT: one extra row decides, no full-table
        # scan just to validate the bound
        if df.limit(max_rows + 1).count() > max_rows:
            raise ValueError(
                f"write_two_sheet_excel: sheet {name!r} exceeds "
                f"{max_rows} rows — this sink materializes on the "
                f"driver and is for reference-scale statement "
                f"workbooks; write parquet/CSV distributed instead "
                f"or raise max_rows explicitly"
            )
    from pythondataingestionprocess_spark.sources import xlsx_lite

    def rows_of(df: DataFrame) -> list[list]:
        header = list(df.columns)
        return [header] + [[row[c] for c in header] for row in df.collect()]

    xlsx_lite.write_workbook(
        path, [("msi", rows_of(msi)), ("compras", rows_of(charges))]
    )
