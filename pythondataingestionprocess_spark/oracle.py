"""Local DuckDB oracle harness — a stricter mirror of the driver's t2
correctness check (row-count + schema + order-insensitive values).

Used by the test suite to catch Spark↔DuckDB divergence at sf0.001
before the driver runs the real check at sf0.01.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
from decimal import Decimal

import duckdb
import pandas as pd

from pythondataingestionprocess_spark.catalog import TABLES, table_path


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def frame_hash_check(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame
                      ) -> tuple[bool, bool, bool]:
    """The value-hash comparison of one query's Spark and oracle
    results: ``(rows_match, schema_match, hash_match)``. Columns are compared
    in name order and rows in value order, so neither order matters;
    the value hash reads floats rounded to 9 decimals, and it matches
    only when the row counts and column names do."""

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(list(df.columns), ignore_index=True)

    def value_hash(df: pd.DataFrame) -> str:
        parts = [
            df[c].round(9).astype(str) if df[c].dtype.kind == "f"
            else df[c].astype(str)
            for c in df.columns
        ]
        blob = "\x1f".join("\x1e".join(p.tolist()) for p in parts)
        return hashlib.md5(blob.encode()).hexdigest()

    sc, oc = canon(spark_pdf), canon(oracle_pdf)
    rows_match = len(sc) == len(oc)
    schema_match = list(sc.columns) == list(oc.columns)
    hash_match = (rows_match and schema_match
                  and value_hash(sc) == value_hash(oc))
    return rows_match, schema_match, hash_match


def _canon(v) -> str:
    """Canonical string form of one cell, NaN/None-safe, order-stable."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (pd.Timestamp, _dt.datetime, _dt.date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if v is pd.NaT or (isinstance(v, type(pd.NA)) and v is pd.NA):
        return "NULL"
    return str(v)


def _canon_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(pdf.columns)
    rows = []
    for rec in pdf[cols].itertuples(index=False, name=None):
        out = []
        for v in rec:
            try:
                if v is not None and not isinstance(v, (list, tuple)) and pd.isna(v):
                    out.append("NULL")
                    continue
            except (TypeError, ValueError):
                pass
            out.append(_canon(v))
        rows.append(tuple(out))
    rows.sort()
    return rows


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty == match)."""
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"column mismatch: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_rows = _canon_rows(spark_pdf)
    o_rows = _canon_rows(oracle_pdf)
    if s_rows != o_rows:
        s_only = [r for r in s_rows if r not in set(o_rows)][:5]
        o_only = [r for r in o_rows if r not in set(s_rows)][:5]
        problems.append(f"value diff: spark-only(first5)={s_only} oracle-only(first5)={o_only}")
    return problems


def check_query(spark, sf_dir: str, name: str) -> list[str]:
    """Run one registered query against its oracle; [] == pass."""
    from pythondataingestionprocess_spark.plans import REGISTRY

    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir).toPandas()
    if spec.oracle is None:
        return [] if len(sdf) >= 0 else ["spark query failed"]
    con = duckdb_connect(sf_dir)
    odf = con.sql(spec.oracle).df()
    return compare_frames(sdf, odf)
