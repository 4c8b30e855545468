"""Order-insensitive double aggregates (``plans/registry.py``'s determinism convention)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec_sum(col: Column | str, alias: str) -> Column:
    """Order-insensitive double sum: exact decimal accumulation, one
    CORRECTLY-ROUNDED final cast to double (Spark's Decimal→double
    goes through BigDecimal.doubleValue — nearest double to the exact
    value). Mirror in SQL with ``plans.registry.sql_dec_sum``, NOT a bare
    ``CAST(dec AS DOUBLE)``: DuckDB's direct decimal→double is
    ``(double)hugeint / 10^scale`` — TWO roundings — which diverges
    from the JVM by 1 ulp once the sum reaches ~17 significant digits
    (first seen at sf1: pricing_summary's 4.2e10 sums hashed apart —
    BASELINE.md r15 sf1 entry). Routing the cast through
    STRING (valid SQL on BOTH engines — some oracles are also run by
    Spark) makes each engine perform one correctly-rounded conversion
    of the same exact decimal, at ANY magnitude."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(25,6)")).cast("double").alias(alias)


def dec_avg(col: Column | str, alias: str) -> Column:
    """Deterministic double average: exact decimal sum / count."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast("decimal(25,6)")).cast("double")
        / F.count(c)
    ).alias(alias)
