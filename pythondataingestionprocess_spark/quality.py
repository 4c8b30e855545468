"""Data-quality expectations: declarative constraint checks that run
as ONE aggregation pass over the data.

Generalizes the reference's runtime guards (required-column validation
import_files_to_postgre.py:67-73, triple type checks
database_utils.py:206-245, the never-called check_price_constraint
:247-258) into the dbt/Deequ-style shape a 100 TB pipeline needs:
every expectation compiles to a conditional-count expression, so N
checks over a table cost one scan + one tiny aggregation row — never
one job per check.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    name: str
    violation: Column  # boolean expression, True = row violates


def not_null(col: str) -> Expectation:
    return Expectation(f"not_null_{col}", F.col(col).isNull())


def accepted_values(col: str, values: list) -> Expectation:
    return Expectation(
        f"accepted_values_{col}",
        F.col(col).isNotNull() & ~F.col(col).isin(*values),
    )


def in_range(col: str, lo, hi) -> Expectation:
    c = F.col(col)
    return Expectation(f"in_range_{col}", c.isNotNull() & ((c < lo) | (c > hi)))


def matches(col: str, pattern: str) -> Expectation:
    c = F.col(col)
    return Expectation(f"matches_{col}", c.isNotNull() & ~c.rlike(pattern))


def check(df: DataFrame, expectations: list[Expectation], keys: list[str] | None = None) -> DataFrame:
    """One-row report: total rows + violation count per expectation
    (+ duplicate-key count when ``keys`` given). Single scan, single
    aggregate — the per-check cost is one conditional sum.

    ``duplicate_keys`` = rows − distinct non-null keys, so NULL-key
    rows count as duplicates here; pair with ``not_null`` on the key
    columns to tell the two apart."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for e in expectations:
        aggs.append(
            F.sum(F.when(e.violation, 1).otherwise(0)).cast("long").alias(e.name)
        )
    if keys:
        aggs.append(
            (F.count(F.lit(1)) - F.count_distinct(*[F.col(k) for k in keys]))
            .cast("long")
            .alias("duplicate_keys")
        )
    return df.agg(*aggs)
