"""Query registry: the single source of truth for the engine's declared
query surface.

Every operator class from SURVEY.md §2 (plus the beyond-reference
LLM-pipeline operators) is declared here as a named query:

- a Spark callable ``(spark, sf_dir) -> DataFrame``
- an optional ANSI-SQL oracle string for DuckDB (same table names);
  queries without an oracle get a weaker rows-only check.

``__spark_entry__.py`` exposes this registry to the driver.

Determinism conventions (so Spark and DuckDB hash-match):

- **Money/double sums**: double addition is order-sensitive and Spark
  sums in parallel partition order while DuckDB sums sequentially. We
  therefore sum via exact ``DECIMAL(25,6)`` arithmetic on BOTH sides
  and cast the result back to ``DOUBLE``; per-row double→decimal
  rounding is identical across engines (a double can never land
  exactly on a .5 decimal boundary at scale ≥ 1), so results are
  bit-identical regardless of execution order.
- **Averages**: exact decimal sum cast to double, divided by the
  count (double division is deterministic).
- **Top-k / window ordering**: every ORDER BY includes a unique key
  so ranking is total.
- **Column names**: every computed column is aliased identically in
  the Spark plan and the oracle SQL (the driver sorts columns by name
  before hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# re-exported for the plan modules; the streaming layer imports them
# from functions/ without loading the query surface
from pythondataingestionprocess_spark.functions.aggregates import dec_avg, dec_sum  # noqa: F401


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable[[SparkSession, str], DataFrame]]:
    """Register a query. ``oracle=None`` → rows-only check."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(), tags=tags
        )
        return fn

    return deco


# SQL fragment helpers for oracles, the mirrors of dec_sum / dec_avg.
# The STRING hop is load-bearing — see dec_sum's docstring (1-ulp
# decimal→double divergence at 17+ significant digits without it).
def sql_dec_sum(expr: str, alias: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(25,6))) AS STRING)"
        f" AS DOUBLE) AS {alias}"
    )


def sql_dec_avg(expr: str, alias: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(25,6))) AS STRING)"
        f" AS DOUBLE) / COUNT({expr}) AS {alias}"
    )
