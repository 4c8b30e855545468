"""Driver contract for the spark-graft builder (PySpark target).

Exposes the engine's declared query surface
(``pythondataingestionprocess_spark.plans.REGISTRY``) to the driver:

- ``entry(spark)`` — flagship query at sf0.001 (smoke check)
- ``queries()`` — name → (spark, sf_dir) -> DataFrame
- ``oracle_sql()`` — name → DuckDB SQL (omitted for rows-only ops)

The driver owns the SparkSession, so every callable first applies the
engine's runtime-settable session tuning (``_tune``): a default session
(200 shuffle partitions, no AQE, no Arrow) multiplies small-SF stage
overhead several-fold, enough to exhaust a whole-registry correctness
pass's time budget. The keys are
``pythondataingestionprocess_spark.session.sql_conf`` — runtime-safe
SQLConf entries (no SparkContext restart needed), the same ones
``get_spark`` builds with.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pythondataingestionprocess_spark.plans import REGISTRY  # noqa: E402
from pythondataingestionprocess_spark.session import sql_conf  # noqa: E402

_TUNED: set[str] = set()


def _tune(spark: SparkSession) -> SparkSession:
    """Apply runtime session tuning once per session (idempotent)."""
    key = spark.sparkContext.applicationId
    if key in _TUNED:
        return spark
    for k, v in sql_conf().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # read-only in this session build — keep going
    _TUNED.add(key)
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["flagship_revenue_by_nation"].fn(
        _tune(spark), "/root/testdata/sf0.001"
    )


def _tuned(fn: Callable[[SparkSession, str], DataFrame]):
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(_tune(spark), sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _tuned(spec.fn) for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every oracle-checkable query."""
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}
