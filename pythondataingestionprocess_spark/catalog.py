"""Testdata catalog: loaders for the driver-generated parquet corpus.

Tables (TPC-H-ish star schema + events stream + documents/embeddings):
``region nation customer supplier part orders lineitem events
documents embeddings`` — one parquet file per table under an
``sf{N}`` directory (see TESTDATA.md).

At 100 TB these would be partitioned/bucketed Delta or parquet tables
registered in a metastore; the loader keeps that shape in mind — all
reads are plain ``spark.read.parquet`` so Catalyst gets predicate
pushdown / column pruning for free, and ``register_views`` exposes the
same names SQL-side.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tiny dimensions worth broadcast-hinting when joined against facts.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# The session cache: the one place the engine keeps state across the
# queries of a session. Lazy table readers, persisted intermediates a
# query family shares, and profiled table statistics all live here,
# each under a name. Invariants:
# - a key holds ONE value, built for one (session, sf_dir); asking for
#   it under another session or directory replaces it, so a process
#   cycling sessions or corpora pins at most one value per key. Keys
#   hold the session strongly (every cached DataFrame does anyway), and
#   cycling the session is how the bench's drift retry empties it.
# - replacing a value unpersists it and drops every entry naming its
#   key in ``deps``, transitively: a frame derived from a persisted
#   parent never outlives it, nor pins blocks of a stale corpus.
# - cached frames use persist(), never a checkpoint, so a lost block is
#   recomputed from lineage instead of failing every later query. After
#   spark.catalog.clearCache() the entries stay, and their frames
#   recompute on every use until a replacement persists them again.
# Safe because the sf corpora are immutable once generated.
_CACHE: dict[str, tuple[SparkSession, str, Any, tuple[str, ...]]] = {}


def cached(
    spark: SparkSession,
    sf_dir: str,
    key: str,
    build: Callable[[], Any],
    deps: tuple[str, ...] = (),
) -> Any:
    """The value ``build()`` returns, built once per (session, sf_dir).
    ``deps`` names the keys the value was derived from."""
    entry = _CACHE.get(key)
    if entry is not None and entry[0] is spark and entry[1] == sf_dir:
        return entry[2]
    _evict(key)
    value = build()
    _CACHE[key] = (spark, sf_dir, value, tuple(deps))
    return value


def _evict(key: str) -> None:
    entry = _CACHE.pop(key, None)
    if entry is None:
        return
    value = entry[2]
    for df in value if isinstance(value, tuple) else (value,):
        # only frames this cache persisted: unpersisting a plain frame
        # would drop any cached plan it happens to match
        if isinstance(df, DataFrame) and df.is_cached:
            try:
                df.unpersist()
            except Exception:
                pass  # a stopped session can't (and needn't) unpersist
    for dependent in [k for k, e in _CACHE.items() if key in e[3]]:
        _evict(dependent)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table as a lazy DataFrame. One ``spark.read.parquet`` costs
    ~150 ms of driver-side listing, footer and schema work, and the
    query surface loads the same ten tables hundreds of times per
    session, so the reader is cached the way a metastore resolves a
    table once. No rows are computed or pinned."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return cached(
        spark, sf_dir, f"table:{name}",
        lambda: spark.read.parquet(table_path(sf_dir, name)),
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL-facing queries)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
