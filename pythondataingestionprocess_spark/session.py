"""SparkSession factory with scale-oriented defaults.

Local test/bench runs use ``local[$SPARK_GRAFT_CPUS]`` (single JVM),
but every config here is chosen to also make sense on a multi-executor
cluster at ~100 TB:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy)
- shuffle partitions sized to core count locally; on a real cluster the
  AQE coalesce makes the initial number far less sensitive
- Arrow enabled for the (rare) Pandas-UDF paths
- UTC session timezone so timestamp semantics are stable across
  environments (and match the DuckDB oracle)

Streaming state store: local runs keep the default HDFS-backed
provider (in-heap, fastest at test-sized state). At cluster scale set
``spark.sql.streaming.stateStore.providerClass`` to the bundled
``RocksDBStateStoreProvider`` — keyed state then lives on executor
local disk (block-cache reads) instead of heap, so dedup/session/
funnel state scales with SSD, not memory. Engine compatibility is
proven by tests/test_streaming.py::test_streaming_agg_on_rocksdb_state_store.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def sql_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The runtime-settable SQL confs of an engine session, defined
    once: :func:`get_spark` builds with them, and the driver contract
    (``__spark_entry__._tune``) sets them on a session it does not
    own. ``shuffle_partitions`` defaults to the local core count — at
    real cluster scale size it to ~2-3x total executor cores and let
    AQE coalesce small post-shuffle partitions."""
    return {
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or default_parallelism()
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # spill-awareness: 128 MiB scan splits keep a task's working set
        # well under executor memory even after decode amplification
        # (parquet → row ~2-4×); at the 100 TB target this is the knob
        # that bounds per-task memory together with AQE's
        # advisoryPartitionSizeInBytes for post-shuffle partitions
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(64 * 1024 * 1024),
        # events.ts may be parquet TIMESTAMP(NANOS), which vanilla
        # Spark rejects; read as long and convert in the catalog
        # loader (see catalog.load_table).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # A handful of day-rollup windows use a constant partition key
        # to declare a tiny single-partition window INTENTIONAL (one
        # row per day) instead of tripping WindowExec's
        # no-partition-defined warning on every run. This rule would
        # fold the constant away and resurrect the warning; its only
        # effect is removing foldable window partitions, so excluding
        # it costs nothing.
        "spark.sql.optimizer.excludedRules": (
            "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions"
        ),
    }


def get_spark(
    app_name: str = "pythondataingestionprocess-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session: :func:`sql_conf` plus the confs
    only a new SparkContext can take, then ``extra_conf``."""
    builder = (
        SparkSession.builder.master(f"local[{default_parallelism()}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**sql_conf(shuffle_partitions), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
