"""JDBC-backed table store (S9 — the reference's live row sink).

The reference writes its star schema to Postgres with per-row
``INSERT ... ON CONFLICT`` statements (database_utils.py:70-79). The
Spark-first shape is per-BATCH set operations: ``spark.read.jdbc`` for
the existing side, join-based MERGE logic (``TableMerge``, shared
with ParquetTableStore), one ``df.write.jdbc`` per table per batch.

This store runs for real in this container against embedded Apache
Derby (`derby*.jar` ships with Spark for the Hive metastore), proving
the ``df.write.jdbc``/``read.jdbc`` path end-to-end.
Against a production Postgres the same class works unchanged with
``url="jdbc:postgresql://..."``; notes for that deployment:

- ``overwrite`` here is DROP+CREATE (Spark's JDBC overwrite). A live
  Postgres would instead stage the batch to a temp table with
  ``df.write.jdbc`` and issue one server-side
  ``INSERT ... ON CONFLICT DO UPDATE`` / ``MERGE`` — same semantics,
  no full-table rewrite; the reference's per-row loop becomes one
  statement per batch.
- ``numPartitions`` bounds concurrent connections from executors; add
  ``partitionColumn``/bounds on reads so each executor scans a slice.
- Embedded Derby is single-JVM (fine under local[*], where executors
  share the driver JVM); a cluster needs a networked DB — which is the
  deployment target anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pythondataingestionprocess_spark.pipeline.store import SCHEMAS, TableMerge

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_url(db_dir: str) -> str:
    """Embedded-Derby connection URL (creates the DB on first use)."""
    return f"jdbc:derby:{db_dir};create=true"


class JdbcTableStore(TableMerge):
    """Same interface as ParquetTableStore, JDBC-backed.

    The MERGE shapes are :class:`TableMerge`'s, over this class's
    ``read``/``overwrite``; only the IO layer differs. Frames are
    eagerly materialized (localCheckpoint) before any overwrite of a
    table they were read from — the same read-then-replace hazard the
    parquet store's staging-swap solves.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        driver: str = DERBY_DRIVER,
        properties: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.url = url
        self.properties = {"driver": driver, **(properties or {})}
        self._known: set[str] = set()

    def exists(self, name: str) -> bool:
        """Whether the table exists on the target (probe query)."""
        return self._exists(name)

    # Dialect "relation does not exist" SQLStates: Derby 42X05,
    # Postgres 42P01, SQL Server S0002 (vendor error code 208,
    # "Invalid object name"). Matched against the java.sql.SQLException
    # cause chain, NEVER free-text messages: a case-sensitive
    # substring like "does not exist" also matches unrelated failures
    # (missing database/schema, Derby "connection does not exist"),
    # silently routing a transient error into the first-load create
    # path.
    _MISSING_STATES = frozenset({"42X05", "42P01", "S0002"})
    _MISSING_VENDOR_CODES = frozenset({208})

    @staticmethod
    def _is_relation_missing(exc: Exception) -> bool:
        """Walk the Java cause chain under a py4j/captured error and
        return True iff some java.sql.SQLException carries a known
        relation-missing SQLState (or SQL Server's vendor code 208)."""
        jt = getattr(exc, "java_exception", None)
        if jt is None:
            jt = getattr(exc, "_origin", None)  # CapturedException
        depth = 0
        while jt is not None and depth < 20:
            try:
                state = jt.getSQLState()
                code = jt.getErrorCode()
            except Exception:
                state, code = None, None  # not a SQLException node
            if state in JdbcTableStore._MISSING_STATES:
                return True
            if code in JdbcTableStore._MISSING_VENDOR_CODES:
                return True
            try:
                jt = jt.getCause()
            except Exception:
                break
            depth += 1
        return False

    def _exists(self, name: str) -> bool:
        """True/False ONLY for a definitive answer. A probe failure
        that is not provably \"relation missing\" (network blip, auth,
        timeout, missing database/schema) RE-RAISES: swallowing it
        would return False, which routes an existing populated table
        into the first-load DROP+CREATE path and makes upsert read an
        empty frame and overwrite away every existing row. A transient
        error must fail the batch, never masquerade as an empty
        table."""
        if name in self._known:
            return True
        try:
            # the probe column MUST be aliased: an unnamed `SELECT 1`
            # surfaces to Spark as a column literally named "1", and
            # the collect then issues SELECT "1" FROM ... — which the
            # database rejects, making exists() RAISE on a table that
            # exists but was created outside this store instance.
            self.spark.read.jdbc(
                self.url,
                f"(SELECT 1 AS probe_one FROM {name} WHERE 1=0) probe",
                properties=self.properties,
            ).collect()
            self._known.add(name)
            return True
        except Exception as e:
            if self._is_relation_missing(e):
                return False
            raise

    def read(self, name: str) -> DataFrame:
        """Read a table; empty (typed) DataFrame if never written."""
        if self._exists(name):
            return self.spark.read.jdbc(self.url, name, properties=self.properties)
        return self.spark.createDataFrame([], SCHEMAS[name])

    def overwrite(self, name: str, df: DataFrame) -> None:
        # materialize BEFORE the drop: df's lineage may scan `name`
        df = df.localCheckpoint(eager=True)
        df.write.jdbc(self.url, name, mode="overwrite", properties=self.properties)
        self._known.add(name)

    def append(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        # partition_by is a parquet-layout concern; JDBC ignores it
        # (a live DB partitions via its own DDL).
        df.write.jdbc(self.url, name, mode="append", properties=self.properties)
        self._known.add(name)
