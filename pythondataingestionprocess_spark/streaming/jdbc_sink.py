"""Exactly-once streaming sink into a JDBC store (foreachBatch).

Spark's JDBC writer is not a streaming sink, and ``foreachBatch`` only
guarantees AT-LEAST-once: after a crash the restarted query replays the
last uncommitted micro-batch into the function. This sink makes the
effect exactly-once with two standard pieces:

1. a **batch ledger** table keyed (sink_id, batch_id): a batch id
   present in the ledger was durably committed in full, so a replay
   returns immediately;
2. **idempotent writes** for the window where the crash hit AFTER the
   data write but BEFORE the ledger row:
   - ``mode="upsert"`` is naturally idempotent (key-matched MERGE);
   - ``mode="append"`` stamps every row with ``(batch_sink,
     batch_seq)`` and the replay path DELETEs exactly that (sink,
     batch) slice first — one metadata-grain statement against the
     bootstrap-created ``batch_seq`` index (the sink-id equality is a
     residual predicate over that micro-batch-sized slice; Derby
     cannot index the CLOB-mapped string column), never a table
     rewrite. Because rows carry the sink id, several append-mode
     sinks may feed the SAME table: a replay can only ever delete its
     own half-written slice.

Driver-side single-row statements (ledger insert/probe, replay
DELETE) run over a plain ``java.sql`` connection — opened with the
store's FULL connection properties (user/password/...; only the
Spark-facing ``driver`` key is stripped), so the same statements run
unchanged against authenticated Postgres/SQL Server, not just
embedded Derby. All VALUES go through ``PreparedStatement``
parameters; only identifiers (table/index names, operator-supplied
config) are interpolated. The data write is the executor-parallel
``df.write.jdbc`` the batch store already uses; the micro-batch frame
is persisted around it so the ledger's ``n_rows`` count re-reads the
cache, not the source (one source evaluation per batch).

Live-Derby coverage in tests/test_streaming_jdbc_sink.py, incl.
simulated replay, the crash-between-write-and-ledger window, two
sinks sharing one table, and a quote-bearing sink_id.

Reference anchor: the reference's sink IS a JDBC database written
row-at-a-time with no retry story (import_files_to_postgre.py:145-227)
— a crashed half-written file imports twice. This module is that
sink's streaming face with the dedup discipline the reference lacked,
next to streaming/file_ingest.py's checkpointed source side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.pipeline.jdbc_store import JdbcTableStore

LEDGER_TABLE = "stream_batch_ledger"

# "object already exists" SQLStates: Derby X0Y32, Postgres 42P07,
# SQL Server S0001/2714 — the create-if-absent race is benign (covers
# both the ledger table and the per-table batch index).
_EXISTS_STATES = frozenset({"X0Y32", "42P07", "S0001"})


class StreamingJdbcSink:
    """``foreachBatch`` callable writing a micro-batch stream into one
    JDBC table exactly once. ``sink_id`` names this (query, table)
    pair in the shared ledger; in append mode it is also stamped onto
    every data row, so multiple sinks (distinct sink_ids) may feed the
    same table without a replay deleting each other's rows."""

    def __init__(
        self,
        store: JdbcTableStore,
        table: str,
        sink_id: str,
        mode: str = "append",
        keys: list[str] | None = None,
    ):
        if mode not in ("append", "upsert"):
            raise ValueError(f"mode must be append|upsert, got {mode!r}")
        if mode == "upsert" and not keys:
            raise ValueError("upsert mode requires keys")
        if len(sink_id.encode("utf-8")) > 128:
            # the ledger column is VARCHAR(128); a longer id would
            # crash the ledger insert AND make the replay DELETE's
            # CAST-truncated comparison match nothing — a permanent
            # duplicate-and-crash loop. Refuse up front.
            raise ValueError("sink_id longer than 128 bytes")
        self.store = store
        self.table = table
        self.sink_id = sink_id
        self.mode = mode
        self.keys = keys or []
        # once-per-sink-lifetime append bootstrap (the replay index)
        # — re-run on restart by the fresh instance
        self._append_bootstrapped = False
        self._ensure_ledger()

    # ---- driver-side single-statement JDBC ---------------------------

    def _connection(self):
        """Plain java.sql connection carrying the store's connection
        properties (user/password/...). Only ``driver`` is stripped —
        it is Spark's driver-class hint, not a JDBC property — and
        pre-loaded so DriverManager can route the URL."""
        jvm = self.store.spark._jvm
        props = self.store.properties
        if props.get("driver"):
            jvm.java.lang.Class.forName(props["driver"])
        jprops = jvm.java.util.Properties()
        for k, v in props.items():
            if k != "driver":
                jprops.setProperty(k, str(v))
        return jvm.java.sql.DriverManager.getConnection(self.store.url, jprops)

    @staticmethod
    def _bind(st, params) -> None:
        for i, p in enumerate(params, start=1):
            if isinstance(p, bool):  # before int: bool is an int subtype
                st.setBoolean(i, p)
            elif isinstance(p, int):
                st.setLong(i, p)
            elif isinstance(p, float):
                st.setDouble(i, p)
            else:
                st.setString(i, str(p))

    def _execute(
        self,
        sql: str,
        params: tuple = (),
        ignore_states: frozenset = frozenset(),
    ) -> None:
        conn = self._connection()
        try:
            st = conn.prepareStatement(sql)
            try:
                self._bind(st, params)
                st.execute()
            except Exception as exc:  # py4j wraps java.sql.SQLException
                jt = getattr(exc, "java_exception", None)
                state = jt.getSQLState() if jt is not None else None
                if state not in ignore_states:
                    raise
            finally:
                st.close()
        finally:
            conn.close()

    def _query_one(self, sql: str, params: tuple = ()):
        conn = self._connection()
        try:
            st = conn.prepareStatement(sql)
            self._bind(st, params)
            rs = st.executeQuery()
            try:
                return rs.getLong(1) if rs.next() else None
            finally:
                rs.close()
                st.close()
        finally:
            conn.close()

    def _ensure_ledger(self) -> None:
        self._execute(
            # quoted lowercase identifiers so Spark reads the ledger
            # back with the same names the tests (and any downstream
            # audit query) use — unquoted DDL would uppercase them
            f'CREATE TABLE {LEDGER_TABLE} ('
            '"sink_id" VARCHAR(128) NOT NULL, '
            '"batch_id" BIGINT NOT NULL, '
            '"n_rows" BIGINT NOT NULL, '
            'PRIMARY KEY ("sink_id", "batch_id"))',
            ignore_states=_EXISTS_STATES,
        )

    def _ensure_batch_index(self) -> None:
        """Index backing the append-mode replay DELETE. Created when
        THIS sink bootstraps the data table; a pre-existing table is
        the deployer's (the DELETE still works, as a scan). Indexes
        ``batch_seq`` only: Spark's JDBC writer maps StringType to
        CLOB on Derby, which cannot be indexed — the ``batch_sink``
        equality is a residual predicate over the (micro-batch-sized)
        batch_seq slice, which is all the selectivity that matters."""
        ix = f"ix_{self.table.replace('.', '_')}_batch"
        self._execute(
            f'CREATE INDEX "{ix}" ON {self.table} ("batch_seq")',
            ignore_states=_EXISTS_STATES,
        )

    def _committed(self, batch_id: int) -> bool:
        got = self._query_one(
            f'SELECT COUNT(*) FROM {LEDGER_TABLE} '
            'WHERE "sink_id" = ? AND "batch_id" = ?',
            (self.sink_id, int(batch_id)),
        )
        return bool(got)

    # ---- the foreachBatch contract ------------------------------------

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._committed(batch_id):
            return  # durably done — checkpoint-recovery replay
        if self.mode == "upsert":
            # the batch's one dedup: both writes and the ledger count
            # read these persisted rows
            incoming = batch_df.dropDuplicates(self.keys).persist()
            try:
                if self.store.exists(self.table):
                    self.store.upsert_unique(self.table, incoming, self.keys)
                else:
                    # first batch bootstraps the table (store.read's
                    # typed empty-frame fallback only knows the
                    # pipeline SCHEMAS)
                    self.store.overwrite(self.table, incoming)
                # ledger records rows durably written (post-dedup);
                # the count re-reads the cache, not the source
                n = incoming.count()
            finally:
                incoming.unpersist()
        else:
            stamped = (
                batch_df.withColumn("batch_seq", F.lit(int(batch_id)))
                .withColumn("batch_sink", F.lit(self.sink_id))
                .persist()
            )
            try:
                if self.store.exists(self.table):
                    # crash-window replay: remove any half-written rows
                    # of THIS (sink, batch) before re-appending — one
                    # indexed delete scoped to this sink's slice.
                    # Spark's JDBC writer creates columns QUOTED, so
                    # the lowercase names must be quoted here too
                    # (Derby would otherwise look up BATCH_SEQ).
                    # CAST: Spark maps StringType to CLOB on Derby,
                    # and Derby cannot compare CLOBs directly
                    self._execute(
                        f'DELETE FROM {self.table} '
                        'WHERE CAST("batch_sink" AS VARCHAR(128)) = ? '
                        'AND "batch_seq" = ?',
                        (self.sink_id, int(batch_id)),
                    )
                self.store.append(self.table, stamped)
                if not self._append_bootstrapped:
                    # UNCONDITIONAL once per sink lifetime, not only on
                    # table creation: a crash between the first batch's
                    # append (which created the table) and this call
                    # would otherwise leave the replay-DELETE index
                    # permanently missing (every later batch finds the
                    # table), degrading the per-batch DELETE to a full
                    # scan forever. _ensure_batch_index already ignores
                    # already-exists SQLStates.
                    self._ensure_batch_index()
                    self._append_bootstrapped = True
                n = stamped.count()
            finally:
                stamped.unpersist()
        self._execute(
            f'INSERT INTO {LEDGER_TABLE} ("sink_id", "batch_id", "n_rows") '
            "VALUES (?, ?, ?)",
            (self.sink_id, int(batch_id), int(n)),
        )
