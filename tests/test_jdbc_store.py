"""Live JDBC sink tests: the S9 path exercised for
real against embedded Derby (ships with Spark), proving the MERGE-shaped
semantics survive the swap from the parquet stand-in to df.write.jdbc.

Skipped automatically if the Derby driver is absent from the classpath.
"""

from __future__ import annotations

from datetime import date

import pytest

from pythondataingestionprocess_spark.pipeline.jdbc_store import (
    JdbcTableStore,
    derby_url,
)
from pythondataingestionprocess_spark.pipeline.store import apply_price_scd

D = date(2024, 6, 1)


@pytest.fixture
def jdbc_store(spark, tmp_path):
    url = derby_url(str(tmp_path / "derbydb"))
    store = JdbcTableStore(spark, url)
    try:
        probe = spark.createDataFrame([(1,)], "x long")
        probe.write.jdbc(url, "probe_tbl", mode="overwrite", properties=store.properties)
    except Exception as e:  # pragma: no cover - driver missing in some envs
        pytest.skip(f"Derby JDBC driver unavailable: {e}")
    return store


def test_jdbc_roundtrip_types(spark, jdbc_store):
    df = spark.createDataFrame(
        [(1, "Store A", "amazon.com.mx", True)],
        schema="id_store long, store_name string, store_url string, status boolean",
    )
    jdbc_store.overwrite("store", df)
    back = jdbc_store.read("store")
    assert [tuple(r) for r in back.collect()] == [(1, "Store A", "amazon.com.mx", True)]


def test_jdbc_insert_if_absent_catalog_cache(spark, jdbc_store):
    first = spark.createDataFrame(
        [(1, "Store A", "amazon.com.mx", True)],
        schema="id_store long, store_name string, store_url string, status boolean",
    )
    jdbc_store.insert_if_absent("store", first, ["store_name"])
    # second batch: same key with different attrs (must NOT update) + a new key
    second = spark.createDataFrame(
        [
            (9, "Store A", "CHANGED.example", False),
            (2, "Store B", "mercadolibre.com.mx", True),
        ],
        schema="id_store long, store_name string, store_url string, status boolean",
    )
    jdbc_store.insert_if_absent("store", second, ["store_name"])
    rows = {r.store_name: r for r in jdbc_store.read("store").collect()}
    assert rows["Store A"].id_store == 1  # cached row untouched
    assert rows["Store A"].store_url == "amazon.com.mx"
    assert rows["Store B"].id_store == 2


def test_jdbc_upsert_incoming_wins(spark, jdbc_store):
    jdbc_store.overwrite(
        "payment_type",
        spark.createDataFrame([(1, "card")], "id_payment_type long, payment_type string"),
    )
    jdbc_store.upsert(
        "payment_type",
        spark.createDataFrame(
            [(1, "credit card"), (2, "cash")],
            "id_payment_type long, payment_type string",
        ),
        ["id_payment_type"],
    )
    rows = {r.id_payment_type: r.payment_type for r in jdbc_store.read("payment_type").collect()}
    assert rows == {1: "credit card", 2: "cash"}


def test_jdbc_price_scd_matches_parquet_semantics(spark, jdbc_store):
    """The SCD stamping (database_utils.py:260-280 semantics) must be
    IO-layer-independent: run it through the JDBC store and check the
    restamp-only-on-change rule."""
    initial = spark.createDataFrame(
        [(10, 100.0, 90.0, date(2024, 1, 1), None)],
        "id_product long, price double, offer_price double, start_date date, end_date date",
    )
    jdbc_store.overwrite("price", initial)
    incoming = spark.createDataFrame(
        [(10, 120.0, 90.0), (11, 50.0, None)],
        "id_product long, price double, offer_price double",
    )
    merged = apply_price_scd(jdbc_store.read("price"), incoming, D)
    jdbc_store.overwrite("price", merged)
    rows = {r.id_product: r for r in jdbc_store.read("price").collect()}
    assert rows[10].price == 120.0 and rows[10].start_date == D  # changed → restamped
    assert rows[11].price == 50.0 and rows[11].end_date is None  # fresh insert
    # idempotent re-apply: same price → no restamp
    merged2 = apply_price_scd(
        jdbc_store.read("price"),
        spark.createDataFrame([(10, 120.0, 90.0)], "id_product long, price double, offer_price double"),
        date(2024, 7, 1),
    )
    jdbc_store.overwrite("price", merged2)
    assert {r.id_product: r.start_date for r in jdbc_store.read("price").collect()}[10] == D


def test_streaming_foreachbatch_upserts_into_jdbc(spark, jdbc_store, tmp_path):
    """End-to-end: checkpointed file stream → foreachBatch →
    JdbcTableStore.insert_if_absent against live Derby — the streaming
    face of the reference's per-file transaction loop, with the real
    DB sink instead of the parquet stand-in. Two micro-batches; the
    second re-sends a key that must NOT be updated (catalog-cache
    semantics) plus a fresh one."""
    import json
    import os

    from pythondataingestionprocess_spark.streaming import file_ingest

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox, exist_ok=True)
    rows1 = [{"id_store": 1, "store_name": "Store A", "store_url": "a.example", "status": True}]
    rows2 = [
        {"id_store": 9, "store_name": "Store A", "store_url": "CHANGED", "status": False},
        {"id_store": 2, "store_name": "Store B", "store_url": "b.example", "status": True},
    ]
    with open(os.path.join(inbox, "b1.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows1))
    with open(os.path.join(inbox, "b2.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows2))

    schema = "id_store long, store_name string, store_url string, status boolean"
    stream = file_ingest.file_stream(spark, inbox, schema, fmt="json", max_files_per_trigger=1)

    def process(batch_df, batch_id):
        jdbc_store.insert_if_absent("store", batch_df, ["store_name"])

    q = file_ingest.run_ingestion(
        stream, process, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    rows = {r.store_name: r for r in jdbc_store.read("store").collect()}
    assert rows["Store A"].id_store == 1 and rows["Store A"].store_url == "a.example"
    assert rows["Store B"].id_store == 2


def test_exists_reraises_non_missing_probe_failures(spark):
    """A probe failure that is NOT 'table missing' (wrong driver,
    network, auth) must raise — returning False would route existing
    tables into destructive first-load/overwrite paths."""
    from pythondataingestionprocess_spark.pipeline.jdbc_store import (
        JdbcTableStore,
    )

    bogus = JdbcTableStore(
        spark,
        "jdbc:nosuchscheme://db.example.com/x",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    with pytest.raises(Exception) as ei:
        bogus.exists("any_table")
    assert "does not exist" not in str(ei.value)


def test_exists_false_only_for_missing_table(spark, jdbc_store):
    assert jdbc_store.exists("never_written_table") is False
    df = spark.createDataFrame([(1,)], "x long")
    jdbc_store.overwrite("now_written", df)
    assert jdbc_store.exists("now_written") is True


def test_relation_missing_matches_sqlstate_not_message(spark):
    """Classification must come from the SQLException
    cause chain's SQLState / vendor code, never message text. A
    Derby 'connection does not exist' (08003) whose message contains
    the old substring must NOT classify as relation-missing; 42X05 /
    42P01 / S0002 / vendor 208 must — including when wrapped in a
    non-SQL exception."""
    from pythondataingestionprocess_spark.pipeline.jdbc_store import (
        JdbcTableStore,
    )

    jvm = spark._jvm

    class Captured(Exception):
        def __init__(self, jt):
            super().__init__("probe failed")
            self.java_exception = jt

    dead_conn = jvm.java.sql.SQLException("connection does not exist", "08003")
    assert not JdbcTableStore._is_relation_missing(Captured(dead_conn))

    assert JdbcTableStore._is_relation_missing(
        Captured(jvm.java.sql.SQLException("x", "42X05"))
    )
    wrapped = jvm.java.lang.RuntimeException(
        "wrap", jvm.java.sql.SQLException("relation missing", "42P01")
    )
    assert JdbcTableStore._is_relation_missing(Captured(wrapped))
    assert JdbcTableStore._is_relation_missing(
        Captured(jvm.java.sql.SQLException("Invalid object name", "S0002", 208))
    )
    # no java exception attached at all → not provably missing
    assert not JdbcTableStore._is_relation_missing(ValueError("boom"))


def test_jdbc_exists_on_table_created_elsewhere(spark, tmp_path):
    """exists() must return True for a table that
    exists but was created OUTSIDE this store instance (fresh process
    after a crash, a second consumer, raw-DDL tables). The unaliased
    probe `SELECT 1 FROM t` surfaced a column literally named "1" and
    the collect's SELECT "1" then made exists() RAISE on live Derby."""
    from pythondataingestionprocess_spark.pipeline.jdbc_store import (
        JdbcTableStore,
        derby_url,
    )

    url = derby_url(str(tmp_path / "derbydb_e"))
    writer = JdbcTableStore(spark, url)
    writer.append("made_elsewhere", spark.createDataFrame([(1,)], "id long"))
    fresh = JdbcTableStore(spark, url)  # empty _known cache
    assert fresh.exists("made_elsewhere") is True
    assert fresh.exists("never_made") is False
