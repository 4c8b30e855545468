"""Parquet-backed table store with MERGE-style upserts.

Local stand-in for the reference's Postgres star schema
(database_utils.py §1.3). On a production cluster this is a Delta /
Iceberg table per entity and every ``upsert``/``apply_scd`` below is a
single ``MERGE INTO`` — the read-union-overwrite here has identical
semantics and exists because this container has no Delta jars. All
merge logic is expressed as joins (set-oriented, shuffle-on-key); no
driver-side row loops.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Star schema (SURVEY.md §1.3, reconstructed from the reference's
# embedded SQL — database_utils.py:36,72-77,92-94,121,194-199,232-237,
# 266-280).
SCHEMAS: dict[str, str] = {
    "payment_type": "id_payment_type long, payment_type string",
    "store": "id_store long, store_name string, store_url string, status boolean",
    "provider": "id_provider long, id_store long, provider_url string, is_active boolean",
    "product": (
        "id_product long, product_name string, description string, "
        "image_url string, brand string, category string"
    ),
    "purchase": (
        "id_purchase long, id_provider long, id_payment_type long, total double, "
        "tax double, ieps double, purchase_date date, delivery_date string, "
        "exchange_rate double, shipping_cost double, discount double"
    ),
    "operation": (
        "id_purchase long, id_product long, quantity long, unit_price double, "
        "unit_price_usd double, discount_percentage double, pieces_per_unit long, "
        "final_cost double, product_url string"
    ),
    "price": (
        "id_product long, price double, offer_price double, "
        "start_date date, end_date date"
    ),
}


class TableMerge:
    """The MERGE shapes, defined once for every table store in terms
    of its ``read(name)`` and ``overwrite(name, df)``: the parquet
    store, the JDBC store, and a staged group transaction. Every
    store's ``overwrite`` accepts a frame derived from the table it
    replaces: parquet stages to a sibling dir and swaps, JDBC
    checkpoints first, a group transaction only stages (its commit
    writes new files)."""

    def upsert(
        self,
        name: str,
        incoming: DataFrame,
        keys: list[str],
        order_col: str | None = None,
    ) -> None:
        """MERGE: incoming wins on key match, unmatched existing rows
        are kept (``ON CONFLICT DO UPDATE`` across whole rows).

        ``incoming`` is deduped on ``keys`` first so a batch carrying
        the same key twice cannot violate the key uniqueness the
        reference's per-row ON CONFLICT loop guarantees. The
        reference's loop makes it last-write-wins IN SOURCE ORDER; a
        DataFrame batch has no defined row order, so by default one
        arbitrary row per key survives. Pass ``order_col`` (e.g. an
        ingest sequence or event timestamp) to make the winner
        deterministic: the row with the LARGEST ``order_col`` per key
        wins, which is the reference's last-write-wins whenever the
        caller stamps arrival order into a column.
        """
        self.upsert_unique(
            name, self._one_per_key(incoming, keys, order_col), keys
        )

    def upsert_unique(
        self, name: str, incoming: DataFrame, keys: list[str]
    ) -> None:
        """:meth:`upsert` of rows already one per key — for a caller
        that dedups once and uses the deduped rows for more than the
        merge (the streaming JDBC sink persists and counts them)."""
        existing = self.read(name)
        merged = existing.join(
            incoming.select(*keys), keys, "left_anti"
        ).unionByName(incoming)
        self.overwrite(name, merged)

    @staticmethod
    def _one_per_key(
        incoming: DataFrame, keys: list[str], order_col: str | None
    ) -> DataFrame:
        """One row per key: arbitrary via dropDuplicates, or
        deterministic max-``order_col`` via a ranking window (key ties
        on ``order_col`` broken by the remaining columns' values is NOT
        attempted — stamp a unique sequence for full determinism)."""
        if order_col is None:
            return incoming.dropDuplicates(keys)
        from pyspark.sql.window import Window

        # Collision-proof working column: a hardcoded "_rn" would
        # silently overwrite (and then drop) a caller column of the
        # same name through upsert/insert_if_absent.
        rn = "_rn"
        while rn in incoming.columns:
            rn += "_"
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        return (
            incoming.withColumn(rn, F.row_number().over(w))
            .filter(F.col(rn) == 1)
            .drop(rn)
        )

    def insert_if_absent(
        self,
        name: str,
        incoming: DataFrame,
        keys: list[str],
        order_col: str | None = None,
    ) -> None:
        """MERGE WHEN NOT MATCHED THEN INSERT: existing rows never
        change (the reference's catalog-cache behavior — a cached
        store is returned untouched, database_utils.py:66-67).
        ``incoming`` is deduped on ``keys`` (see :meth:`upsert`)."""
        existing = self.read(name)
        incoming = self._one_per_key(incoming, keys, order_col)
        fresh = incoming.join(existing.select(*keys).distinct(), keys, "left_anti")
        merged = existing.unionByName(fresh)
        self.overwrite(name, merged)


class ParquetTableStore(TableMerge):
    """One parquet directory per table; the MERGE shapes come from
    :class:`TableMerge`."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def read(self, name: str) -> DataFrame:
        """Read a table; empty (typed) DataFrame if never written."""
        path = self._path(name)
        if os.path.exists(path):
            return self.spark.read.parquet(path)
        return self.spark.createDataFrame([], SCHEMAS[name])

    def overwrite(self, name: str, df: DataFrame) -> None:
        """Replace a table. Parquet can't overwrite a path it is being
        read from (lazy scans), so stage to a sibling dir and swap —
        Delta's MERGE/ACID makes this dance disappear at scale."""
        path, tmp = self._path(name), self._path(f".{name}.staging")
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.replace(tmp, path)

    def append(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        """Append; ``partition_by`` lays fact tables out by the prune
        key (e.g. purchase_date) so date-ranged reads skip whole
        directories — the at-rest half of predicate pushdown. Pass the
        same columns on every append."""
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._path(name))


def apply_price_scd(
    existing: DataFrame, incoming: DataFrame, current_date
) -> DataFrame:
    """The reference's two-step manual price upsert
    (database_utils.py:260-280), set-oriented:

    - product has price rows → every row updated to the new
      price/offer; ``start_date``/``end_date`` stamped to
      ``current_date`` only when the stored price differs (NULL-safe
      '!=' is false for NULL=NULL per SQL semantics — preserved);
    - product absent → insert (price, offer, start_date=current_date,
      end_date NULL).

    ``incoming``: one row per id_product (price, offer_price).
    """
    cur = F.lit(current_date).cast("date")
    inc = incoming.select(
        "id_product",
        F.col("price").alias("_new_price"),
        F.col("offer_price").alias("_new_offer"),
        F.lit(True).alias("_m"),
    )
    flagged = existing.join(inc, "id_product", "left")
    # NULL-safe like the reference SQL: `price != new` is NULL (→ no
    # restamp) when either side is NULL
    changed = F.col("_m") & (F.col("price") != F.col("_new_price"))
    updated = flagged.select(
        "id_product",
        F.when(F.col("_m"), F.col("_new_price")).otherwise(F.col("price")).alias("price"),
        F.when(F.col("_m"), F.col("_new_offer")).otherwise(F.col("offer_price")).alias("offer_price"),
        F.when(changed, cur).otherwise(F.col("start_date")).alias("start_date"),
        F.when(changed, cur).otherwise(F.col("end_date")).alias("end_date"),
    )
    inserts = inc.join(existing.select("id_product").distinct(), "id_product", "left_anti").select(
        "id_product",
        F.col("_new_price").alias("price"),
        F.col("_new_offer").alias("offer_price"),
        cur.alias("start_date"),
        F.lit(None).cast("date").alias("end_date"),
    )
    return updated.unionByName(inserts)
