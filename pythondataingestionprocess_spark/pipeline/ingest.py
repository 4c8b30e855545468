"""Set-oriented ingestion: cleaned workbook sheets → star schema.

Replicates the reference row-loop (import_files_to_postgre.py:134-238
+ database_utils.py:55-280) as declarative DataFrame transforms. Every
rule cites its source; two reference behaviors that look like bugs are
preserved deliberately and flagged:

- **lag-1 link fill, not LOCF** (import_files_to_postgre.py:148-153):
  ``previous_link`` is overwritten with the *raw* value every row, so
  a blank ``Liga`` inherits only the immediately-preceding row's link;
  two consecutive blanks leave the second one link-less (row then
  dropped by the store filter). A true forward-fill is available as
  the ``forward_fill_locf`` operator; the pipeline uses lag-1 for
  parity.
- **truthy price defaults** (import_files_to_postgre.py:216-220):
  ``price if price else …`` — a stored price of 0.0 (not just NULL)
  triggers the margin default. Mirrored with ``(col IS NULL OR col =
  0)``.

Surrogate keys are deterministic ``xxhash64`` of natural keys (not DB
sequences, database_utils.py:80,111,171,202) so re-ingestion is
idempotent and key generation needs no coordination across executors
— the right call at 1000-executor scale where a sequence would be a
bottleneck and non-reproducible.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.functions.cleaning import truncate_str
from pythondataingestionprocess_spark.functions.pricing import (
    DESCUENTO_OFERTA,
    MARGEN_GANANCIA,
)
from pythondataingestionprocess_spark.functions.urls import (
    canonicalize_provider_url,
    domain_from_url,
    store_name_from_url,
)
from pythondataingestionprocess_spark.pipeline.store import (
    ParquetTableStore,
    apply_price_scd,
)

PAYMENT_TYPE = "Tarjeta de Crédito"  # import_files_to_postgre.py:184


def _q(name: str) -> F.Column:
    """Backtick-quoted column ref — sheet headers contain dots
    (``C. Unit``) that bare strings would parse as struct paths."""
    return F.col(f"`{name}`")


def _sk(kind: str, *cols) -> F.Column:
    """Deterministic surrogate key: xxhash64 over (kind, natural key)."""
    return F.xxhash64(F.lit(kind), *cols)


@dataclass
class IngestResult:
    """Staged frames, pre-upsert (inspectable by tests / dry runs)."""

    stores: DataFrame
    providers: DataFrame
    products: DataFrame
    purchases: DataFrame
    operations: DataFrame
    prices: DataFrame
    n_input_rows: int
    n_staged_rows: int


def prepare_rows(compras: DataFrame) -> DataFrame:
    """Row-level pipeline on the cleaned Compras sheet: link fill +
    the reference's skip-filters, in its evaluation order.

    Requires ``row_idx`` (file order) and ``src_file`` columns — the
    order discipline SURVEY §2.6 O2 demands.
    """
    w_file = W.partitionBy("src_file").orderBy("row_idx")
    filled = compras.withColumn(
        # lag-1 fill (see module docstring), '' treated as blank like
        # the reference's falsy check
        "liga_filled",
        F.when(
            F.col("Liga").isNull() | (F.col("Liga") == ""),
            F.lag("Liga").over(w_file),
        ).otherwise(F.col("Liga")),
    )
    return (
        filled.withColumn("store_name", store_name_from_url("liga_filled"))
        # store miss → skip row (import_files_to_postgre.py:155-157;
        # get_or_create_store returns None for None/'none' names,
        # database_utils.py:60-65)
        .filter(F.col("store_name").isNotNull() & (F.col("store_name") != "none"))
        # CANCELED delivery → skip (import_files_to_postgre.py:162-165)
        .filter(
            F.col("Fch Entrga").isNull()
            | ~F.col("Fch Entrga").cast("string").contains("CANCELED")
        )
        # empty product name → skip (import_files_to_postgre.py:171-172)
        .filter(F.col("Descripción").isNotNull() & (F.col("Descripción") != ""))
    )


def dedup_against_history(
    staged: DataFrame, product: DataFrame, operation: DataFrame, purchase: DataFrame
) -> DataFrame:
    """The J5 existence dedup (database_utils.py:128-145): a row whose
    (product_name, quantity, unit_price, purchase_date) already has a
    matching operation ⨝ purchase is skipped. In-batch duplicates also
    collapse to the first occurrence (the reference's inserts are
    visible to later probes within the same transaction)."""
    w = W.partitionBy(
        _q("Descripción"), _q("Cant"), _q("C. Unit"), _q("purchase_date")
    ).orderBy("src_file", "row_idx")
    first_only = (
        staged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    existing = (
        operation.join(purchase.select("id_purchase", "purchase_date"), "id_purchase")
        .join(product.select("id_product", "product_name"), "id_product")
        .select(
            F.col("product_name").alias("_h_name"),
            F.col("quantity").alias("_h_qty"),
            F.col("unit_price").alias("_h_price"),
            F.col("purchase_date").alias("_h_date"),
        )
    )
    # NULL-SAFE matching on the AS-STORED values: the
    # history side holds coalesced quantity/price (0 / 0.0) and a
    # possibly-NULL purchase_date, while the staged side carries raw
    # NULLs — a plain equality anti-join never matches either form
    # (SQL NULL semantics), so a NULL-dated or blank-quantity row
    # duplicated on EVERY re-ingest. (The reference's SQL probe has
    # the same hole — database_utils.py:128-145 `= %s` with None —
    # documented divergence: we dedup these rows, it re-inserts them.)
    # The in-batch window above already treats NULLs as equal, so the
    # two layers now agree.
    cond = (
        _q("Descripción").eqNullSafe(F.col("_h_name"))
        & F.coalesce(_q("Cant"), F.lit(0)).cast("long").eqNullSafe(
            F.col("_h_qty")
        )
        & F.coalesce(_q("C. Unit"), F.lit(0.0)).eqNullSafe(F.col("_h_price"))
        & _q("purchase_date").eqNullSafe(F.col("_h_date"))
    )
    return first_only.join(existing, cond, "left_anti")


def stage_batch(
    compras: DataFrame,
    precios: DataFrame,
    store: ParquetTableStore,
    verify_urls: bool = False,
    url_transport=None,
) -> IngestResult:
    """Build all staged dim/fact frames from cleaned sheets.

    ``compras`` columns: the FIXTURES.md §1 contract (cleaned types:
    numerics double/long, ``purchase_date`` date from Excel serial,
    ``Fch Entrga`` string) plus ``src_file``, ``row_idx``,
    ``Picture_URL``. ``precios``: FIXTURES.md §2 + ``row_idx``.

    The two row counts (input, staged) are one ``count()`` each; the
    staged count reads the eager localCheckpoint, which is correctness
    (lineage must not re-scan history tables after the upserts swap
    the underlying parquet). Staging takes no ``current_date``: SCD
    stamping happens in ingest_batch.
    """
    n_input = compras.count()
    # J1 enrichment (import_files_to_postgre.py:93-97): attach
    # Marca/Categoria from the price sheet. The reference's pandas
    # merge would duplicate rows on duplicate price-list names, but
    # those duplicates are then J5-skipped in-transaction — net effect
    # is first-match, which we take directly (W2).
    # first-match order must be total ACROSS workbooks: with a
    # multi-file batch, row_idx alone ties (each file restarts at 0)
    # and the window winner becomes partition-order nondeterministic —
    # different Marca/price run-to-run on identical input.
    # Single-file precios (no src_file column) keeps the
    # plain row_idx order.
    precio_order = (
        ["src_file", "row_idx"]
        if "src_file" in precios.columns
        else ["row_idx"]
    )
    w_attr = W.partitionBy(_q("Descripción")).orderBy(*precio_order)
    precio_attrs = (
        precios.withColumn("_rn", F.row_number().over(w_attr))
        .filter(F.col("_rn") == 1)
        .select("Descripción", "Marca", "Categoria")
    )
    compras = compras.join(precio_attrs, "Descripción", "left")
    rows = prepare_rows(compras)

    existing_product = store.read("product")
    existing_operation = store.read("operation")
    existing_purchase = store.read("purchase")

    rows = dedup_against_history(
        rows, existing_product, existing_operation, existing_purchase
    )
    # one purchase per surviving row → deterministic per-row key.
    # localCheckpoint (eager) truncates lineage: staged frames must not
    # lazily re-scan the history tables after the upserts below swap
    # the underlying parquet files. (With a Delta/Iceberg sink the ACID
    # snapshot makes this unnecessary.)
    rows = rows.withColumn(
        "id_purchase",
        # CONTENT participates in the key: a same-named
        # file re-dropped with corrected contents passes the history
        # dedup (content differs) but (src_file, row_idx) alone would
        # reuse the OLD row's id_purchase — two conflicting fact rows
        # under one key, cross-matching purchase⨝operation. Identical
        # re-drops never reach this point (dedup_against_history), so
        # idempotence is unchanged.
        _sk(
            "purchase", "src_file", "row_idx", _q("Descripción"),
            _q("Cant"), _q("C. Unit"), _q("purchase_date"),
        ),
    ).localCheckpoint(eager=True)
    n_staged = rows.count()

    # ---- dims -------------------------------------------------------
    # store: first occurrence wins (catalog-cache semantics,
    # database_utils.py:66-67); url = get_domain_store
    w_store = W.partitionBy("store_name").orderBy("src_file", "row_idx")
    stores = (
        rows.withColumn("_rn", F.row_number().over(w_store))
        .filter(F.col("_rn") == 1)
        .select(
            _sk("store", "store_name").alias("id_store"),
            "store_name",
            domain_from_url("liga_filled").alias("store_url"),
            F.lit(True).alias("status"),  # database_utils.py:73
        )
    )

    # provider: keyed (id_store, provider_url), canonicalized link
    # (database_utils.py:90-100). is_active is verify_url() in the
    # reference — a network HEAD; deterministically stubbed True by
    # default (SURVEY §7 risk 5: nondeterministic UDF, excluded from
    # parity/oracles). ``verify_urls=True`` opts into the reference's
    # live behavior via functions/url_verify: the probe runs ONLY on
    # the distinct url miss-set after an anti-join against the urls
    # the store has already verified — never at row grain.
    providers = (
        rows.select(
            _sk("store", "store_name").alias("id_store"),
            canonicalize_provider_url("liga_filled").alias("provider_url"),
        )
        .dropDuplicates(["id_store", "provider_url"])
        .select(
            _sk("provider", "id_store", "provider_url").alias("id_provider"),
            "id_store",
            "provider_url",
        )
    )
    if verify_urls:
        from pythondataingestionprocess_spark.functions.url_verify import (
            verify_url_statuses,
        )

        statuses = verify_url_statuses(
            providers,
            store.read("provider"),
            url_col="provider_url",
            transport=url_transport,
        )
        providers = providers.join(statuses, "provider_url").select(
            "id_provider", "id_store", "provider_url", "is_active"
        )
    else:
        providers = providers.withColumn("is_active", F.lit(True))

    # product: keyed by name; brand+category only when BOTH present
    # (database_utils.py:155-168); image from the positionally-attached
    # hyperlink; description '' (import_files_to_postgre.py:177)
    w_prod = W.partitionBy("Descripción").orderBy("src_file", "row_idx")
    both = F.col("Marca").isNotNull() & (F.col("Marca") != "") & F.col(
        "Categoria"
    ).isNotNull() & (F.col("Categoria") != "")
    products = (
        rows.withColumn("_rn", F.row_number().over(w_prod))
        .filter(F.col("_rn") == 1)
        .select(
            _sk("product", "Descripción").alias("id_product"),
            F.col("Descripción").alias("product_name"),
            F.lit("").alias("description"),
            F.col("Picture_URL").alias("image_url"),
            F.when(both, F.col("Marca")).alias("brand"),
            F.when(both, F.col("Categoria")).alias("category"),
        )
    )

    # ---- facts ------------------------------------------------------
    # purchase field mapping: import_files_to_postgre.py:186-197
    purchases = rows.select(
        "id_purchase",
        _sk(
            "provider",
            _sk("store", "store_name"),
            canonicalize_provider_url("liga_filled"),
        ).alias("id_provider"),
        F.lit(1).cast("long").alias("id_payment_type"),
        F.col("Total Cmpr").alias("total"),
        F.lit(0.0).alias("tax"),
        F.lit(0.0).alias("ieps"),
        F.col("purchase_date"),
        F.col("Fch Entrga").alias("delivery_date"),
        F.col("Dólar").alias("exchange_rate"),
        F.coalesce(F.col("Envio"), F.lit(0.0)).alias("shipping_cost"),
        F.coalesce(F.col("Desct"), F.lit(0.0)).alias("discount"),
    )

    # operation field mapping: import_files_to_postgre.py:202-210 —
    # note product_url is the RAW Liga (not the filled one), and
    # numeric defaults mirror insert_operations
    # (database_utils.py:216-223)
    operations = rows.select(
        "id_purchase",
        _sk("product", "Descripción").alias("id_product"),
        F.coalesce(F.col("Cant"), F.lit(0)).cast("long").alias("quantity"),
        F.coalesce(_q("C. Unit"), F.lit(0.0)).alias("unit_price"),
        _q("C. Unit US").alias("unit_price_usd"),
        F.coalesce(F.col("% Desc"), F.lit(0.0)).alias("discount_percentage"),
        F.coalesce(F.col("Pzs"), F.lit(1)).cast("long").alias("pieces_per_unit"),
        F.col("Costo Final").alias("final_cost"),
        truncate_str(F.coalesce(F.col("Liga"), F.lit(""))).alias("product_url"),
    )

    # ---- price (W2 first-match + truthy defaults) -------------------
    w_price = W.partitionBy("Descripción").orderBy(*precio_order)
    first_price = (
        precios.withColumn("_rn", F.row_number().over(w_price))
        .filter(F.col("_rn") == 1)
        .select(_q("Descripción"), _q("P. Venta"), _q("P. Oferta"))
    )
    truthy = lambda c: _q(c).isNotNull() & (_q(c) != 0)  # noqa: E731
    priced_rows = rows.join(first_price, "Descripción")  # semi-ish: J4
    price_val = F.when(truthy("P. Venta"), _q("P. Venta")).otherwise(
        F.col("Costo Final") * MARGEN_GANANCIA
    )
    prices = (
        priced_rows.withColumn("price", price_val)
        .withColumn(
            "offer_price",
            F.when(truthy("P. Oferta"), _q("P. Oferta")).otherwise(
                F.col("price") * DESCUENTO_OFERTA
            ),
        )
        # last write wins per product in the reference's loop → keep
        # the LAST row in file order
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("Descripción").orderBy(
                    F.col("src_file").desc(), F.col("row_idx").desc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            _sk("product", "Descripción").alias("id_product"), "price", "offer_price"
        )
    )

    return IngestResult(
        stores=stores,
        providers=providers,
        products=products,
        purchases=purchases,
        operations=operations,
        prices=prices,
        n_input_rows=n_input,
        n_staged_rows=n_staged,
    )


def ingest_batch(
    compras: DataFrame,
    precios: DataFrame,
    store: ParquetTableStore,
    current_date: date | None = None,
    verify_urls: bool = False,
    url_transport=None,
) -> IngestResult:
    """Stage + commit one batch into the table store.

    Dims use insert-if-absent (catalog-cache semantics); facts append
    (post-dedup); price applies the SCD stamping. Each upsert is one
    MERGE-shaped write — per-batch, not per-row. On a plain store that
    is seven commits; run it on a ``TableGroup`` transaction (built with
    ``schemas=SCHEMAS``) and all seven tables land as ONE commit, the
    all-or-nothing batch the reference gets from one DB session.
    ``verify_urls``/``url_transport`` opt into the reference's live
    provider-link verification (see stage_batch).
    """
    current_date = current_date or date.today()
    result = stage_batch(
        compras, precios, store,
        verify_urls=verify_urls, url_transport=url_transport,
    )
    store.insert_if_absent("payment_type", rows_payment(result), ["payment_type"])
    store.insert_if_absent("store", result.stores, ["store_name"])
    store.insert_if_absent("provider", result.providers, ["id_store", "provider_url"])
    store.insert_if_absent("product", result.products, ["product_name"])
    store.append("purchase", result.purchases)
    store.append("operation", result.operations)
    merged_price = apply_price_scd(store.read("price"), result.prices, current_date)
    store.overwrite("price", merged_price)
    return result


def rows_payment(result: IngestResult) -> DataFrame:
    return result.purchases.sparkSession.createDataFrame(
        [(1, PAYMENT_TYPE)], "id_payment_type long, payment_type string"
    )
