"""Phase-3 pipeline tests: EP1 semantics (filters, lag-1 fill, dedup,
dims, defaults, SCD) against synthetic FIXTURES.md workbooks."""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.pipeline import (
    ParquetTableStore,
    ingest_batch,
)
from pythondataingestionprocess_spark.pipeline.ingest import prepare_rows, stage_batch
from pythondataingestionprocess_spark.pipeline.store import apply_price_scd

from tests.fixtures import (
    AMZ,
    ML,
    TEMU,
    compras_row,
    make_compras,
    make_precios,
    precios_row,
)

D = date(2024, 6, 1)


@pytest.fixture()
def store(spark, tmp_path):
    return ParquetTableStore(spark, str(tmp_path / "warehouse"))


def test_prepare_rows_lag1_fill_and_filters(spark):
    rows = [
        compras_row(desc="A", liga=AMZ, row_idx=0),
        compras_row(desc="B", liga=None, row_idx=1),  # inherits AMZ (lag-1)
        compras_row(desc="C", liga=None, row_idx=2),  # two blanks → dropped
        compras_row(desc="D", liga=TEMU, fch_entrga="CANCELED", row_idx=3),  # dropped
        compras_row(desc="", liga=TEMU, row_idx=4),  # empty name → dropped
        compras_row(desc="E", liga="not a url", row_idx=5),  # no store → dropped
    ]
    out = prepare_rows(make_compras(spark, rows))
    got = {r["Descripción"]: r["liga_filled"] for r in out.collect()}
    assert set(got) == {"A", "B"}
    assert got["B"] == AMZ


def test_dims_and_facts(spark, store):
    compras = make_compras(
        spark,
        [
            compras_row(desc="A", liga=AMZ, row_idx=0),
            compras_row(desc="B", liga=ML, row_idx=1),
            compras_row(desc="C", liga=TEMU, row_idx=2, envio=None, desct=None),
        ],
    )
    precios = make_precios(
        spark,
        [
            precios_row(desc="A", p_venta=180.0, p_oferta=150.0),
            # truthy defaults: P.Venta=0 → margin default off Costo Final
            precios_row(no=2, desc="C", p_venta=0.0, p_oferta=None, row_idx=1),
            # B absent from Precios → no price row (J4 membership)
        ],
    )
    res = ingest_batch(compras, precios, store, current_date=D)
    assert res.n_staged_rows == 3

    stores = {r["store_name"]: r for r in store.read("store").collect()}
    assert set(stores) == {"amazon", "mercadolibre", "temu"}
    assert stores["amazon"]["status"] is True

    prods = {r["product_name"]: r for r in store.read("product").collect()}
    assert prods["A"]["brand"] == "LEGO"
    assert prods["B"]["brand"] is None  # not in Precios → no Marca join... via compras it has none
    assert prods["A"]["image_url"] == "https://img/A.jpg"

    ops = store.read("operation")
    assert ops.count() == 3
    c_op = ops.filter(F.col("quantity").isNotNull()).filter(
        F.col("product_url").contains("temu")
    ).first()
    assert c_op["pieces_per_unit"] == 1

    purch = store.read("purchase")
    assert purch.count() == 3
    c_row = purch.join(
        ops.filter(F.col("product_url").contains("temu")).select("id_purchase"),
        "id_purchase",
    ).first()
    assert c_row["shipping_cost"] == 0.0 and c_row["discount"] == 0.0

    prices = {r["id_product"]: r for r in store.read("price").collect()}
    prod_a = prods["A"]["id_product"]
    prod_c = prods["C"]["id_product"]
    assert prices[prod_a]["price"] == 180.0 and prices[prod_a]["offer_price"] == 150.0
    # C: venta 0 → 110 × 1.30; oferta NULL → price × 0.85
    assert prices[prod_c]["price"] == pytest.approx(110.0 * 1.30)
    assert prices[prod_c]["offer_price"] == pytest.approx(110.0 * 1.30 * 0.85)
    assert prices[prod_a]["start_date"] == D and prices[prod_a]["end_date"] is None
    assert len(prices) == 2  # B has no price row


@pytest.mark.slow
def test_reingest_is_idempotent(spark, store):
    compras = make_compras(spark, [compras_row(desc="A", liga=AMZ)])
    precios = make_precios(spark, [precios_row(desc="A")])
    ingest_batch(compras, precios, store, current_date=D)
    first = {t: store.read(t).count() for t in ["store", "provider", "product", "purchase", "operation", "price"]}
    res2 = ingest_batch(compras, precios, store, current_date=date(2024, 6, 2))
    # J5: identical (product, qty, price, date) → row skipped entirely
    assert res2.n_staged_rows == 0
    second = {t: store.read(t).count() for t in first}
    assert first == second
    # unchanged price → SCD dates NOT restamped
    p = store.read("price").first()
    assert p["start_date"] == D


def test_in_batch_duplicate_collapses(spark, store):
    compras = make_compras(
        spark,
        [
            compras_row(desc="A", liga=AMZ, row_idx=0),
            compras_row(desc="A", liga=AMZ, row_idx=1),  # same qty/price/date
        ],
    )
    res = ingest_batch(compras, make_precios(spark, []), store, current_date=D)
    assert res.n_staged_rows == 1


@pytest.mark.slow
def test_price_scd_restamps_on_change(spark, store):
    compras = make_compras(spark, [compras_row(desc="A", liga=AMZ)])
    ingest_batch(
        compras,
        make_precios(spark, [precios_row(desc="A", p_venta=180.0)]),
        store,
        current_date=D,
    )
    # new batch, different qty (so not J5-deduped), new price
    compras2 = make_compras(spark, [compras_row(desc="A", liga=AMZ, cant=5)])
    later = date(2024, 7, 1)
    ingest_batch(
        compras2,
        make_precios(spark, [precios_row(desc="A", p_venta=199.0)]),
        store,
        current_date=later,
    )
    p = store.read("price").collect()
    assert len(p) == 1
    assert p[0]["price"] == 199.0
    assert p[0]["start_date"] == later and p[0]["end_date"] == later  # restamped


def test_price_scd_null_safe_no_restamp(spark):
    existing = spark.createDataFrame(
        [(1, None, 10.0, D, None)],
        "id_product long, price double, offer_price double, start_date date, end_date date",
    )
    incoming = spark.createDataFrame(
        [(1, 12.0, 10.0)], "id_product long, price double, offer_price double"
    )
    out = apply_price_scd(existing, incoming, date(2024, 7, 1)).first()
    # stored price NULL → `price != new` is NULL → dates untouched
    assert out["price"] == 12.0 and out["start_date"] == D and out["end_date"] is None


def test_provider_canonicalization(spark, store):
    compras = make_compras(
        spark,
        [
            compras_row(desc="A", liga=AMZ, row_idx=0),
            # same product page, same path, different query → SAME
            # provider (query stripped). The reference's amazon /dp/
            # trim branch is dead code — "amazon" is in
            # keep_path_domains which fires first (utils_tools.py:
            # 152-164 vs :169-175) — so /ref… path segments are kept;
            # we replicate the actual behavior, not the intent.
            compras_row(
                desc="B",
                liga="https://www.amazon.com.mx/dp/B0TOY1/ref=sr_1?tag=x",
                row_idx=1,
            ),
            compras_row(desc="C", liga=AMZ + "&extra=2", row_idx=2),
        ],
    )
    ingest_batch(compras, make_precios(spark, []), store, current_date=D)
    provs = store.read("provider").collect()
    assert len(provs) == 1
    assert provs[0]["provider_url"] == "https://www.amazon.com.mx/dp/B0TOY1/ref=sr_1"


def test_end_to_end_raw_sheets_to_star_schema(spark, store):
    """EP1 end-to-end: RAW string-typed sheet reads (as the workbook
    source emits them) → validate → deep-clean → positional attach →
    ingest. Covers the full reference path procesar_archivo →
    data_ingestion with dirty values (comma decimals, 'None' markers,
    Excel serial dates) in play."""
    from pythondataingestionprocess_spark.sources import workbook as wb

    raw_compras = spark.createDataFrame(
        [
            ("Toy A", "2", "93,35", "186,70", "45369", "None", AMZ, "f1.xlsx", 0),
            ("Toy B", "nan", "50.0", "50.0", "45370", None, None, "f1.xlsx", 1),
            ("Toy C", "1", "10", "10", "45371", "CANCELED 45380", TEMU, "f1.xlsx", 2),
        ],
        "`Descripción` string, `Cant` string, `C. Unit` string, "
        "`Total Cmpr` string, `Fch Cmpr` string, `Fch Entrga` string, "
        "`Liga` string, src_file string, row_idx long",
    )
    raw_precios = spark.createDataFrame(
        [("1", "Toy A", "LEGO", "Peluche", "250,0", "93,35", "180.0", "none", 0)],
        "`No` string, `Descripción` string, `Marca` string, `Categoria` string, "
        "`P. Tienda` string, `C. Unit` string, `P. Venta` string, "
        "`P. Oferta` string, row_idx long",
    )
    compras, ok_c = wb.validate_columns(raw_compras, wb.REQUIRED_COMPRAS)
    precios, ok_p = wb.validate_columns(raw_precios, wb.REQUIRED_PRECIOS)
    assert ok_c and ok_p
    cleaned_c = wb.clean_compras(compras)
    # fill remaining pipeline-contract columns the raw sheet lacks
    for col, typ in [
        ("Precio", "double"), ("% Desc", "double"), ("C. Unit US", "double"),
        ("Envio", "double"), ("Dólar", "double"), ("Desct", "double"),
        ("Pzs", "long"), ("Costo Final", "double"),
    ]:
        cleaned_c = cleaned_c.withColumn(col, F.lit(None).cast(typ))
    cleaned_c = wb.attach_positional(cleaned_c, ["https://img/a.jpg"])
    cleaned_p = wb.clean_precios(precios)

    res = ingest_batch(cleaned_c, cleaned_p, store, current_date=D)
    # Toy A survives; Toy B inherits A's link (lag-1); Toy C CANCELED → dropped
    assert res.n_staged_rows == 2
    ops = {r["product_url"]: r for r in store.read("operation").collect()}
    a = [r for r in ops.values() if r["unit_price"] == 93.35]
    assert len(a) == 1  # comma-decimal survived the whole path
    from datetime import date as _d

    purch = store.read("purchase").collect()
    assert {r["purchase_date"] for r in purch} == {_d(2024, 3, 18), _d(2024, 3, 19)}
    prices = store.read("price").collect()
    assert len(prices) == 1 and prices[0]["price"] == 180.0
    # P. Oferta 'none' marker → NULL → default price×0.85
    assert prices[0]["offer_price"] == pytest.approx(180.0 * 0.85)


def test_partitioned_append_prunes_on_read(spark, tmp_path):
    """Facts partitioned by the date key: a date-filtered scan reads
    only matching partition dirs (PartitionFilters in the scan, not a
    post-scan filter) — the at-rest layout contract for 100 TB."""
    from pythondataingestionprocess_spark.pipeline.store import ParquetTableStore

    store = ParquetTableStore(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, date(2024, 3, 1)), (2, date(2024, 3, 2)), (3, date(2024, 3, 3))],
        "id_purchase long, purchase_date date",
    )
    store.append("purchase", df, partition_by=["purchase_date"])
    got = store.read("purchase").filter(F.col("purchase_date") == date(2024, 3, 2))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(purchase_date" in plan
    assert got.count() == 1
    import os

    parts = [d for d in os.listdir(tmp_path / "wh" / "purchase") if d.startswith("purchase_date=")]
    assert len(parts) == 3


def test_store_upsert_replaces_matched_rows(spark, store):
    """ON CONFLICT DO UPDATE semantics: incoming wins on key match,
    unmatched existing rows survive."""
    a = spark.createDataFrame(
        [(1, "alpha", "http://a", True), (2, "beta", "http://b", True)],
        "id_store long, store_name string, store_url string, status boolean",
    )
    store.overwrite("store", a)
    incoming = spark.createDataFrame(
        [(9, "beta", "http://b2", False), (3, "gamma", "http://c", True)],
        "id_store long, store_name string, store_url string, status boolean",
    )
    store.upsert("store", incoming, keys=["store_name"])
    got = {r["store_name"]: r for r in store.read("store").collect()}
    assert set(got) == {"alpha", "beta", "gamma"}
    assert got["beta"]["store_url"] == "http://b2" and got["beta"]["status"] is False
    assert got["alpha"]["store_url"] == "http://a"


def test_store_upsert_order_col_deterministic_winner(spark, store):
    """A batch carrying the same key twice: with ``order_col`` the
    max-order row wins deterministically (the reference's per-row
    ON CONFLICT loop is last-write-wins in source order; stamping
    arrival order into a column recovers that semantics
    set-orientedly — ADVICE r3)."""
    incoming = spark.createDataFrame(
        [
            (1, "beta", "http://old", True),
            (2, "beta", "http://new", False),
            (3, "gamma", "http://c", True),
        ],
        "id_store long, store_name string, store_url string, status boolean",
    )
    store.upsert("store", incoming, keys=["store_name"], order_col="id_store")
    got = {r["store_name"]: r for r in store.read("store").collect()}
    assert got["beta"]["store_url"] == "http://new"
    assert got["beta"]["id_store"] == 2
    # one row per key survived
    assert store.read("store").count() == 2


def test_verify_url_statuses_probes_only_the_miss_set(spark, tmp_path):
    """r7 VERDICT item 7: the live verify_url face. Known urls pass
    through with their stored status (never re-probed — proven by a
    transport that records every call to a shared file); only the
    distinct miss-set reaches the transport; non-200 and raising
    transports map to inactive like the reference's RequestException
    branch."""
    import os

    from pythondataingestionprocess_spark.functions.url_verify import (
        verify_url_statuses,
    )

    rec_dir = str(tmp_path / "probes")
    os.makedirs(rec_dir)

    def transport(url: str) -> int:
        with open(os.path.join(rec_dir, str(abs(hash(url)))), "w") as f:
            f.write(url)
        if "dead" in url:
            raise OSError("connection refused")
        return 200 if "alive" in url else 404

    urls = spark.createDataFrame(
        [("https://x.mx/alive-1",), ("https://x.mx/alive-1",),
         ("https://x.mx/gone-2",), ("https://x.mx/dead-3",),
         ("https://x.mx/known-4",)],
        "provider_url string",
    )
    known = spark.createDataFrame(
        [("https://x.mx/known-4", False)], "provider_url string, is_active boolean"
    )
    got = {
        r["provider_url"]: r["is_active"]
        for r in verify_url_statuses(urls, known, transport=transport).collect()
    }
    assert got == {
        "https://x.mx/alive-1": True,   # 200
        "https://x.mx/gone-2": False,   # 404
        "https://x.mx/dead-3": False,   # transport raised
        "https://x.mx/known-4": False,  # stored status passed through
    }
    probed = {
        open(os.path.join(rec_dir, f)).read() for f in os.listdir(rec_dir)
    }
    assert "https://x.mx/known-4" not in probed
    assert probed == {
        "https://x.mx/alive-1", "https://x.mx/gone-2", "https://x.mx/dead-3"
    }


def test_verify_url_statuses_collapses_conflicting_known_rows(spark):
    """r8 ADVICE: the store can hold conflicting statuses for one url
    (stub-True written by a verify_urls=False batch next to a
    probed-False row). The pass-through must collapse to ONE row per
    url (any-True wins) — two rows here would duplicate provider rows
    at the join back in stage_batch — and a conflicted url is still
    known, so it must never reach the transport."""
    from pythondataingestionprocess_spark.functions.url_verify import (
        verify_url_statuses,
    )

    def transport(url: str) -> int:
        raise AssertionError(f"probed a known url: {url}")

    urls = spark.createDataFrame(
        [("https://x.mx/conflict-1",), ("https://x.mx/conflict-1",)],
        "provider_url string",
    )
    known = spark.createDataFrame(
        [("https://x.mx/conflict-1", True),
         ("https://x.mx/conflict-1", False)],
        "provider_url string, is_active boolean",
    )
    rows = verify_url_statuses(urls, known, transport=transport).collect()
    assert len(rows) == 1
    assert rows[0]["provider_url"] == "https://x.mx/conflict-1"
    assert rows[0]["is_active"] is True


@pytest.mark.slow
def test_ingest_with_live_url_verification_flag(spark, store, tmp_path):
    """Flag-gated integration: verify_urls=True stamps provider
    is_active from the (stubbed) transport at first sight of each
    url; a later batch re-mentioning the provider does not re-probe
    (the store's verified urls are the anti-join side)."""
    import os

    rec_dir = str(tmp_path / "probes2")
    os.makedirs(rec_dir)

    def transport(url: str) -> int:
        with open(os.path.join(rec_dir, str(abs(hash(url)))), "w") as f:
            f.write(url)
        return 404 if "temu" in url else 200

    compras = make_compras(
        spark,
        [compras_row(desc="A", liga=AMZ, row_idx=0),
         compras_row(desc="B", liga=TEMU, row_idx=1)],
    )
    ingest_batch(
        compras, make_precios(spark, []), store, current_date=D,
        verify_urls=True, url_transport=transport,
    )
    provs = {r["provider_url"]: r["is_active"]
             for r in store.read("provider").collect()}
    assert len(provs) == 2
    by_host = {("temu" in u): a for u, a in provs.items()}
    assert by_host == {True: False, False: True}

    # second batch, same providers: no new probes
    for f in os.listdir(rec_dir):
        os.remove(os.path.join(rec_dir, f))
    compras2 = make_compras(
        spark, [compras_row(desc="C", liga=AMZ, src_file="f2.xlsx", row_idx=0)]
    )
    ingest_batch(
        compras2, make_precios(spark, []), store, current_date=D,
        verify_urls=True, url_transport=transport,
    )
    assert os.listdir(rec_dir) == []
    assert {r["provider_url"]: r["is_active"]
            for r in store.read("provider").collect()} == provs


# ---- r13 pipeline review regression pins -----------------------------


@pytest.mark.slow
def test_null_keyed_rows_dedup_against_history(spark, store):
    """r13 review: a row with NULL purchase_date / NULL Cant must
    match its own history on re-ingest — the plain equality anti-join
    never matched NULL keys (nor raw-NULL Cant vs the stored coalesced
    0), duplicating the row on EVERY re-drop."""
    row = list(compras_row(desc="A", liga=AMZ))
    row[1] = None   # Cant
    row[8] = None   # purchase_date
    compras = make_compras(spark, [tuple(row)])
    ingest_batch(compras, make_precios(spark, []), store, current_date=D)
    assert store.read("purchase").count() == 1
    res2 = ingest_batch(compras, make_precios(spark, []), store,
                        current_date=D)
    assert res2.n_staged_rows == 0
    assert store.read("purchase").count() == 1
    assert store.read("operation").count() == 1


@pytest.mark.slow
def test_modified_redrop_gets_fresh_purchase_key(spark, store):
    """r13 review: a same-named file re-dropped with CORRECTED
    contents passes history dedup (content differs) but used to reuse
    the old row's (src_file, row_idx) surrogate — two conflicting fact
    rows under ONE id_purchase. Content now participates in the key."""
    v1 = make_compras(spark, [compras_row(desc="A", liga=AMZ,
                                          c_unit=100.0)])
    ingest_batch(v1, make_precios(spark, []), store, current_date=D)
    v2 = make_compras(spark, [compras_row(desc="A", liga=AMZ,
                                          c_unit=90.0)])  # corrected
    ingest_batch(v2, make_precios(spark, []), store, current_date=D)
    purchases = store.read("purchase").collect()
    assert len(purchases) == 2
    assert len({r["id_purchase"] for r in purchases}) == 2
    # operations join their OWN purchase rows 1:1, never cross-match
    ops = store.read("operation")
    joined = ops.join(store.read("purchase"), "id_purchase")
    assert joined.count() == 2


@pytest.mark.slow
def test_multifile_precios_first_match_is_deterministic(spark, store):
    """r13 review: with a multi-workbook precios union, row_idx alone
    ties (each file restarts at 0) and the first-match winner was
    partition-order nondeterministic. With src_file present the window
    orders (src_file, row_idx): the lexicographically-first file's
    Marca/price wins, repeatably."""
    compras = make_compras(spark, [compras_row(desc="A", liga=AMZ)])
    p1 = list(precios_row(desc="A", marca="LEGO", p_venta=180.0))
    p2 = list(precios_row(desc="A", marca="MATTEL", p_venta=120.0))
    precios = (
        make_precios(spark, [tuple(p1)]).withColumn(
            "src_file", F.lit("b.xlsx")
        ).unionByName(
            make_precios(spark, [tuple(p2)]).withColumn(
                "src_file", F.lit("a.xlsx")
            )
        )
        # adversarial partitioning: the tie used to be broken by
        # whichever partition came first
        .repartition(8)
    )
    for _ in range(3):
        res = stage_batch(compras, precios, store)
        prod = res.products.first()
        assert prod["brand"] == "MATTEL"  # a.xlsx < b.xlsx
        price = res.prices.first()
        assert price["price"] == pytest.approx(120.0)


def test_ingest_directory_move_failure_is_isolated(spark, tmp_path, monkeypatch):
    """One bad file never costs the others: a move_file failure must not
    dead-letter an already-ingested file or abort the directory loop —
    the file stays in place, reported in `unmoved`, and the rest of the
    batch continues."""
    from pythondataingestionprocess_spark.sources import files as files_mod

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    for name in ("a.xlsx", "b.xlsx", "c.xlsx"):
        (inbox / name).write_text("x")
    processed = str(tmp_path / "done")
    errors = str(tmp_path / "dead")

    def process(path):
        if path.endswith("b.xlsx"):
            raise ValueError("bad workbook")

    real_move = files_mod.move_file

    def flaky_move(path, success, processed_dir, errors_dir):
        if path.endswith("a.xlsx"):
            raise OSError("archive mount full")
        return real_move(path, success, processed_dir, errors_dir)

    monkeypatch.setattr(files_mod, "move_file", flaky_move)
    report = files_mod.ingest_directory(str(inbox), process, processed, errors)
    import os

    # a: processed OK but unmovable -> reported processed AT ITS
    # ORIGINAL PATH and listed unmoved; b: dead-lettered; c: archived
    assert report.unmoved == [str(inbox / "a.xlsx")]
    assert str(inbox / "a.xlsx") in report.processed
    assert os.path.exists(inbox / "a.xlsx")
    assert sorted(os.path.basename(p) for p in report.errored) == ["b.xlsx"]
    assert os.listdir(errors) == ["b.xlsx"]
    assert os.listdir(processed) == ["c.xlsx"]
