"""Oracle-checked queries for the cleaning / derivation expression
library (SURVEY.md §2.8). The testdata has no dirty strings, so each
query first *constructs* deterministic dirty values from numeric
columns (identically in Spark and in the oracle SQL), then applies the
engine expression. Where possible the oracle states the expected
output directly (ground truth) instead of re-implementing the rule —
a stronger check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythondataingestionprocess_spark import functions as fx
from pythondataingestionprocess_spark.catalog import load_table
from pythondataingestionprocess_spark.plans.registry import dec_sum, query, sql_dec_sum

# ---------------------------------------------------------------- safe_float

_DIRTY_FLOAT_ORACLE = f"""
WITH dirty AS (
  SELECT l_orderkey % 6 AS bucket,
         CASE l_orderkey % 6
           WHEN 0 THEN 'None'
           WHEN 1 THEN 'nan'
           WHEN 2 THEN ''
           WHEN 3 THEN CAST(l_linenumber AS VARCHAR) || ',' || '25'
           WHEN 4 THEN CAST(l_linenumber AS VARCHAR) || '.75'
           ELSE 'abc'
         END AS raw
  FROM lineitem
), parsed AS (
  SELECT bucket,
         CASE WHEN raw IS NULL OR lower(trim(raw)) IN ('none','nan','')
              THEN NULL
              ELSE TRY_CAST(replace(trim(raw), ',', '.') AS DOUBLE)
         END AS val
  FROM dirty
)
SELECT bucket, COUNT(*) AS n_rows, COUNT(val) AS n_parsed,
       {sql_dec_sum("val", "sum_val")}
FROM parsed GROUP BY bucket
"""


@query("clean_safe_float", oracle=_DIRTY_FLOAT_ORACLE, tags=("cleaning",))
def clean_safe_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 safe_float over a constructed dirty column: null markers,
    comma-decimal strings, plain decimals, and garbage."""
    li = load_table(spark, sf_dir, "lineitem")
    raw = (
        F.when(F.col("l_orderkey") % 6 == 0, F.lit("None"))
        .when(F.col("l_orderkey") % 6 == 1, F.lit("nan"))
        .when(F.col("l_orderkey") % 6 == 2, F.lit(""))
        .when(
            F.col("l_orderkey") % 6 == 3,
            F.concat(F.col("l_linenumber").cast("string"), F.lit(","), F.lit("25")),
        )
        .when(
            F.col("l_orderkey") % 6 == 4,
            F.concat(F.col("l_linenumber").cast("string"), F.lit(".75")),
        )
        .otherwise(F.lit("abc"))
    )
    return (
        li.withColumn("bucket", F.col("l_orderkey") % 6)
        .withColumn("val", fx.safe_float(raw))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("val").alias("n_parsed"),
            dec_sum("val", "sum_val"),
        )
    )


# ------------------------------------------------------------ money cleaning

_MONEY_ORACLE = """
WITH built AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_linenumber % 2 = 1 THEN '- ' ELSE '+ ' END
           || '$' || CAST(l_orderkey % 90 + 10 AS VARCHAR) || ','
           || lpad(CAST((l_partkey * 7) % 1000 AS VARCHAR), 3, '0') || '.'
           || lpad(CAST((l_suppkey * 13) % 100 AS VARCHAR), 2, '0') AS raw
  FROM lineitem WHERE l_orderkey % 211 = 0
)
SELECT l_orderkey, l_linenumber, raw,
       (CASE WHEN contains(raw, '-') THEN -1.0 ELSE 1.0 END)
         * TRY_CAST(replace(replace(replace(replace(raw,'-',''),'+',''),'$',''),',','') AS DOUBLE)
         AS signed_val,
       TRY_CAST(replace(replace(ltrim(raw, '+- '), '$', ''), ',', '') AS DOUBLE) AS magnitude
FROM built
"""


@query("clean_signed_money", oracle=_MONEY_ORACLE, tags=("cleaning",))
def clean_signed_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5 money + signed-money cleaning over constructed
    '&plusmn; $N,NNN.NN' strings (pdf_to_xlsx.py:67-69,94-101 shapes).
    The space in the cleaning class matters: signed_money strips
    '[-+$, ]' including the blank."""
    li = load_table(spark, sf_dir, "lineitem")
    raw = F.concat(
        F.when(F.col("l_linenumber") % 2 == 1, F.lit("- ")).otherwise(F.lit("+ ")),
        F.lit("$"),
        (F.col("l_orderkey") % 90 + 10).cast("string"),
        F.lit(","),
        F.lpad(((F.col("l_partkey") * 7) % 1000).cast("string"), 3, "0"),
        F.lit("."),
        F.lpad(((F.col("l_suppkey") * 13) % 100).cast("string"), 2, "0"),
    )
    return (
        li.filter(F.col("l_orderkey") % 211 == 0)
        .withColumn("raw", raw)
        .select(
            "l_orderkey",
            "l_linenumber",
            "raw",
            fx.signed_money("raw").alias("signed_val"),
            fx.money_clean(F.regexp_replace(F.col("raw"), r"^[-+ ]+", "")).alias("magnitude"),
        )
    )


# ------------------------------------------------------------ date handling

# The F18 Excel-serial rule (functions/dates.py::excel_serial_to_date,
# epoch 1899-12-30) has no face of its own: unit tests
# (tests/test_functions.py) and the Hypothesis serial<->date roundtrip
# property (tests/test_properties.py) pin it.


_STMT_DATE_ORACLE = """
SELECT o_orderkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS stmt_date
FROM orders WHERE o_orderkey % 503 = 0
"""


@query("clean_stmt_date_roundtrip", oracle=_STMT_DATE_ORACLE, tags=("cleaning", "dates"))
def clean_stmt_date_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 statement-date parsing: format each order date as the BBVA
    'dd-mmm-yyyy' lowercase-Spanish shape, parse it back with the
    month-map expression, and compare against ground truth (the oracle
    simply states the original date)."""
    orders = load_table(spark, sf_dir, "orders")
    month_abbrs = ["ene", "feb", "mar", "abr", "may", "jun",
                   "jul", "ago", "sep", "oct", "nov", "dic"]
    abbr = F.lit(None).cast("string")
    for i, a in enumerate(month_abbrs, start=1):
        abbr = F.when(F.month("o_orderdate") == i, F.lit(a)).otherwise(abbr)
    raw = F.concat_ws(
        "-",
        F.lpad(F.dayofmonth("o_orderdate").cast("string"), 2, "0"),
        abbr,
        F.year("o_orderdate").cast("string"),
    )
    return (
        orders.filter(F.col("o_orderkey") % 503 == 0)
        .select(
            "o_orderkey",
            F.date_format(fx.parse_stmt_date(raw), "yyyy-MM-dd").alias("stmt_date"),
        )
    )


# ------------------------------------------------------------------ URLs

_URL_STORE_ORACLE = """
SELECT CASE s_suppkey % 5
         WHEN 0 THEN lower(replace(n_name, ' ', ''))
         WHEN 1 THEN lower(replace(n_name, ' ', ''))
         WHEN 2 THEN 'mercadolibre'
         WHEN 3 THEN 'mercadolibre'
         ELSE NULL
       END AS store_name,
       COUNT(*) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1
"""


@query("url_store_name", oracle=_URL_STORE_ORACLE, tags=("cleaning", "urls"))
def url_store_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 store-name derivation over constructed URLs covering every
    rule branch: plain www host, es-prefixed host, literal 'ML',
    articulo.mercadolibre host, NULL. The oracle states the expected
    store names directly (ground truth)."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    base = F.lower(F.replace(F.col("n_name"), F.lit(" "), F.lit("")))
    url = (
        F.when(
            F.col("s_suppkey") % 5 == 0,
            F.concat(F.lit("https://www."), base, F.lit(".com/item/"), F.col("s_suppkey")),
        )
        .when(
            F.col("s_suppkey") % 5 == 1,
            F.concat(F.lit("https://es."), base, F.lit(".com.mx/p/"), F.col("s_suppkey")),
        )
        .when(F.col("s_suppkey") % 5 == 2, F.lit("ML"))
        .when(
            F.col("s_suppkey") % 5 == 3,
            F.concat(F.lit("https://articulo.mercadolibre.com.mx/MLM-"), F.col("s_suppkey")),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("store_name", fx.store_name_from_url(url))
        .groupBy("store_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )


_URL_CANON_ORACLE = """
WITH built AS (
  SELECT p_partkey,
         CASE p_partkey % 6
           WHEN 0 THEN 'https://www.temu.com/mx/item-' || CAST(p_partkey AS VARCHAR) || '.html?top=1'
           WHEN 1 THEN 'https://www.ebay.com/itm/' || CAST(p_partkey AS VARCHAR) || '?hash=abc'
           WHEN 2 THEN 'https://www.amazon.com.mx/dp/B' || CAST(p_partkey AS VARCHAR) || '/ref=sr_1?qid=9'
           WHEN 3 THEN 'https://articulo.mercadolibre.com.mx/MLM-' || CAST(p_partkey AS VARCHAR) || '?pdp=1'
           WHEN 4 THEN 'https://m.shein.com/mx/p-' || CAST(p_partkey AS VARCHAR) || '.html?src=ads'
           ELSE 'https://example.shop/products/' || CAST(p_partkey AS VARCHAR) || '?aff=x'
         END AS url
  FROM part WHERE p_partkey % 97 = 0
)
SELECT p_partkey, url,
       CASE p_partkey % 6
         WHEN 0 THEN 'https://www.temu.com'
         WHEN 1 THEN 'https://www.ebay.com/itm/' || CAST(p_partkey AS VARCHAR)
         WHEN 2 THEN 'https://www.amazon.com.mx/dp/B' || CAST(p_partkey AS VARCHAR) || '/ref=sr_1'
         WHEN 3 THEN 'https://articulo.mercadolibre.com.mx/MLM-' || CAST(p_partkey AS VARCHAR)
         WHEN 4 THEN 'https://m.shein.com'
         ELSE 'https://example.shop/products/' || CAST(p_partkey AS VARCHAR)
       END AS provider_url
FROM built
"""


@query("url_canonicalize", oracle=_URL_CANON_ORACLE, tags=("cleaning", "urls"))
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 provider-URL canonicalization over all reachable rule tiers
    (base-only marketplace, keep-path, default). Oracle states the
    expected canonical URLs directly."""
    part = load_table(spark, sf_dir, "part")
    pk = F.col("p_partkey").cast("string")
    url = (
        F.when(F.col("p_partkey") % 6 == 0,
               F.concat(F.lit("https://www.temu.com/mx/item-"), pk, F.lit(".html?top=1")))
        .when(F.col("p_partkey") % 6 == 1,
              F.concat(F.lit("https://www.ebay.com/itm/"), pk, F.lit("?hash=abc")))
        .when(F.col("p_partkey") % 6 == 2,
              F.concat(F.lit("https://www.amazon.com.mx/dp/B"), pk, F.lit("/ref=sr_1?qid=9")))
        .when(F.col("p_partkey") % 6 == 3,
              F.concat(F.lit("https://articulo.mercadolibre.com.mx/MLM-"), pk, F.lit("?pdp=1")))
        .when(F.col("p_partkey") % 6 == 4,
              F.concat(F.lit("https://m.shein.com/mx/p-"), pk, F.lit(".html?src=ads")))
        .otherwise(F.concat(F.lit("https://example.shop/products/"), pk, F.lit("?aff=x")))
    )
    return (
        part.filter(F.col("p_partkey") % 97 == 0)
        .withColumn("url", url)
        .select("p_partkey", "url", fx.canonicalize_provider_url("url").alias("provider_url"))
    )


# ---------------------------------------------------------------- pricing

_PRICING_ORACLE = """
WITH base AS (
  SELECT p_partkey, p_retailprice AS p_tienda,
         p_retailprice * 0.6 AS c_unit, p_size AS pzs
  FROM part WHERE p_partkey % 53 = 0
), calcs AS (
  -- NULL gap propagates (mirrors fx.tier_multiplier's r13 NULL-in/
  -- NULL-out; no-op on this data — p_retailprice is never NULL)
  SELECT *,
         (c_unit / pzs) * (CASE WHEN abs(p_tienda - c_unit) IS NULL THEN NULL
                                WHEN abs(p_tienda - c_unit) > 100 THEN 1.25
                                WHEN abs(p_tienda - c_unit) > 50 THEN 1.5
                                ELSE 1.75 END) + 25 AS calc
  FROM base
), sale AS (
  SELECT *,
         calc * (CASE WHEN calc - c_unit IS NULL THEN NULL
                      WHEN calc - c_unit < 100 THEN
                        (CASE WHEN calc - c_unit > 80 THEN 1.25
                              WHEN calc - c_unit > 50 THEN 1.5
                              ELSE 1.75 END)
                      ELSE
                        (CASE WHEN calc - c_unit > 150 THEN 0.95
                              WHEN calc - c_unit > 170 THEN 0.9
                              ELSE 1.0 END)
                 END) AS p_venta
  FROM calcs
)
SELECT p_partkey, calc, p_venta, (p_venta + calc) / 2 AS p_oferta
FROM sale
"""


@query("tiered_pricing", oracle=_PRICING_ORACLE, tags=("cleaning", "pricing"))
def tiered_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 tiered-markup pricing (the Excel-resident Calc / P.Venta /
    P.Oferta formulas, SURVEY §1.4) applied to the part table."""
    part = load_table(spark, sf_dir, "part")
    base = part.filter(F.col("p_partkey") % 53 == 0).select(
        "p_partkey",
        F.col("p_retailprice").alias("p_tienda"),
        (F.col("p_retailprice") * 0.6).alias("c_unit"),
        F.col("p_size").alias("pzs"),
    )
    with_calc = base.withColumn("calc", fx.calc_price("c_unit", "pzs", "p_tienda"))
    with_sale = with_calc.withColumn("p_venta", fx.sale_price("calc", "c_unit"))
    return with_sale.select(
        "p_partkey", "calc", "p_venta", fx.offer_price("p_venta", "calc").alias("p_oferta")
    )


# ------------------------------------------------------------------- JSON

# String-path `$.k` extraction over events.props is covered by
# `json_variant_props_stats` below, through the strictly richer Variant
# path (parse-once binary encoding — the form a 100 TB pipeline should
# use), plus `json_map_functions` for the map-typed surface.


_DQ_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS not_null_o_custkey,
       CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                 AND o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT)
         AS accepted_values_o_orderstatus,
       CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                 AND (o_totalprice < 0 OR o_totalprice > 1000000) THEN 1 ELSE 0 END) AS BIGINT)
         AS in_range_o_totalprice,
       CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                 AND NOT regexp_matches(o_orderpriority, '^[0-9]-') THEN 1 ELSE 0 END) AS BIGINT)
         AS matches_o_orderpriority,
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS duplicate_keys
FROM orders
"""


@query("dq_orders_expectations", oracle=_DQ_ORACLE, tags=("quality",))
def dq_orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation sweep over orders — N constraint
    checks in ONE scan+aggregate (quality.py; the scalable form of the
    reference's per-row runtime guards)."""
    from pythondataingestionprocess_spark import quality as dq

    orders = load_table(spark, sf_dir, "orders")
    return dq.check(
        orders,
        [
            dq.not_null("o_custkey"),
            dq.accepted_values("o_orderstatus", ["F", "O", "P"]),
            dq.in_range("o_totalprice", 0, 1_000_000),
            dq.matches("o_orderpriority", r"^[0-9]-"),
        ],
        keys=["o_orderkey"],
    )


_MAP_ORACLE = """
SELECT k AS prop_key,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.' || k) AS BIGINT)) AS BIGINT) AS sum_v,
       CAST(MIN(CAST(json_extract(props, '$.' || k) AS BIGINT)) AS BIGINT) AS min_v,
       CAST(MAX(CAST(json_extract(props, '$.' || k) AS BIGINT)) AS BIGINT) AS max_v
FROM (
  SELECT props, unnest(json_keys(props)) AS k FROM events
) t GROUP BY k
"""


@query("json_map_functions", oracle=_MAP_ORACLE, tags=("json", "maps"))
def json_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed JSON surface (SURVEY §2.8 tail: no map functions in
    the reference): props parsed to map<string,bigint>, entries
    exploded, aggregated per key — from_json/explode-map vs DuckDB
    json_keys/json_extract."""
    events = load_table(spark, sf_dir, "events")
    entries = events.select(
        F.explode(F.from_json("props", "map<string,bigint>")).alias("prop_key", "v")
    )
    return entries.groupBy("prop_key").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


_VARIANT_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_with_props,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
"""


@query("json_variant_props_stats", oracle=_VARIANT_ORACLE, tags=("json", "variant"))
def json_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4 VariantType: ``parse_json`` to
    the binary variant encoding, typed ``try_variant_get`` extraction,
    aggregate per event type. Replaces the retired string-path
    ``json_extract_props`` face (get_json_object re-tokenizes the
    string per field): variant parses each JSON document
    ONCE into a shredded binary form, so repeated field extraction
    skips re-tokenizing the string — at 100 TB the difference between
    N regex-ish scans per row and one parse + O(1) field reads. Oracle
    uses DuckDB's json_extract (same values, different encoding)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.filter(F.col("props").isNotNull())
        .withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_with_props"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_MALFORMED_ORACLE = """
WITH corrupted AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 7 = 0
              THEN substr(props, 1, length(props) - 1)
              ELSE props END AS props
  FROM events WHERE props IS NOT NULL
)
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE NOT json_valid(props)) AS BIGINT) AS n_malformed,
       COUNT(*) FILTER (WHERE NOT json_valid(props)) * 1.0 / COUNT(*) AS malformed_rate
FROM corrupted GROUP BY event_type
"""


@query("dq_malformed_json_rate", oracle=_MALFORMED_ORACLE, tags=("dq", "json"))
def dq_malformed_json_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-payload screening with TRY semantics: plant corruption
    on 1-in-7 props (truncate the closing brace), then measure the
    per-type malformed rate via try_parse_json IS NULL — the
    ingest-side gate that routes bad payloads to a dead-letter table
    instead of failing the job.

    Corruption is TRUNCATION, not appended garbage, deliberately:
    probing found Spark's try_parse_json parses the first valid JSON
    value and tolerates trailing bytes ('{"k":1}}{' parses), while
    DuckDB's json_valid rejects the whole string — a real cross-engine
    semantic divergence on what counts as malformed. Truncated JSON is
    unambiguous on both. If the application needs whole-string
    strictness on Spark, pre-screen with rtrim/regexp anchoring before
    the TRY parse."""
    ev = load_table(spark, sf_dir, "events")
    corrupted = ev.filter(F.col("props").isNotNull()).withColumn(
        "props",
        F.when(
            F.col("event_id") % 7 == 0,
            F.expr("substr(props, 1, length(props) - 1)"),
        ).otherwise(F.col("props")),
    )
    bad = F.try_parse_json(F.col("props")).isNull()
    return corrupted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(bad.cast("long")).alias("n_malformed"),
        (F.sum(bad.cast("long")) / F.count(F.lit(1)).cast("double")).alias(
            "malformed_rate"
        ),
    )


_RI_ORACLE = """
SELECT 'lineitem_without_order' AS check_name,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
         AS n_violations
UNION ALL
SELECT 'order_without_customer',
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'lineitem_without_part',
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'orders_pk_duplicates',
       (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
"""


@query("dq_referential_integrity", oracle=_RI_ORACLE, tags=("dq", "anti"))
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan and primary-key duplicate audit across the
    star schema — each FK check is one LEFT ANTI join counted (the
    set-oriented form of the reference's per-row existence probes,
    database_utils.py), the PK check one aggregate. All four checks
    share nothing, so Spark runs them as independent stages and the
    union is a metadata concat; at 100 TB each anti join shuffles only
    the key columns."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    # fully lazy: each check is a one-row aggregate subplan; the union
    # is one DataFrame, no driver-side count()/collect() anywhere
    def anti_count(name: str, left: DataFrame, lk: str, right: DataFrame, rk: str) -> DataFrame:
        return (
            left.select(F.col(lk))
            .join(right.select(F.col(rk)), left[lk] == right[rk], "left_anti")
            .agg(
                F.lit(name).alias("check_name"),
                F.count(F.lit(1)).alias("n_violations"),
            )
        )

    pk_dupes = orders.agg(
        F.lit("orders_pk_duplicates").alias("check_name"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_violations"),
    )
    return (
        anti_count("lineitem_without_order", lineitem, "l_orderkey", orders, "o_orderkey")
        .unionAll(anti_count("order_without_customer", orders, "o_custkey", customer, "c_custkey"))
        .unionAll(anti_count("lineitem_without_part", lineitem, "l_partkey", part, "p_partkey"))
        .unionAll(pk_dupes)
    )


_PROFILE_ORACLE = """
SELECT 'o_totalprice' AS col_name,
       COUNT(*) AS n_rows,
       COUNT(o_totalprice) AS n_nonnull,
       CAST(MIN(o_totalprice) AS VARCHAR) AS min_val,
       CAST(MAX(o_totalprice) AS VARCHAR) AS max_val,
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
       MIN(o_orderstatus), MAX(o_orderstatus),
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_orderdate', COUNT(*), COUNT(o_orderdate),
       strftime(MIN(o_orderdate), '%Y-%m-%d'), strftime(MAX(o_orderdate), '%Y-%m-%d'),
       CAST(COUNT(DISTINCT o_orderdate) AS BIGINT)
FROM orders
"""


@query("dq_profile_orders", oracle=_PROFILE_ORACLE, tags=("dq", "profile"))
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile (rows / non-null / min / max / distinct) for a
    numeric, a categorical and a date column — the first-look profiling
    every ingest runs. One scan per column family here for oracle
    clarity; a production profiler computes all columns in ONE pass
    (N aggregate expressions over a single scan) — that one-pass shape
    is what multi_agg_stats already pins."""
    orders = load_table(spark, sf_dir, "orders")
    num = orders.agg(
        F.lit("o_totalprice").alias("col_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_totalprice").alias("n_nonnull"),
        F.min("o_totalprice").cast("string").alias("min_val"),
        F.max("o_totalprice").cast("string").alias("max_val"),
        F.countDistinct("o_totalprice").alias("n_distinct"),
    )
    cat = orders.agg(
        F.lit("o_orderstatus").alias("col_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderstatus").alias("n_nonnull"),
        F.min("o_orderstatus").alias("min_val"),
        F.max("o_orderstatus").alias("max_val"),
        F.countDistinct("o_orderstatus").alias("n_distinct"),
    )
    dt = orders.agg(
        F.lit("o_orderdate").alias("col_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderdate").alias("n_nonnull"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_val"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_val"),
        F.countDistinct("o_orderdate").alias("n_distinct"),
    )
    return num.unionAll(cat).unionAll(dt)


# ---------------------------------------------------------------------------
# Cross-table financial reconciliation: order header total vs the total
# recomputed from its line items — the audit every warehouse runs
# between a summary table and its grain-level source.
# ---------------------------------------------------------------------------

_RECON_ORACLE = """
WITH li AS (
  SELECT l_orderkey,
         CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                       AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS recomputed
  FROM lineitem
  GROUP BY 1
),
j AS (
  SELECT o.o_orderstatus, o.o_totalprice, li.recomputed,
         CASE WHEN li.recomputed IS NULL THEN NULL
              ELSE abs(o.o_totalprice - li.recomputed) END AS adelta
  FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN recomputed IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan,
       CAST(SUM(CASE WHEN adelta >= 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
       ROUND(CAST(SUM(CAST(adelta AS DECIMAL(25,9))) AS DOUBLE)
             / SUM(CASE WHEN adelta IS NOT NULL THEN 1 ELSE 0 END), 6) AS avg_abs_delta,
       ROUND(MAX(adelta), 6) AS max_abs_delta
FROM j
GROUP BY 1
"""


@query("dq_order_reconciliation", oracle=_RECON_ORACLE, tags=("dq", "reconciliation", "join"))
def dq_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation: recompute each order's total
    from its line items (extprice · (1−disc) · (1+tax), decimal-
    accumulated) and report, per status, how many orders have no
    lines at all (orphans — this corpus has 257 at sf0.01), how many
    disagree by ≥ 1 cent, and the average/max absolute discrepancy.
    On THIS synthetic corpus every order mismatches (the generator
    draws o_totalprice independently) — which is exactly what the
    audit should surface, loudly.

    Scale shape: the detail side collapses to one row per order
    BEFORE the join (map-side partial sums), so the join moves order
    grain, never line grain; per-row delta math is engine-identical
    doubles; the |delta| sums ride DECIMAL(25,9) so partial-agg order
    can't show.
    """
    orders, lineitem = (
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )
    li = lineitem.groupBy("l_orderkey").agg(
        F.sum(
            (
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).cast("decimal(25,6)")
        )
        .cast("double")
        .alias("recomputed")
    )
    j = orders.join(li, orders.o_orderkey == li.l_orderkey, "left").select(
        "o_orderstatus",
        "o_totalprice",
        "recomputed",
        F.when(
            F.col("recomputed").isNull(), F.lit(None).cast("double")
        )
        .otherwise(F.abs(F.col("o_totalprice") - F.col("recomputed")))
        .alias("adelta"),
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("recomputed").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_orphan"),
        F.sum(F.when(F.col("adelta") >= 0.01, 1).otherwise(0))
        .cast("long")
        .alias("n_mismatched"),
        F.round(
            F.sum(F.col("adelta").cast("decimal(25,9)")).cast("double")
            / F.sum(F.when(F.col("adelta").isNotNull(), 1).otherwise(0)),
            6,
        ).alias("avg_abs_delta"),
        F.round(F.max("adelta"), 6).alias("max_abs_delta"),
    )
