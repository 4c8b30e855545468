"""Subquery-shaped and advanced-aggregation queries (SURVEY.md §2.4 note:
"grouping-sets/cube/rollup … engine gets them free from Spark"; this module
covers the remaining classic OLAP shapes the reference never needed —
correlated scalar subqueries, HAVING join-backs, conditional aggregation,
and calendar bucketing).

The reference has no query language at all (SURVEY §3), so these are
pure beyond-reference surface: the shapes a user migrating real
analytics onto this engine runs on day one (TPC-H Q17/Q18 skeletons).

Spark-first notes:
- Correlated scalar subqueries are expressed DECORRELATED (aggregate →
  equi-join back) rather than via a correlated SQL subquery. That is
  exactly the plan Catalyst would rewrite to, and at 100 TB it makes
  the shuffle explicit: one partial-agg shuffle on the correlation key,
  one co-partitioned join — no per-row re-scan.
- Conditional aggregation (FILTER/CASE) keeps one scan: N predicates
  become N aggregate expressions in a single partial-agg pass instead
  of N self-joined subqueries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.catalog import cached, load_table
from pythondataingestionprocess_spark.plans.registry import (
    dec_sum,
    query,
    sql_dec_sum,
)


def _t(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


# ---------------------------------------------------------------------------
# Correlated scalar subquery, decorrelated (TPC-H Q17 shape).
# ---------------------------------------------------------------------------

_SMALL_QTY_ORACLE = f"""
SELECT p_brand,
       {sql_dec_sum("l_extendedprice", "small_qty_revenue")},
       COUNT(*) AS n_small
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_quantity < 0.2 * (
        SELECT CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
               / COUNT(l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey
      )
GROUP BY p_brand
"""


@query("scalar_subquery_small_qty", oracle=_SMALL_QTY_ORACLE, tags=("subquery", "join", "agg"))
def scalar_subquery_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from line items ordered below 20% of their part's average
    quantity, per brand (TPC-H Q17 skeleton).

    The correlated scalar subquery (per-part avg quantity) is expressed
    decorrelated: aggregate lineitem once on l_partkey, join back on the
    same key. Scale: both sides shuffle on l_partkey, so with AQE the
    avg-side (one row per part) broadcast-joins back into the fact scan;
    the whole query is one fact shuffle + one dim-sized join — the
    correlated form would be a per-row rescan in a naive engine.

    Determinism: the per-part average uses the registry's exact-decimal
    sum / count convention so the `<` threshold is bit-identical in
    Spark and DuckDB.
    """
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    part_avg = lineitem.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(25,6)")).cast("double")
            / F.count("l_quantity")
        ).alias("avg_qty")
    )
    return (
        lineitem.join(part_avg.withColumnRenamed("l_partkey", "pa_partkey"),
                      F.col("l_partkey") == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(
            dec_sum("l_extendedprice", "small_qty_revenue"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


# ---------------------------------------------------------------------------
# HAVING + join-back (TPC-H Q18 shape).
# ---------------------------------------------------------------------------

_LARGE_ORDERS_ORACLE = """
WITH big AS (
    SELECT l_orderkey,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(25,6))) > 250
)
SELECT c_name, o_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey  = o_custkey
"""


@query("having_large_orders", oracle=_LARGE_ORDERS_ORACLE, tags=("subquery", "having", "join"))
def having_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total line quantity exceeds 250, with their customer
    (TPC-H Q18 skeleton): aggregate → HAVING filter → join back to the
    order/customer detail.

    Scale: the groupBy(l_orderkey) shuffle co-partitions with the
    orders join key, so lineitem-agg ⨝ orders reuses the partitioning
    (one exchange, not two); the HAVING filter shrinks the agg output
    to a sliver before any join, and AQE broadcasts it into orders.
    """
    lineitem, orders, customer = _t(spark, sf_dir, "lineitem", "orders", "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("sq"))
        .filter(F.col("sq") > 250)
        .select("l_orderkey", F.col("sq").cast("double").alias("sum_qty"))
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


# ---------------------------------------------------------------------------
# Conditional aggregation — N predicates, one scan.
# ---------------------------------------------------------------------------

_COND_AGG_ORACLE = f"""
SELECT n_name,
       COUNT(*) AS n_orders,
       COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS n_urgent,
       {sql_dec_sum("CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN o_totalprice ELSE 0 END", "urgent_revenue")},
       {sql_dec_sum("o_totalprice", "total_revenue")}
FROM orders
JOIN customer ON c_custkey  = o_custkey
JOIN nation   ON n_nationkey = c_nationkey
GROUP BY n_name
"""


@query("conditional_agg_priority", oracle=_COND_AGG_ORACLE, tags=("agg", "conditional"))
def conditional_agg_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation urgent-vs-total order counts and revenue in ONE scan:
    conditional aggregates (CASE-guarded sum/count) instead of
    self-joined per-predicate subqueries.

    Scale: this is the pattern that keeps dashboard queries to a single
    fact pass at 100 TB — k predicates cost k aggregate expressions in
    the same partial-agg, not k scans. nation is broadcast; the only
    shuffle is orders on o_custkey.
    """
    orders, customer, nation = _t(spark, sf_dir, "orders", "customer", "nation")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(F.when(urgent, 1)).alias("n_urgent"),
            dec_sum(F.when(urgent, F.col("o_totalprice")).otherwise(0.0), "urgent_revenue"),
            dec_sum("o_totalprice", "total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-role dimension join (TPC-H Q7 shape): nation joined twice under
# two roles (supplier side / customer side).
# ---------------------------------------------------------------------------

_TRADE_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year,
       {sql_dec_sum("volume", "revenue")},
       COUNT(*) AS n_items
FROM (
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           l_extendedprice * (1 - l_discount) AS volume
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@query("bilateral_trade_volume", oracle=_TRADE_ORACLE, tags=("join", "agg", "multi-role"))
def bilateral_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral shipping volume between two nations by ship year
    (TPC-H Q7 skeleton): the same `nation` dimension joins TWICE under
    different roles (supplier's nation vs customer's nation), with an
    OR-pair predicate across the two roles.

    Scale: both nation roles are broadcast (aliased copies, no shuffle);
    the OR-pair predicate cannot be pushed below either single join, so
    it runs right after the second broadcast — the only exchanges are
    the two fact shuffles (lineitem⨝orders on orderkey, ⨝customer on
    custkey). supplier is broadcast-sized at any SF that keeps ~1
    supplier row per 600 lineitems.
    """
    lineitem, supplier, orders, customer, nation = _t(
        spark, sf_dir, "lineitem", "supplier", "orders", "customer", "nation"
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        lineitem.join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Calendar bucketing — date_trunc monthly trend.
# ---------------------------------------------------------------------------

_MONTHLY_ORACLE = f"""
SELECT date_trunc('month', o_orderdate) AS order_month,
       COUNT(*) AS n_orders,
       {sql_dec_sum("o_totalprice", "revenue")}
FROM orders
GROUP BY 1
"""


@query("monthly_revenue_trend", oracle=_MONTHLY_ORACLE, tags=("agg", "date"))
def monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order count and revenue via date_trunc — the calendar
    rollup every reporting pipeline needs (the reference's only date
    aggregate is max(date) for a filename, pdf_to_xlsx.py:106-107).

    Scale: date_trunc is a codegen'd expression evaluated pre-shuffle,
    so the shuffle carries ~tens of distinct month keys — partial
    aggregation collapses each partition to one row per month before
    the exchange. On a date-partitioned lake layout this also prunes
    to the months requested.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice", "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered list/string aggregation.
# ---------------------------------------------------------------------------

_STRING_AGG_ORACLE = """
SELECT r_name,
       COUNT(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nation_csv
FROM nation
JOIN region ON r_regionkey = n_regionkey
GROUP BY r_name
"""


@query("string_agg_nations", oracle=_STRING_AGG_ORACLE, tags=("agg", "collect"))
def string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region comma-joined sorted nation list — the LISTAGG /
    string_agg aggregate class (collect → order → join).

    Spark's collect_list is partition-order-dependent, so the result is
    made deterministic by sorting INSIDE the aggregate output
    (array_sort before array_join) — the same discipline any 100 TB
    pipeline needs, since shuffle arrival order is never stable.
    Scale note: ordered-list aggregation materializes the whole group
    in one task; reserve it for bounded-cardinality groups (here ≤25
    nations) — for unbounded groups use top-k windows instead.
    """
    nation, region = _t(spark, sf_dir, "nation", "region")
    return (
        nation.join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nation_csv"),
        )
    )


# ---------------------------------------------------------------------------
# Arg-extrema aggregation (min_by / max_by).
# ---------------------------------------------------------------------------

_ARGMAX_ORACLE = """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       MAX(c_acctbal) AS max_balance,
       arg_max(c_custkey,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1099511627776
               + c_custkey) AS top_custkey,
       arg_min(c_custkey,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1099511627776
               + c_custkey) AS bottom_custkey
FROM customer
GROUP BY c_mktsegment
"""


@query("argmax_customer_balance", oracle=_ARGMAX_ORACLE, tags=("agg", "argmax"))
def argmax_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Richest/poorest customer key per market segment — the
    min_by/max_by (arg-extrema) aggregate class, which replaces the
    self-join-on-max anti-pattern with a single partial-aggregable pass.

    Determinism AT SCALE (r13 review): balances carry 2 decimals, so
    the ordering key is EXACT int64 arithmetic — balance cents shifted
    by 2^40 plus the custkey tiebreaker. The previous double key
    (`acctbal*1e9 + custkey`) let the tiebreaker overpower a 0.01
    balance gap once custkeys passed 1e7 (SF≈67 — far below the 100TB
    target), returning a non-richest customer identically on both
    engines, invisible to the hash gate. Bounds: |cents| <= 1.1e6 so
    the shifted term stays under 1.3e18 (int64 max 9.2e18), and
    custkeys stay below 2^40 ≈ 1.1e12 until SF ≈ 7e6 — three orders
    past the target. Works for negative balances too (the cents term
    steps in whole 2^40 units, so adding a sub-2^40 key never crosses
    a balance boundary).

    Scale: min_by/max_by carries one (value, key) pair per group
    through the map-side combine — constant state, no group
    materialization, unlike the window-function alternative.
    """
    customer = load_table(spark, sf_dir, "customer")
    ordkey = (
        F.round(F.col("c_acctbal") * 100).cast("long") * 1099511627776
        + F.col("c_custkey")
    )
    return customer.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.max("c_acctbal").alias("max_balance"),
        F.max_by(F.col("c_custkey"), ordkey).alias("top_custkey"),
        F.min_by(F.col("c_custkey"), ordkey).alias("bottom_custkey"),
    )


# ---------------------------------------------------------------------------
# UNNEST / lateral explode — table-generating projection.
# ---------------------------------------------------------------------------

_UNNEST_ORACLE = """
SELECT word, COUNT(*) AS n_occurrences
FROM (
    SELECT unnest(string_split(text, ' ')) AS word
    FROM documents
    WHERE text IS NOT NULL
)
WHERE word <> ''
GROUP BY word
ORDER BY n_occurrences DESC, word
LIMIT 20
"""


@query("unnest_top_words", oracle=_UNNEST_ORACLE, tags=("unnest", "explode", "agg"))
def unnest_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 words across the document corpus via explode (UNNEST /
    LATERAL VIEW) — the table-generating operator class: one input row
    fans out to N output rows, then re-aggregates.

    The reference's closest shape is the statement-line parser
    (pdf_to_xlsx.py:55-103, one page-text → many rows), implemented
    elsewhere as regexp_extract_all + explode; this query isolates the
    operator with a deterministic oracle (total order: count desc, word).

    Scale: explode multiplies row count ~word-count×, so it runs AFTER
    the null filter and with only the exploded column projected — the
    partial-agg then collapses per-partition word counts before the
    single shuffle. Top-k is a TakeOrderedAndProject (heap per
    partition + driver merge), never a full sort.
    """
    documents = load_table(spark, sf_dir, "documents")
    return (
        documents.filter(F.col("text").isNotNull())
        .select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("word"))
        .limit(20)
    )


_DISJUNCTIVE_ORACLE = f"""
SELECT p.p_brand AS brand,
       COUNT(*) AS n_items,
       {sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 15)
   OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 25)
   OR (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 35)
GROUP BY p.p_brand
"""


@query("disjunctive_predicate_revenue", oracle=_DISJUNCTIVE_ORACLE, tags=("join", "pushdown"))
def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19's shape: an OR of per-brand (quantity × size) band
    conjunctions across a fact-dim join. The planner splits the
    disjunction: the common `p_brand IN (...)` and size/quantity
    envelope push into the scans, the residual OR evaluates post-join —
    declared as one boolean expression and left to Catalyst (the
    hand-unioned three-branch rewrite triples the fact scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    band = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 25))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 35))
    )
    return (
        j.filter(band)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


_IDLE_SEGMENT_ORACLE = """
WITH seg AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
), avg_bal AS (
  SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / COUNT(*) AS a
  FROM seg WHERE c_acctbal > 0
)
SELECT c_mktsegment AS segment,
       COUNT(*) AS numcust,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS totacctbal
FROM seg, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = seg.c_custkey)
GROUP BY c_mktsegment
"""


@query("idle_customers_segment", oracle=_IDLE_SEGMENT_ORACLE, tags=("subquery", "anti-join"))
def idle_customers_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22's shape on this schema: within selected market
    segments, customers with above-average balance (average over the
    segment's positive balances — a scalar subquery both engines
    compute from exact decimal sums) who have NEVER ordered (anti-join
    on orders). The anti-join probes only the filtered customer slice;
    the scalar average is one tiny broadcast row."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    seg = cust.filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY", "AUTOMOBILE")
    ).select("c_custkey", "c_mktsegment", "c_acctbal")
    avg_bal = seg.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("a")
    )
    return (
        seg.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(orders, seg.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dec_sum("c_acctbal", "totacctbal"),
        )
    )


_SALTED_ORACLE = f"""
WITH dim AS (
  SELECT DISTINCT o_orderstatus, 'status_' || o_orderstatus AS status_label
  FROM orders
)
SELECT d.status_label AS status_label,
       COUNT(*) AS n_orders,
       {sql_dec_sum("o.o_totalprice", "total_price")}
FROM orders o JOIN dim d ON o.o_orderstatus = d.o_orderstatus
GROUP BY d.status_label
"""


@query("skewed_join_salted", oracle=_SALTED_ORACLE, tags=("join", "skew"))
def skewed_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit skew-mitigation path under oracle verification:
    orders join a 3-row status dim on o_orderstatus — a maximally hot
    key (every row hits one of 3 values) — through
    operators/skew.py::salted_join, which spreads each hot key over 16
    salts and replicates the dim side. The oracle is the plain join:
    salting must be invisible in the result. (AQE's skew-join handles
    the common case at runtime; this operator is for the single-hot-key
    shapes AQE can't split.)"""
    from pythondataingestionprocess_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders")
    dim = (
        orders.select("o_orderstatus")
        .distinct()
        .withColumn("status_label", F.concat(F.lit("status_"), F.col("o_orderstatus")))
    )
    joined = salted_join(
        orders.select("o_orderstatus", "o_totalprice"), dim, ["o_orderstatus"]
    )
    return joined.groupBy("status_label").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice", "total_price"),
    )


_FUNNEL3_ORACLE = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.ts > s1.t1
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT '1_signup' AS step, COUNT(*) AS n_users FROM s1
UNION ALL
SELECT '2_view_after_signup', COUNT(*) FROM s2
UNION ALL
SELECT '3_purchase_after_view', COUNT(*) FROM s3
"""


@query("funnel_three_step", oracle=_FUNNEL3_ORACLE, tags=("funnel", "sequence", "join"))
def funnel_three_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel (signup → later view → later
    purchase): users surviving each prefix of the sequence, where each
    step must strictly follow the user's EARLIEST completion of the
    previous one. Each stage is a user-keyed min-aggregate joined to
    the next event slice — partial-aggregable, one user-key shuffle per
    stage, no window over raw events and no per-user event arrays (the
    collect_list formulation blows up on power users at 100 TB)."""
    events = load_table(spark, sf_dir, "events")

    def first_after(prev: DataFrame, etype: str, t_prev: str, t_out: str) -> DataFrame:
        ev = events.filter(F.col("event_type") == etype).select(
            "user_id", F.col("ts")
        )
        return (
            ev.join(prev, "user_id")
            .filter(F.col("ts") > F.col(t_prev))
            .groupBy("user_id")
            .agg(F.min("ts").alias(t_out))
        )

    s1 = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = first_after(s1, "view", "t1", "t2")
    s3 = first_after(s2, "purchase", "t2", "t3")

    def step_count(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(label).alias("step"), "n_users"
        )

    return (
        step_count(s1, "1_signup")
        .unionAll(step_count(s2, "2_view_after_signup"))
        .unionAll(step_count(s3, "3_purchase_after_view"))
    )


# ---------------------------------------------------------------------------
# Correlation / covariance via exact moments.
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
SELECT l_returnflag, n_items, covar_qty_price, corr_qty_price
FROM (
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sx,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sy,
           CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sxy,
           CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sxx,
           CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS syy
    FROM lineitem
    GROUP BY l_returnflag
) m
CROSS JOIN LATERAL (
    SELECT (sxy - sx * sy / n_items) / (n_items - 1) AS covar_qty_price,
           round((n_items * sxy - sx * sy)
           / (sqrt(n_items * sxx - sx * sx) * sqrt(n_items * syy - sy * sy)), 12) AS corr_qty_price
) c
"""


@query("corr_moments_stats", oracle=_CORR_ORACLE, tags=("agg", "stats"))
def corr_moments_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance and Pearson correlation of quantity vs price
    per return flag, computed from EXACT decimal moments (Σx, Σy, Σxy,
    Σx², Σy²) instead of the native corr/covar_samp aggregates.

    Why: native running-moment aggregates accumulate in doubles, so
    their result depends on partition merge order — fine for an
    application, fatal for cross-engine hash verification. Summing each
    moment through DECIMAL(25,6) (per the registry convention) makes
    the five inputs bit-identical in Spark and DuckDB, and the final
    double formula is then deterministic IEEE arithmetic on both.

    Scale: five decimal sums + a count in ONE partial-aggregable pass —
    same shuffle profile as any groupBy sum; the moment formula is a
    post-aggregation projection on ~5 rows.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    m = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(q.cast("decimal(25,6)")).cast("double").alias("sx"),
        F.sum(p.cast("decimal(25,6)")).cast("double").alias("sy"),
        F.sum((q * p).cast("decimal(25,6)")).cast("double").alias("sxy"),
        F.sum((q * q).cast("decimal(25,6)")).cast("double").alias("sxx"),
        F.sum((p * p).cast("decimal(25,6)")).cast("double").alias("syy"),
    )
    n = F.col("n_items")
    sx, sy, sxy, sxx, syy = (F.col(c) for c in ("sx", "sy", "sxy", "sxx", "syy"))
    return m.select(
        "l_returnflag",
        "n_items",
        ((sxy - sx * sy / n) / (n - 1)).alias("covar_qty_price"),
        # round to 12 dp: DuckDB's expression compiler may contract
        # a*b - c*d with FMA, shifting the quotient by ~1 ulp vs the JVM
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            12,
        ).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# Continuous (interpolating) percentiles.
# ---------------------------------------------------------------------------

_PCTCONT_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6)  AS median_price,
       round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price
FROM lineitem
GROUP BY l_returnflag
"""


@query("percentile_cont_prices", oracle=_PCTCONT_ORACLE, tags=("agg", "quantile"))
def percentile_cont_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median and p95 extended price per return flag via CONTINUOUS
    (linearly interpolating) percentiles — the exact `percentile`
    aggregate, complementing `quantile_disc_prices` (discrete).

    Both engines define quantile_cont as (1-d)·lower + d·upper on the
    sorted group; the interpolation is double arithmetic, so outputs
    are rounded to 6 dp on both sides (same ulp-drift discipline as
    corr_moments_stats — prices carry 2 decimals, 6 dp is lossless).

    Scale (ENFORCED, not prescribed): the group count is bounded (3
    return flags) but each group's SIZE scales with the fact table,
    and the exact aggregate materializes a whole group's values in one
    merge buffer. The form is chosen by
    ``operators/quantiles.choose_quantile_form`` over the max
    per-group value count, profiled once per session (the session
    cache keeps the count, and the form is re-chosen from it on every
    call) — exact (oracle-bit-identical) below EXACT_VALUE_LIMIT,
    approx_percentile's mergeable sketch above.
    The registered scales resolve to exact; a 100 TB run never builds
    the single-buffer plan.

    ORACLE-CONTRACT BOUND (r13 review): the DuckDB oracle is always
    exact quantile_cont, so the hash equivalence holds only while the
    form resolves to exact — below EXACT_VALUE_LIMIT=20M values per
    group (lineitem's biggest flag group crosses it near SF~30).
    Above that the plan switches to the sketch BY DESIGN and the face
    must be read rows-only: a +/-0.01%-rank-error sketch cannot
    hash-match an exact quantile; the oracle contract is pinned to
    the sf0.01 driver scale. (The same bound applies to
    feature_winsorize_robust's global orders quantiles, crossing
    near SF~13.)
    """
    from pythondataingestionprocess_spark.operators.quantiles import (
        choose_quantile_form,
        max_group_count,
        quantile_expr,
    )

    lineitem = load_table(spark, sf_dir, "lineitem")
    form = choose_quantile_form(cached(
        spark, sf_dir, "quantile_n:lineitem.l_extendedprice/l_returnflag",
        lambda: max_group_count(lineitem, "l_extendedprice", ("l_returnflag",)),
    ))
    return lineitem.groupBy("l_returnflag").agg(
        F.round(quantile_expr("l_extendedprice", 0.5, form), 6).alias("median_price"),
        F.round(quantile_expr("l_extendedprice", 0.95, form), 6).alias("p95_price"),
    )


_MAD_ORACLE = """
WITH med AS (
  SELECT p_brand, quantile_cont(p_retailprice, 0.5) AS med FROM part GROUP BY 1
), dev AS (
  SELECT p.p_brand, p.p_retailprice, med.med,
         abs(p.p_retailprice - med.med) AS adev
  FROM part p JOIN med ON p.p_brand = med.p_brand
), mad AS (
  SELECT p_brand, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT dev.p_brand AS brand,
       COUNT(*) AS n_parts,
       round(MIN(dev.med), 6) AS median_price,
       round(MIN(mad.mad), 6) AS mad,
       CAST(SUM(CASE WHEN abs(dev.p_retailprice - dev.med) > 3 * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad ON dev.p_brand = mad.p_brand
GROUP BY 1
"""


@query("dq_price_outliers_mad", oracle=_MAD_ORACLE, tags=("dq", "quantile", "robust"))
def dq_price_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screening: per brand, parts whose retail price
    sits more than 3 median-absolute-deviations from the brand median
    — the MAD rule survives the very outliers that wreck a stddev
    z-score. Two exact-percentile passes (median, then median of
    absolute deviations) over bounded groups; the interpolation and
    comparison arithmetic is identical double math on both engines
    (same 6 dp output discipline as percentile_cont_prices)."""
    part = load_table(spark, sf_dir, "part")
    med = part.groupBy("p_brand").agg(
        F.expr("percentile(p_retailprice, 0.5)").alias("med")
    )
    dev = part.join(med, "p_brand").withColumn(
        "adev", F.abs(F.col("p_retailprice") - F.col("med"))
    )
    mad = dev.groupBy("p_brand").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    joined = dev.join(mad, "p_brand")
    return joined.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.min("med"), 6).alias("median_price"),
        F.round(F.min("mad"), 6).alias("mad"),
        F.sum(
            F.when(
                F.abs(F.col("p_retailprice") - F.col("med")) > 3 * F.col("mad"), 1
            ).otherwise(0)
        ).cast("long").alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# Correlated EXISTS with an aggregate predicate (TPC-H Q4/Q21 skeleton,
# VERDICT r1 item 5). The EXISTS body is not a plain row probe: it
# aggregates the correlated group (HAVING COUNT >= 2 AND SUM(qty) > 50),
# so the decorrelation is aggregate-then-semijoin, not just semijoin.
# ---------------------------------------------------------------------------

_EXISTS_AGG_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_discount >= 0.05
  HAVING COUNT(*) >= 2
     AND CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) > 50
)
GROUP BY o_orderpriority
"""


@query("exists_agg_discounted_orders", oracle=_EXISTS_AGG_ORACLE, tags=("subquery", "exists", "agg"))
def exists_agg_discounted_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders (counted per priority) having ≥2 discounted line items
    whose quantities sum past 50 — a correlated EXISTS whose body is an
    aggregate with HAVING, expressed decorrelated: filter → partial-agg
    on the correlation key → HAVING filter → LEFT SEMI join back.

    That is the plan Catalyst produces for the SQL form, and the right
    100 TB plan: the lineitem side collapses to one row per qualifying
    order BEFORE the join (map-side partial counts), so the semi join
    moves qualifying keys only, never line items.
    """
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    qualifying = (
        lineitem.filter(F.col("l_discount") >= 0.05)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_disc"),
            F.sum(F.col("l_quantity").cast("decimal(25,6)"))
            .cast("double")
            .alias("qty_sum"),
        )
        .filter((F.col("n_disc") >= 2) & (F.col("qty_sum") > 50))
        .select("l_orderkey")
    )
    return (
        orders.join(
            qualifying, orders["o_orderkey"] == qualifying["l_orderkey"], "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# QUALIFY-style window filter (VERDICT r1 item 5). Unlike topk_per_group
# (rank-based), this QUALIFY compares each row against a window AGGREGATE
# over its partition — the shape SQL needs a subquery for unless the
# dialect has QUALIFY.
# ---------------------------------------------------------------------------

_QUALIFY_ORACLE = """
SELECT s_nationkey, s_suppkey, s_name, s_acctbal
FROM supplier
QUALIFY s_acctbal >
  CAST(SUM(CAST(s_acctbal AS DECIMAL(25,6))) OVER (PARTITION BY s_nationkey) AS DOUBLE)
  / COUNT(*) OVER (PARTITION BY s_nationkey)
"""


@query("qualify_above_avg_suppliers", oracle=_QUALIFY_ORACLE, tags=("window", "qualify"))
def qualify_above_avg_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers with above-nation-average account balance — the
    QUALIFY window-filter shape: compute a window aggregate per row,
    filter on it, project it away. Spark has no QUALIFY keyword; the
    idiomatic translation (window column → filter → drop) produces the
    identical single-shuffle plan (one exchange on s_nationkey, window
    agg, filter — no self-join back to an aggregate).

    The per-partition average uses the exact-decimal-sum discipline
    (registry docstring) so both engines compare against bit-identical
    thresholds; a plain double window AVG is merge-order-sensitive.
    """
    supplier = load_table(spark, sf_dir, "supplier")
    from pyspark.sql import Window as W

    w = W.partitionBy("s_nationkey")
    nation_avg = (
        F.sum(F.col("s_acctbal").cast("decimal(25,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        supplier.withColumn("_avg", nation_avg)
        .filter(F.col("s_acctbal") > F.col("_avg"))
        .select("s_nationkey", "s_suppkey", "s_name", "s_acctbal")
    )


# ---------------------------------------------------------------------------
# Ratio-to-report: window over an aggregate (share-of-total analytics).
# ---------------------------------------------------------------------------

_SHARE_ORACLE = """
WITH rev AS (
  SELECT n_name,
         c_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS dec_rev
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name, c_custkey
)
SELECT n_name, c_custkey,
       CAST(dec_rev AS DOUBLE) AS cust_revenue,
       round(CAST(dec_rev AS DOUBLE)
             / CAST(SUM(dec_rev) OVER (PARTITION BY n_name) AS DOUBLE), 9)
         AS revenue_share,
       CAST(row_number() OVER (PARTITION BY n_name
                               ORDER BY dec_rev DESC, c_custkey) AS INT) AS rnk
FROM rev
QUALIFY rnk <= 3
"""


@query("revenue_share_top_customers", oracle=_SHARE_ORACLE, tags=("window", "agg", "ratio"))
def revenue_share_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers per nation with their share of the nation's
    total revenue — ratio-to-report composed OVER an aggregate (agg →
    window sum over the agg output → rank filter). Two shuffles total:
    one for the groupBy, one window exchange on n_name over the
    ALREADY-aggregated rows (cardinality = customers, not orders).

    The share divides two exact-decimal-derived doubles; the quotient
    is rounded to 9 dp on both engines (same ulp discipline as
    corr_moments_stats — a double divide of bit-identical operands is
    bit-identical, but DuckDB fuses the per-partition sum differently,
    so the window SUM re-aggregation needs the decimal treatment too).
    """
    from pyspark.sql import Window as W

    orders, customer, nation = _t(spark, sf_dir, "orders", "customer", "nation")
    rev = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(nation, customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", "c_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("_dec_rev")
        )
    )
    w = W.partitionBy("n_name")
    wr = W.partitionBy("n_name").orderBy(F.col("_dec_rev").desc(), "c_custkey")
    # share = double(exact decimal) / double(exact decimal): operands are
    # bit-identical across engines, so one IEEE divide + 9-dp round is too
    return (
        rev.withColumn(
            "revenue_share",
            F.round(
                F.col("_dec_rev").cast("double")
                / F.sum("_dec_rev").over(w).cast("double"),
                9,
            ),
        )
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select(
            "n_name",
            "c_custkey",
            F.col("_dec_rev").cast("double").alias("cust_revenue"),
            "revenue_share",
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# EXISTS + NOT EXISTS combined probe (TPC-H Q21 skeleton): semi AND anti
# join against differently-filtered slices of the same fact table.
# ---------------------------------------------------------------------------

_EXISTS_NOTEXISTS_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_discount >= 0.08
)
AND NOT EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_tax > 0.06
)
GROUP BY o_orderstatus
"""


@query("exists_not_exists_orders", oracle=_EXISTS_NOTEXISTS_ORACLE, tags=("subquery", "exists", "anti"))
def exists_not_exists_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with a deeply-discounted line but NO high-tax line,
    counted per status — the Q21 shape: one LEFT SEMI and one LEFT ANTI
    join against two filtered projections of the same fact. Both probe
    sides reduce to distinct keys before joining (the filters prune
    lineitem to key-only columns; scans stay pruned), so the order
    table streams through two hash probes, never a full fact shuffle.
    """
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    discounted = (
        lineitem.filter(F.col("l_discount") >= 0.08).select("l_orderkey").distinct()
    )
    high_tax = lineitem.filter(F.col("l_tax") > 0.06).select("l_orderkey").distinct()
    return (
        orders.join(discounted, orders["o_orderkey"] == discounted["l_orderkey"], "left_semi")
        .join(high_tax, orders["o_orderkey"] == high_tax["l_orderkey"], "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: grouped value vs a GLOBAL scalar-aggregate threshold
# (HAVING sum > fraction * (SELECT sum ...)). The testdata ships no
# partsupp table, so "stock value" is re-expressed on lineitem revenue;
# the plan shape is identical: one grouped agg, one global agg, a
# broadcast scalar join, a filter.
# ---------------------------------------------------------------------------

_IMPORTANT_PARTS_ORACLE = f"""
WITH per_part AS (
  SELECT l_partkey, {sql_dec_sum("l_extendedprice * (1 - l_discount)", "part_value")}
  FROM lineitem GROUP BY l_partkey
), total AS (
  SELECT CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS tv,
         CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS np
  FROM lineitem
)
SELECT l_partkey, part_value
FROM per_part, total
WHERE part_value > 1.5 * tv / np
"""


@query("q11_important_parts", oracle=_IMPORTANT_PARTS_ORACLE, tags=("subquery", "scalar", "agg"))
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose revenue exceeds 1.5x the MEAN per-part revenue —
    the Q11 value-concentration shape with a SCALE-STABLE threshold
    (r13 review: the previous absolute 0.05%-of-global fraction was
    already empty at sf0.1 — per-part share shrinks ~1/n_parts with
    SF, which is exactly why TPC-H scales Q11's fraction by 1/SF;
    the mean-relative form selects ~1.4% of parts at every SF, so
    the face checks real rows at any scale). Both threshold inputs
    are exact (decimal global sum, distinct-key count), so the
    double arithmetic `1.5 * tv / np` is bit-identical across
    engines. Spark-first: the global total is a 1-row aggregate
    cross-joined (auto-broadcast) onto the per-part aggregate; the
    filter runs map-side post-join — no second fact shuffle, no
    correlated re-scan per group."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_part = lineitem.groupBy("l_partkey").agg(dec_sum(rev, "part_value"))
    total = lineitem.agg(
        dec_sum(rev, "tv"),
        F.countDistinct("l_partkey").cast("double").alias("np"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > 1.5 * F.col("tv") / F.col("np"))
        .select("l_partkey", "part_value")
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: argmax over an aggregated view (top supplier by
# quarterly revenue, ties kept via the max-scalar join).
# ---------------------------------------------------------------------------

_TOP_SUPPLIER_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {sql_dec_sum("l_extendedprice * (1 - l_discount)", "total_revenue")}
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@query("q15_top_supplier", oracle=_TOP_SUPPLIER_ORACLE, tags=("subquery", "scalar", "argmax"))
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum revenue over one quarter — TPC-H
    Q15 (view + scalar MAX subquery), tie-preserving. The revenue view
    is computed ONCE: the max is a 1-row aggregate OF that view,
    broadcast back as an equality filter — Catalyst reuses the view's
    exchange for both branches instead of recomputing the agg. The
    date filter pushes to the parquet scan."""
    lineitem, supplier = _t(spark, sf_dir, "lineitem", "supplier")
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        supplier.join(rev, supplier["s_suppkey"] == rev["supplier_no"])
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: DISTINCT-count of suppliers per part attribute with
# an anti-joined exclusion set (no partsupp/s_comment in the testdata:
# the supplier-part link comes from lineitem and the exclusion set is
# the bottom acctbal decile — same anti + multi-group + count-distinct
# plan shape).
# ---------------------------------------------------------------------------

_SUPPLIER_CNT_ORACLE = """
WITH excluded AS (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
), links AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM links
JOIN part ON p_partkey = l_partkey
WHERE p_size IN (1, 2, 3, 4, 5)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM excluded)
GROUP BY p_brand, p_type, p_size
"""


@query("q16_supplier_count", oracle=_SUPPLIER_CNT_ORACLE, tags=("subquery", "anti", "distinct-agg"))
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per (brand, type, size) for small part sizes,
    excluding negative-balance suppliers — TPC-H Q16's plan shape:
    dedup the fact link FIRST (distinct (part, supp) pairs are orders
    of magnitude smaller than lineitem), anti-join the exclusion set
    (broadcast — it's a filtered dim), then one grouped count-distinct.
    The p_size IN-list prunes via the part join before the wide agg."""
    lineitem, part, supplier = _t(spark, sf_dir, "lineitem", "part", "supplier")
    links = lineitem.select("l_partkey", "l_suppkey").distinct()
    excluded = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    small = part.filter(F.col("p_size").isin(1, 2, 3, 4, 5)).select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    return (
        links.join(
            F.broadcast(excluded),
            links["l_suppkey"] == excluded["s_suppkey"],
            "left_anti",
        )
        .join(small, links["l_partkey"] == small["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: two-level aggregation with a correlated threshold —
# "dominant supply links": (supplier, part) pairs whose shipped
# quantity exceeds 2.5× that part's average per-supplier share (the
# availqty > 0.5*sum(qty) correlation, re-expressed without partsupp
# and scale-stable: an absolute share threshold empties out as supplier
# counts grow with SF), rolled up per nation.
# ---------------------------------------------------------------------------

_DOMINANT_SUPP_ORACLE = """
WITH per_pair AS (
  SELECT l_partkey, l_suppkey,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS pair_qty
  FROM lineitem GROUP BY l_partkey, l_suppkey
), per_part AS (
  SELECT l_partkey,
         CAST(CAST(SUM(CAST(pair_qty AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS part_qty,
         COUNT(*) AS n_suppliers
  FROM per_pair GROUP BY l_partkey
), dominant AS (
  SELECT pp.l_suppkey, pp.l_partkey
  FROM per_pair pp JOIN per_part pt ON pp.l_partkey = pt.l_partkey
  WHERE pp.pair_qty > 2.5 * pt.part_qty / pt.n_suppliers
)
SELECT n_name, COUNT(*) AS n_dominant_links,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
FROM dominant
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
GROUP BY n_name
"""


@query("q20_dominant_suppliers", oracle=_DOMINANT_SUPP_ORACLE, tags=("subquery", "semi", "correlated"))
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply links where one supplier ships > 2.5× a part's average
    per-supplier share, rolled up per nation — TPC-H Q20's
    correlated-threshold shape DECORRELATED: one pair-grained
    aggregate of ONE lineitem scan, with the part-level totals as a
    window over it (a join-back to a second aggregate would recompute
    the pair subtree — two fact scans), then a broadcast dim rollup.
    No per-supplier re-scan, no correlated subquery at runtime."""
    from pyspark.sql import Window as W

    lineitem, supplier, nation = _t(spark, sf_dir, "lineitem", "supplier", "nation")
    qty = F.col("l_quantity").cast("decimal(25,6)")
    per_pair = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(qty).cast("double").alias("pair_qty")
    )
    # part-level totals as a WINDOW over the pair aggregate, not a
    # second aggregate joined back: a separate per_part frame would
    # recompute the whole pair subtree (two lineitem scans in the
    # physical plan — DataFrame reuse is not CSE). The window costs one
    # narrow exchange of the (part, supp)-grained agg output on
    # l_partkey and the fact is scanned ONCE.
    w_part = W.partitionBy("l_partkey")
    dominant = (
        per_pair.withColumn(
            "part_qty",
            F.sum(F.col("pair_qty").cast("decimal(25,6)")).over(w_part).cast("double"),
        )
        .withColumn("n_suppliers", F.count(F.lit(1)).over(w_part))
        .filter(
            F.col("pair_qty") > 2.5 * F.col("part_qty") / F.col("n_suppliers")
        )
        .select("l_suppkey", "l_partkey")
    )
    return (
        dominant.join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            dominant["l_suppkey"] == F.col("s_suppkey"),
        )
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_dominant_links"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
    )


# ---------------------------------------------------------------------------
# SQL-surface semantics pins: the engine's spark.sql face on two shapes
# where SQL-standard semantics diverge from the "obvious" DataFrame
# translation.
# ---------------------------------------------------------------------------

_NOT_IN_ORACLE = """
SELECT
  (SELECT COUNT(*) FROM orders
   WHERE o_custkey NOT IN (
     SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
     FROM customer WHERE c_mktsegment = 'BUILDING')) AS n_not_in,
  (SELECT COUNT(*) FROM orders o
   WHERE NOT EXISTS (
     SELECT 1 FROM customer c
     WHERE c.c_mktsegment = 'BUILDING'
       AND (CASE WHEN c.c_acctbal < 0 THEN NULL ELSE c.c_custkey END)
           = o.o_custkey)) AS n_not_exists
"""


@query("not_in_null_semantics", oracle=_NOT_IN_ORACLE, tags=("sql", "subquery", "semantics"))
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL three-valued-logic pin, side by side: NOT IN against a list
    CONTAINING A NULL filters every row (x <> NULL is UNKNOWN, so the
    conjunction never becomes TRUE), while the NOT EXISTS form of the
    "same" question counts normally — n_not_in = 0 vs n_not_exists in
    the thousands. A DataFrame left_anti join implements NOT EXISTS,
    NOT the SQL NOT IN; engines (and migrations) that silently conflate
    the two corrupt results the day a NULL enters the subquery. Runs
    through spark.sql — the engine's SQL face — against the identical
    statement in DuckDB."""
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_NOT_IN_ORACLE)


_LATERAL_ORACLE = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c.c_custkey < 30
"""


@query("lateral_top_orders", oracle=_LATERAL_ORACLE, tags=("sql", "lateral", "topk"))
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (each
    customer's top-2 orders) — the SQL-standard spelling of top-k per
    group, planned by Catalyst's decorrelation into the same
    window/rank shape `topk_per_group` writes by hand. Total tiebreak
    order (price DESC, key) keeps the LIMIT deterministic. Identical
    statement on both engines via the spark.sql face."""
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_ORACLE)
