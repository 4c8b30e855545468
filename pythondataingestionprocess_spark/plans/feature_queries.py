"""Warehouse-maintenance + feature-engineering queries (beyond-
reference depth).

Four 100 TB-shaped capabilities the registry lacked:

- ``incremental_agg_maintenance`` — mergeable-partial-state rollup
  refresh (``operators/incremental.py``): the oracle is the full
  recompute, so the driver check IS the algebraic-identity proof
  merge(partial(base), partial(delta)) == partial(all).
- ``trend_slope_per_nation`` — grouped closed-form OLS over exact
  integer/decimal moments (the corr_moments_stats discipline extended
  to regression): one pass collects (n, Σx, Σx², Σy, Σxy), slope and
  intercept are a handful of IEEE ops on engine-identical operands.
- ``feature_winsorize_robust`` — p01/p99 winsorization + robust
  (median/MAD) z-scoring, the feature-scaling pass a training
  pipeline runs before normalization; global scalars ride a broadcast
  1-row frame (the q11/q20 scalar-threshold pattern), never a window.
- ``zorder_layout_cells`` — Morton (Z-order) interleave of the two
  most-queried dimensions (``functions/layout.py``), the data-layout
  key that keeps per-file min/max tight on BOTH axes; the bitwise
  spread is integer-exact so the oracle replays the identical
  expression shape.

Reference anchor: the reference's summary sheets re-derive grouped
sums from the whole workbook every run (pdf_to_xlsx.py:39-52 builds
both sheets from the full statement; database_utils.py re-reads
tables to aggregate) — incremental maintenance is the set-oriented
form that survives a history too large to re-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.catalog import cached, load_table
from pythondataingestionprocess_spark.functions.layout import morton16_sql
from pythondataingestionprocess_spark.operators.quantiles import (
    choose_quantile_form,
    max_group_count,
    quantile_expr,
)
from pythondataingestionprocess_spark.operators.incremental import (
    finish_rollup,
    merge_rollups,
    partial_rollup,
)
from pythondataingestionprocess_spark.plans.registry import query


def _t(spark: SparkSession, sf_dir: str, *names: str):
    out = tuple(load_table(spark, sf_dir, n) for n in names)
    return out if len(out) > 1 else out[0]


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance
# ---------------------------------------------------------------------------

_INCR_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderstatus,
       COUNT(*) AS order_cnt,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue_total,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / COUNT(*) AS revenue_avg
FROM orders
GROUP BY 1, 2
"""

_CUTOFF = "2001-01-01"


@query("incremental_agg_maintenance", oracle=_INCR_ORACLE, tags=("warehouse", "incremental", "agg"))
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue rollup maintained INCREMENTALLY: the pre-2001
    history is aggregated to mergeable partial state (count + exact
    decimal sum per group), the 2001 delta is aggregated separately,
    and the published rollup is the merge of the two states — the
    oracle recomputes from scratch, so a hash match proves the
    refresh identity merge(partial(base), partial(delta)) ==
    partial(all) exactly (counts add; DECIMAL(25,6) sums add with no
    rounding; avg is derived at read time from the state columns).

    At scale the base state is |groups|-sized and STORED — the test
    derives it from the same table only because the fixture has no
    state store; a production refresh scans the delta alone and
    shuffles state rows. See operators/incremental.py.
    """
    orders = load_table(spark, sf_dir, "orders")
    keys = [F.date_format("o_orderdate", "yyyy-MM").alias("month"), F.col("o_orderstatus")]
    base = partial_rollup(
        orders.filter(F.col("o_orderdate") < _CUTOFF), keys, ["o_totalprice"]
    )
    delta = partial_rollup(
        orders.filter(F.col("o_orderdate") >= _CUTOFF), keys, ["o_totalprice"]
    )
    state = merge_rollups([base, delta], ["month", "o_orderstatus"], ["o_totalprice"])
    return finish_rollup(state, ["o_totalprice"]).select(
        "month",
        "o_orderstatus",
        F.col("row_cnt").alias("order_cnt"),
        F.col("o_totalprice_total").alias("revenue_total"),
        F.col("o_totalprice_avg").alias("revenue_avg"),
    )


# ---------------------------------------------------------------------------
# Grouped closed-form OLS trend
# ---------------------------------------------------------------------------

_TREND_ORACLE = """
WITH daily AS (
  SELECT n.n_name AS nation,
         CAST(date_diff('day', DATE '1995-01-01', o.o_orderdate) AS BIGINT) AS x,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
mo AS (
  SELECT nation,
         COUNT(*) AS n_days,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(rev) AS DOUBLE) AS sy,
         CAST(SUM(CAST(rev * CAST(x AS DECIMAL(10,0)) AS DECIMAL(38,6))) AS DOUBLE) AS sxy
  FROM daily
  GROUP BY 1
)
SELECT nation, n_days,
       ROUND((n_days * sxy - sx * sy) / (n_days * sxx - sx * sx), 6) AS slope,
       ROUND((sy - ((n_days * sxy - sx * sy) / (n_days * sxx - sx * sx)) * sx) / n_days, 6)
         AS intercept
FROM mo
"""


@query("trend_slope_per_nation", oracle=_TREND_ORACLE, tags=("agg", "stats", "regression"))
def trend_slope_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: ordinary-least-squares slope and
    intercept of daily revenue against the day index, in closed form
    from one pass of exact moments (n, Σx, Σx² as BIGINTs; Σy, Σxy as
    exact decimal sums cast to double once). The final slope/intercept
    are then single IEEE expressions over engine-identical operands —
    the corr_moments_stats determinism discipline extended to
    regression, ROUND(·, 6) absorbing the one cross-engine
    decimal→double cast above 1e13 (Σxy).

    Scale: two shuffles total — daily grain, then nation grain —
    both bounded by their own output; no window, no per-group sort.
    regr_slope exists in both engines but its internal accumulation
    order is engine-private; the explicit-moments form is what makes
    the result reproducible.
    """
    orders, customer, nation = _t(spark, sf_dir, "orders", "customer", "nation")
    daily = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
            .cast("long")
            .alias("x"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
            .cast("decimal(25,6)")
            .alias("rev")
        )
    )
    mo = daily.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("rev").cast("double").alias("sy"),
        F.sum((F.col("rev") * F.col("x").cast("decimal(10,0)")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return mo.select(
        "nation",
        "n_days",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n_days"), 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Robust winsorization / scaling
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH s AS (
  SELECT quantile_cont(o_totalprice, 0.01) AS p01,
         quantile_cont(o_totalprice, 0.99) AS p99,
         quantile_cont(o_totalprice, 0.5)  AS med
  FROM orders
),
d AS (
  SELECT o.o_orderstatus, o.o_totalprice, s.p01, s.p99, s.med,
         abs(o.o_totalprice - s.med) AS adev
  FROM orders o CROSS JOIN s
),
m AS (SELECT quantile_cont(adev, 0.5) AS mad FROM d),
z AS (
  SELECT d.o_orderstatus,
         CASE WHEN d.o_totalprice < d.p01 OR d.o_totalprice > d.p99
              THEN 1 ELSE 0 END AS clipped,
         (least(greatest(d.o_totalprice, d.p01), d.p99) - d.med) / (1.4826 * m.mad) AS rz
  FROM d CROSS JOIN m
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(clipped) AS BIGINT) AS n_clipped,
       ROUND(CAST(SUM(CAST(rz AS DECIMAL(25,9))) AS DOUBLE) / COUNT(*), 6) AS avg_robust_z,
       ROUND(MAX(abs(rz)), 6) AS max_abs_z
FROM z
GROUP BY 1
"""


@query("feature_winsorize_robust", oracle=_WINSOR_ORACLE, tags=("features", "quantile", "robust"))
def feature_winsorize_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature scaling for training data: winsorize order totals at
    the exact global p01/p99, then robust z-score against the global
    median/MAD (1.4826·MAD ≈ σ under normality), rolled up per order
    status. The scalars ride broadcast 1-row frames (the q11/q20
    pattern — never a data-grain global window); the per-row z is a
    handful of IEEE ops on engine-identical scalars, summed through a
    DECIMAL(25,9) cast so partial-aggregation order can't show.

    Scale (ENFORCED, not prescribed): the exact global percentile is
    a single-task value-vector reduce, so the form is chosen by
    ``operators/quantiles.choose_quantile_form`` — one profiling count
    per session (the session cache keeps the count, and the form is
    re-chosen from it on every call), then exact (oracle-bit-identical)
    below EXACT_VALUE_LIMIT values, approx_percentile's mergeable
    sketch above it. The registered scales resolve to exact; a 100 TB
    run never builds the single-buffer plan. Every downstream expression
    is form-agnostic.
    """
    orders = load_table(spark, sf_dir, "orders")
    form = choose_quantile_form(cached(
        spark, sf_dir, "quantile_n:orders.o_totalprice",
        lambda: max_group_count(orders, "o_totalprice"),
    ))
    s = orders.agg(
        quantile_expr("o_totalprice", 0.01, form).alias("p01"),
        quantile_expr("o_totalprice", 0.99, form).alias("p99"),
        quantile_expr("o_totalprice", 0.5, form).alias("med"),
    )
    d = orders.crossJoin(F.broadcast(s)).withColumn(
        "adev", F.abs(F.col("o_totalprice") - F.col("med"))
    )
    m = d.agg(quantile_expr("adev", 0.5, form).alias("mad"))
    z = d.crossJoin(F.broadcast(m)).select(
        "o_orderstatus",
        F.when(
            (F.col("o_totalprice") < F.col("p01")) | (F.col("o_totalprice") > F.col("p99")), 1
        )
        .otherwise(0)
        .alias("clipped"),
        (
            (F.least(F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99")) - F.col("med"))
            / (F.lit(1.4826) * F.col("mad"))
        ).alias("rz"),
    )
    return z.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("clipped").cast("long").alias("n_clipped"),
        F.round(
            F.sum(F.col("rz").cast("decimal(25,9)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_robust_z"),
        F.round(F.max(F.abs(F.col("rz"))), 6).alias("max_abs_z"),
    )


# ---------------------------------------------------------------------------
# Morton / Z-order layout cells
# ---------------------------------------------------------------------------

def _zorder_oracle() -> str:
    morton = morton16_sql("px", "py", "duckdb")
    return f"""
WITH b AS (
  SELECT least(CAST(floor(o_totalprice / 2000) AS BIGINT), 255) AS px,
         greatest(least(CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) // 10, 255), 0) AS py,
         o_totalprice
  FROM orders
),
mz AS (SELECT {morton} AS morton, o_totalprice FROM b)
SELECT morton >> 8 AS cell,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue
FROM mz
GROUP BY 1
"""


@query("zorder_layout_cells", oracle=_zorder_oracle(), tags=("layout", "bitwise", "agg"))
def zorder_layout_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order data-layout key: bucket the two most-queried order
    dimensions (price to 2000-wide bands, order date to 10-day bands,
    both 8-bit), interleave them into a 16-bit Morton code with the
    mask-shift bit spread (functions/layout.py — identical integer
    expression shape on both engines), and profile occupancy per
    256-cell prefix. Writing files in Morton order of this key keeps
    per-file min/max tight on BOTH axes, so a price-band × date-band
    predicate prunes files on either dimension — the ZORDER BY layout
    clustering, from plain bitwise expressions.

    tests/test_functions.py pins the interleave against a bit-by-bit
    Python reference, and tests/test_bucketing.py measures the
    locality claim: under a 2-D box predicate, Morton-ordered chunks
    touch strictly fewer files than key-ordered chunks on the same
    data. Map-side exact: one shuffle at the 256-cell output grain.
    """
    orders = load_table(spark, sf_dir, "orders")
    b = orders.select(
        F.least(F.floor(F.col("o_totalprice") / 2000).cast("long"), F.lit(255)).alias("px"),
        # ~43% of TPC-H orders predate the 1995-01-01 epoch; clamp at 0
        # so py honors the layout's documented 0..255 bucket contract
        # instead of relying on both engines truncating toward zero and
        # &255 wrapping identically.
        F.greatest(
            F.least(
                (F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).cast("long") / 10)
                .cast("long"),
                F.lit(255),
            ),
            F.lit(0),
        ).alias("py"),
        "o_totalprice",
    )
    mz = b.select(
        F.expr(morton16_sql("px", "py", "spark")).alias("morton"), "o_totalprice"
    )
    return mz.groupBy(F.shiftright(F.col("morton"), 8).alias("cell")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias("revenue"),
    )


def _zorder_skipping_oracle() -> str:
    morton = morton16_sql("px", "py", "duckdb")
    return f"""
WITH b AS (
  SELECT least(CAST(floor(o_totalprice / 2000) AS BIGINT), 255) AS px,
         greatest(least(CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) // 10, 255), 0) AS py
  FROM orders
),
mz AS (SELECT {morton} AS morton, px, py FROM b)
SELECT morton >> 10 AS cell,
       COUNT(*) AS n_rows,
       MIN(px) AS px_min, MAX(px) AS px_max,
       MIN(py) AS py_min, MAX(py) AS py_max,
       NOT (MAX(px) >= 40 AND MIN(px) <= 80
            AND MAX(py) >= 100 AND MIN(py) <= 140) AS prunable
FROM mz
GROUP BY 1
"""


@query(
    "zorder_file_skipping",
    oracle=_zorder_skipping_oracle(),
    tags=("layout", "skipping", "agg"),
)
def zorder_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The file-skipping DECISION over a Z-ordered layout:
    storage.zorder_manifest computes the per-cell (per-file) min/max
    envelopes of both layout dimensions — the manifest a lakehouse
    reader consults — and each cell gets the prunable verdict for a
    fixed 2-D box predicate (price band 40..80 × date band 100..140),
    using the envelope-miss rule composed across dimensions: skippable
    iff EITHER envelope misses its conjunct.

    Complements zorder_layout_cells (occupancy of the same layout):
    this face proves the skipping math end to end cross-engine.
    Map-side exact; one shuffle at the 64-cell grain.
    """
    from pythondataingestionprocess_spark.storage import zorder_manifest

    orders = load_table(spark, sf_dir, "orders")
    b = orders.select(
        F.least(F.floor(F.col("o_totalprice") / 2000).cast("long"), F.lit(255)).alias("px"),
        # ~43% of TPC-H orders predate the 1995-01-01 epoch; clamp at 0
        # so py honors the layout's documented 0..255 bucket contract
        # instead of relying on both engines truncating toward zero and
        # &255 wrapping identically.
        F.greatest(
            F.least(
                (F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).cast("long") / 10)
                .cast("long"),
                F.lit(255),
            ),
            F.lit(0),
        ).alias("py"),
    )
    manifest = zorder_manifest(b, "px", "py", cell_bits=6)
    overlaps = (
        (F.col("px_max") >= 40) & (F.col("px_min") <= 80)
        & (F.col("py_max") >= 100) & (F.col("py_min") <= 140)
    )
    return manifest.select(
        "cell", "n_rows", "px_min", "px_max", "py_min", "py_max",
        (~overlaps).alias("prunable"),
    )
