"""Profile-driven exact-vs-sketch percentile switch (r7 VERDICT #1).

The exact ``percentile`` aggregate reduces a whole group's values into
ONE merge buffer — correct and oracle-bit-identical for bounded
groups, a memory cliff for unbounded ones. ``operators/quantiles``
profiles the data and picks the form; these tests pin (a) the choice
at both scales, (b) sketch-path numeric sanity, and (c) that the two
formerly-weak registered queries actually route through the switch —
their plans flip to approx_percentile when the limit is lowered, so
no registered plan carries an unguarded single-buffer percentile.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.catalog import load_table
from pythondataingestionprocess_spark.operators import quantiles as q

SF_DIR = "/root/testdata/sf0.001"


def test_chooses_exact_below_limit(spark):
    orders = load_table(spark, SF_DIR, "orders")
    assert q.choose_quantile_form(q.max_group_count(orders, "o_totalprice")) == "exact"
    lineitem = load_table(spark, SF_DIR, "lineitem")
    n = q.max_group_count(lineitem, "l_extendedprice", ("l_returnflag",))
    assert q.choose_quantile_form(n) == "exact"


def test_chooses_sketch_above_limit(spark):
    orders = load_table(spark, SF_DIR, "orders")
    n_orders = q.max_group_count(orders, "o_totalprice")
    assert q.choose_quantile_form(n_orders, exact_limit=10) == "sketch"
    # grouped: the LARGEST group decides, not the total
    lineitem = load_table(spark, SF_DIR, "lineitem")
    n_max = (
        lineitem.groupBy("l_returnflag").count().agg(F.max("count")).first()[0]
    )
    n = q.max_group_count(lineitem, "l_extendedprice", ("l_returnflag",))
    assert n == n_max
    assert q.choose_quantile_form(n, exact_limit=n_max - 1) == "sketch"
    assert q.choose_quantile_form(n, exact_limit=n_max) == "exact"


def test_nulls_do_not_count_toward_the_limit(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, None), (4, 2.0)], "id long, v double"
    )
    n = q.max_group_count(df, "v")
    assert n == 2
    assert q.choose_quantile_form(n, exact_limit=2) == "exact"
    assert q.choose_quantile_form(n, exact_limit=1) == "sketch"


def test_sketch_form_is_numerically_close(spark):
    """approx_percentile at the default accuracy must land within the
    declared rank-error bound of the exact interpolation on a real
    column (here: well under 0.1% of the value range)."""
    orders = load_table(spark, SF_DIR, "orders")
    row = orders.agg(
        q.quantile_expr("o_totalprice", 0.5, "exact").alias("e"),
        q.quantile_expr("o_totalprice", 0.5, "sketch").alias("s"),
        F.max("o_totalprice").alias("hi"),
        F.min("o_totalprice").alias("lo"),
    ).first()
    assert abs(row["e"] - row["s"]) <= 0.001 * (row["hi"] - row["lo"])


def test_unknown_form_rejected():
    with pytest.raises(ValueError, match="unknown quantile form"):
        q.quantile_expr("x", 0.5, "exactish")


@pytest.mark.parametrize(
    "qname", ["feature_winsorize_robust", "percentile_cont_prices"]
)
def test_registered_queries_route_through_the_switch(spark, qname, monkeypatch):
    """The enforcement pin: with the limit lowered beneath the test
    tables' sizes, the registered query's plan must carry
    approx_percentile and NO exact percentile aggregate — proof the
    switch is wired in, not just available. (At the real limit the
    same plans run exact and hash-match the DuckDB oracle — covered
    by the driver sim.)"""
    from pythondataingestionprocess_spark.plans import REGISTRY

    monkeypatch.setattr(q, "EXACT_VALUE_LIMIT", 5)
    df = REGISTRY[qname].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "approx_percentile" in plan
    assert "percentile(" not in plan.replace("approx_percentile(", "")
    # and the sketch-form query still executes end-to-end
    assert df.count() > 0


@pytest.mark.parametrize(
    "qname", ["feature_winsorize_robust", "percentile_cont_prices"]
)
def test_registered_queries_run_exact_at_registered_scale(spark, qname):
    from pythondataingestionprocess_spark.plans import REGISTRY

    df = REGISTRY[qname].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "approx_percentile" not in plan
    assert "percentile(" in plan
