"""Unit tests for the cleaning / date / URL / pricing expression
library — one case per rule branch in the reference (SURVEY.md §2.8,
FIXTURES.md §6)."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pythondataingestionprocess_spark import functions as fx


def col_vals(spark, values, expr_fn, in_type="string"):
    df = spark.createDataFrame([(v,) for v in values], schema=f"x {in_type}")
    return [r[0] for r in df.select(expr_fn(F.col("x")).alias("y")).collect()]


# ---------------------------------------------------------------- cleaning


def test_safe_float(spark):
    vals = ["93,35", " 12.5 ", "None", "none", "NONE", "nan", "", None, "abc", "7"]
    out = col_vals(spark, vals, fx.safe_float)
    assert out == [93.35, 12.5, None, None, None, None, None, None, None, 7.0]


def test_money_clean(spark):
    vals = ["$1,234.56", "  $99.00", "1,000,000.25", "None", None, "x$y"]
    out = col_vals(spark, vals, fx.money_clean)
    assert out == [1234.56, 99.0, 1000000.25, None, None, None]


def test_signed_money(spark):
    vals = ["+ $1,234.56", "- $30.38", "$0.00", "50.25-", None]
    out = col_vals(spark, vals, fx.signed_money)
    assert out == [1234.56, -30.38, 0.0, -50.25, None]


def test_normalize_null_markers(spark):
    vals = ["None", "none", "NONE", "nan", "", "  ", "ok", None]
    out = col_vals(spark, vals, fx.normalize_null_markers)
    assert out == [None, None, None, None, None, None, "ok", None]


def test_truncate_str(spark):
    out = col_vals(spark, ["a" * 600], lambda c: fx.truncate_str(c, 500))
    assert len(out[0]) == 500


@settings(max_examples=30, deadline=None)
@given(st.floats(allow_nan=False, allow_infinity=False, width=32))
def test_safe_float_roundtrip_property(spark, x):
    """Any float printed with comma-decimal parses back (idempotence of
    the cleaning rule over clean input)."""
    s = repr(float(x)).replace(".", ",")
    out = col_vals(spark, [s], fx.safe_float)
    assert out[0] == pytest.approx(float(x), rel=1e-6)


# ------------------------------------------------------------------- dates


def test_excel_serial_to_date(spark):
    out = col_vals(spark, [45369, 1, None], fx.excel_serial_to_date, in_type="bigint")
    assert out == [dt.date(2024, 3, 18), dt.date(1899, 12, 31), None]


def test_parse_stmt_date(spark):
    vals = ["17-sep-2025", "01-ene-2024", "31-dic-1999", "5-mar-2020",
            "17-xxx-2025", "not a date", None, "12-09-2024"]
    out = col_vals(spark, vals, fx.parse_stmt_date)
    assert out == [
        dt.date(2025, 9, 17), dt.date(2024, 1, 1), dt.date(1999, 12, 31),
        dt.date(2020, 3, 5), None, None, None, None,
    ]


# -------------------------------------------------------------------- urls


def test_store_name_from_url(spark):
    cases = {
        "ML": "mercadolibre",
        "https://articulo.mercadolibre.com.mx/MLM-123": "mercadolibre",
        "https://www.temu.com/mx/item.html": "temu",
        "https://es.aliexpress.com/item/100500.html": "aliexpress",
        "https://super.walmart.com.mx/ip/x/0001": "walmart",
        "https://www.amazon.com.mx/dp/B0ABC/ref=sr_1": "amazon",
        "no-scheme.com/x": None,  # urlparse yields no hostname → None
        None: None,
    }
    out = col_vals(spark, list(cases), fx.store_name_from_url)
    assert out == list(cases.values())


def test_store_name_needs_two_tokens(spark):
    # host reduces to a single token after skip-prefix filtering → None
    out = col_vals(spark, ["https://www.es.localhost"], fx.store_name_from_url)
    assert out == [None]


def test_canonicalize_provider_url(spark):
    cases = {
        # base-only tier → scheme://host
        "https://www.temu.com/mx/item.html?top=1&spm=2": "https://www.temu.com",
        "https://m.shein.com/mx/p/123.html?src=ads": "https://m.shein.com",
        "https://super.walmart.com.mx/ip/prod/000123?from=srp": "https://super.walmart.com.mx",
        # keep-path tier → scheme://host/path (query dropped)
        "https://www.ebay.com/itm/1234?hash=abc": "https://www.ebay.com/itm/1234",
        "https://es.aliexpress.com/item/100500.html?spm=a2g0o": "https://es.aliexpress.com/item/100500.html",
        # reference's keep-path list wins over its dead amazon /ref rule:
        # /ref path segment survives, query dropped (utils_tools.py:160-163)
        "https://www.amazon.com.mx/dp/B0ABC/ref=sr_1?qid=9": "https://www.amazon.com.mx/dp/B0ABC/ref=sr_1",
        # ...and over the dead articulo.→www. rewrite (utils_tools.py:165-167)
        "https://articulo.mercadolibre.com.mx/MLM-1-x?pdp=1#f": "https://articulo.mercadolibre.com.mx/MLM-1-x",
        # default tier → strip query keep path
        "https://example.shop/products/7?aff=x": "https://example.shop/products/7",
        "": None,
        None: None,
    }
    out = col_vals(spark, list(cases), fx.canonicalize_provider_url)
    assert out == list(cases.values())


def test_domain_from_url(spark):
    cases = {
        "mercadolibre": "www.mercadolibre.com.mx",
        "https://www.temu.com/mx": "www.temu.com",
        "http://EXAMPLE.com/a/b": "example.com",
        # intent of the reference's no-op replace (utils_tools.py:193-194
        # bug — documented divergence): articulo → www
        "https://articulo.mercadolibre.com.mx/MLM-1": "www.mercadolibre.com.mx",
        "garbage": None,
        None: None,
    }
    out = col_vals(spark, list(cases), fx.domain_from_url)
    assert out == list(cases.values())


# ----------------------------------------------------------------- pricing


def test_tiered_pricing_formulas(spark):
    df = spark.createDataFrame(
        [(200.0, 40.0, 2), (120.0, 60.0, 1), (100.0, 95.0, 1)],
        schema="p_tienda double, c_unit double, pzs int",
    )
    out = df.select(
        fx.calc_price("c_unit", "pzs", "p_tienda").alias("calc")
    ).collect()
    # row1: gap=160>100 → tier 1.25; (40/2)*1.25+25 = 50
    # row2: gap=60>50 → tier 1.5; 60*1.5+25 = 115
    # row3: gap=5 → tier 1.75; 95*1.75+25 = 191.25
    assert [pytest.approx(r.calc) for r in out] == [50.0, 115.0, 191.25]

    df2 = spark.createDataFrame(
        [(50.0, 40.0), (115.0, 60.0), (300.0, 95.0), (191.25, 95.0)],
        schema="calc double, c_unit double",
    )
    out2 = [r.v for r in df2.select(fx.sale_price("calc", "c_unit").alias("v")).collect()]
    # d=10 → ×1.75; d=55 → ×1.5; d=205 → ×0.95; d=96.25 → ×1.25
    assert out2 == [pytest.approx(87.5), pytest.approx(172.5),
                    pytest.approx(285.0), pytest.approx(239.0625)]


def test_quality_expectations_count_violations(spark):
    from pythondataingestionprocess_spark import quality as dq

    df = spark.createDataFrame(
        [
            (1, "F", 10.0, "1-URGENT"),
            (1, "X", -5.0, "nope"),      # dup key, bad status, range, pattern
            (None, "O", 2_000_000.0, "2-HIGH"),  # null key, range
        ],
        "k long, status string, price double, prio string",
    )
    row = dq.check(
        df,
        [
            dq.not_null("k"),
            dq.accepted_values("status", ["F", "O", "P"]),
            dq.in_range("price", 0, 1_000_000),
            dq.matches("prio", r"^[0-9]-"),
        ],
        keys=["k"],
    ).first()
    assert row["n_rows"] == 3
    assert row["not_null_k"] == 1
    assert row["accepted_values_status"] == 1
    assert row["in_range_price"] == 2
    assert row["matches_prio"] == 1
    # count_distinct ignores NULL keys, so NULL-key rows land in
    # duplicate_keys too (3 rows - 1 distinct non-null key = 2); the
    # not_null check flags them separately
    assert row["duplicate_keys"] == 2


def test_stratified_sample_fractions(spark, sf_dir):
    from pythondataingestionprocess_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    totals = {r["event_type"]: r["n"] for r in events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    sampled = events.sampleBy("event_type", {"click": 0.5, "error": 1.0}, seed=42)
    got = {r["event_type"]: r["n"] for r in sampled.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) <= {"click", "error"}  # unlisted strata dropped
    assert got["error"] == totals["error"]  # fraction 1.0 keeps all
    frac = got["click"] / totals["click"]
    assert 0.35 <= frac <= 0.65  # Bernoulli(0.5) within loose bound


def test_pii_redaction_staged_attribution(spark):
    """Emails are redacted before phones before IPs, so a dotted phone
    inside an email address counts once as email, a standalone dotted
    phone counts as phone (not as a partial IPv4 match), and nothing
    PII-shaped survives redaction."""
    from pythondataingestionprocess_spark.functions.text import (
        pii_counts,
        redact_pii,
    )

    rows = [
        (1, "reach me at 555.123.4567@mail.example.org thanks"),  # email only
        (2, "call 555.123.4567 or 555-987-6543 today"),  # two phones
        (3, "server at 10.0.3.25 and backup 192.168.0.1"),  # two IPs
        (4, "mixed: a@b.io then 111-222-3333 then 8.8.8.8"),
        (5, "clean text, no identifiers here"),
    ]
    df = spark.createDataFrame(rows, "id int, t string")
    counts = pii_counts("t")
    out = df.select(
        "id",
        counts["email"].alias("e"),
        counts["phone"].alias("p"),
        counts["ipv4"].alias("i"),
        redact_pii("t").alias("red"),
    ).collect()
    by_id = {r.id: r for r in out}
    assert (by_id[1].e, by_id[1].p, by_id[1].i) == (1, 0, 0)
    assert (by_id[2].e, by_id[2].p, by_id[2].i) == (0, 2, 0)
    assert (by_id[3].e, by_id[3].p, by_id[3].i) == (0, 0, 2)
    assert (by_id[4].e, by_id[4].p, by_id[4].i) == (1, 1, 1)
    assert (by_id[5].e, by_id[5].p, by_id[5].i) == (0, 0, 0)
    assert by_id[4].red == "mixed: <EMAIL> then <PHONE> then <IP>"
    assert by_id[5].red == rows[4][1]
    # post-redaction leftover is zero on every row
    left = df.select(redact_pii("t").alias("r")).select(
        *[c.alias(k) for k, c in pii_counts("r").items()]
    ).collect()
    assert all(r.email == r.phone == r.ipv4 == 0 for r in left)


def test_pricing_null_inputs_propagate(spark):
    """A NULL store price / unit cost must not fall through the
    when-chains into a confident default multiplier (tier 1.75; sale
    passthrough x1.0): unknown cost yields unknown price."""
    df = spark.createDataFrame(
        [(None, 200.0, 2), (300.0, None, 2), (300.0, 200.0, 2)],
        "p_tienda double, c_unit double, pzs long",
    )
    out = df.select(
        fx.tier_multiplier("p_tienda", "c_unit").alias("tier"),
        fx.calc_price("c_unit", "pzs", "p_tienda").alias("calc"),
    ).collect()
    assert out[0]["tier"] is None and out[0]["calc"] is None
    assert out[1]["tier"] is None and out[1]["calc"] is None
    assert out[2]["tier"] == 1.5  # |300-200| in the (50, 100] band
    sale = spark.createDataFrame(
        [(250.0, None), (250.0, 100.0)], "calc double, c_unit double"
    ).select(fx.sale_price("calc", "c_unit").alias("v")).collect()
    assert sale[0]["v"] is None
    assert sale[1]["v"] is not None
