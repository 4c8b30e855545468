"""Mirror of the driver's t2 check: every registered query vs its
DuckDB oracle at sf0.001 (driver runs sf0.01). Stricter than the
driver — exact canonical-value equality."""

from __future__ import annotations

import pytest

from pythondataingestionprocess_spark.oracle import check_query, frame_hash_check
from pythondataingestionprocess_spark.plans import REGISTRY


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, sf_dir, name):
    problems = check_query(spark, sf_dir, name)
    assert not problems, f"{name}: {problems}"


def test_rows_only_queries_run(spark, sf_dir):
    """Queries without an oracle must still execute and return a schema."""
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            df = spec.fn(spark, sf_dir)
            assert df.columns, name
            assert df.count() >= 0, name


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert "flagship_revenue_by_nation" in q


def test_frame_hash_check_orders_and_tolerance():
    """The value-hash comparison ignores row and column order, rounds
    floats to 9 decimals (1e-12 apart matches, 1e-6 apart does not)
    and fails on a row-count difference."""
    import pandas as pd

    base = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0],
                         "s": ["a", "b", "c"]})
    assert frame_hash_check(base, base) == (True, True, True)
    shuffled = base.iloc[[2, 0, 1]][["s", "v", "k"]]
    assert frame_hash_check(base, shuffled) == (True, True, True)
    assert frame_hash_check(base, base.assign(v=base["v"] + 1e-12)) == (
        True, True, True)
    assert frame_hash_check(base, base.assign(v=base["v"] + 1e-6)) == (
        True, True, False)
    assert frame_hash_check(base, base.iloc[:2]) == (False, True, False)
    assert frame_hash_check(base, base.rename(columns={"s": "t"})) == (
        True, False, False)


def test_pagerank_ranks_sum_near_one(spark, sf_dir):
    """PageRank invariant: with every nation holding out-edges (no
    dangling mass), ranks stay a probability distribution — the sum
    after 3 damped iterations is 1 up to decimal-rounding dust."""
    from pythondataingestionprocess_spark.plans import REGISTRY

    rows = REGISTRY["pagerank_nations"].fn(spark, sf_dir).collect()
    assert len(rows) == 25
    total = sum(r.pagerank for r in rows)
    assert abs(total - 1.0) < 1e-6
    assert all(r.pagerank > 0 for r in rows)
