"""Profile-driven exact-vs-sketch percentile choice.

Spark's exact ``percentile`` aggregate accumulates every (value,
count) of a group into ONE final merge buffer — a sorted interpolation
needs the whole group's values in a single task. For bounded groups
that is the right (and oracle-exact) plan; for an unbounded group (a
global percentile over a fact column, or a grouped percentile whose
largest group scales with the fact table) it is a driver-memory-shaped
cliff: ~6.8 MB of single-task value vector at sf0.1 grows to ~0.7 GB
at sf10 and keeps going.

``approx_percentile`` is the scale-safe alternative — t-digest-style
mergeable sketch state, constant per-task memory, declared rank-error
bound — but it is NOT bit-identical to the exact interpolation, so a
query whose oracle demands exact values cannot switch unconditionally.

``max_group_count`` + ``choose_quantile_form`` resolve the trade by
profiling the data with one cheap aggregate (the deciding statistic
lives in the DATA — max per-group value count — where Catalyst's stats
cannot see it), then picking the physical form. Below the limit the exact
aggregate runs and matches the oracle bit-for-bit; above it the sketch
runs and the single-buffer plan is never built. The profile pass is
map-side partial-aggregated (a count shuffle of |groups| rows),
trivially amortized against the percentile pass it guards.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Default per-group value-count bound for the exact form. The exact
# aggregate's final merge buffer holds one (value, count) entry per
# DISTINCT value of the group — ≤ 16 bytes × n plus hash-map overhead,
# so 20M values ≈ a few hundred MB in one task: near the sane ceiling
# for a 4-8 GB executor, far below any 100 TB column. sf0.1's largest
# inputs here are ~600k rows — exact (and oracle-matching) with 30×
# headroom; a sf10+ run crosses the limit and takes the sketch.
EXACT_VALUE_LIMIT = 20_000_000

# approx_percentile accuracy: rank error ≤ 1/accuracy. 1e4 ⇒ ±0.01%
# rank error with ~10k-entry sketch state per group — the Spark
# default, restated here so callers see the trade explicitly.
SKETCH_ACCURACY = 10_000


def max_group_count(
    df: DataFrame, value_col: str, group_cols: tuple[str, ...] = ()
) -> int:
    """Non-null ``value_col`` values in the largest percentile group
    (the whole frame when ``group_cols`` is empty). One profiling
    aggregate; the result is a table statistic, so plan call sites keep
    it in the session cache instead of re-running the count job."""
    counted = df.filter(F.col(value_col).isNotNull())
    if group_cols:
        per_group = counted.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("n")
        )
        row = per_group.agg(F.max("n").alias("n")).first()
    else:
        row = counted.agg(F.count(F.lit(1)).alias("n")).first()
    return row["n"] if row and row["n"] is not None else 0


def choose_quantile_form(n: int, exact_limit: int | None = None) -> str:
    """``"exact"`` when the largest percentile group holds at most
    ``exact_limit`` values (module EXACT_VALUE_LIMIT when None —
    resolved at call time so tests can lower it), else ``"sketch"``.
    ``n`` is ``max_group_count`` of the percentile input."""
    if exact_limit is None:
        exact_limit = EXACT_VALUE_LIMIT
    return "exact" if n <= exact_limit else "sketch"


def quantile_expr(
    value_col: str,
    prob: float,
    form: str,
    accuracy: int = SKETCH_ACCURACY,
) -> Column:
    """The percentile aggregate Column for the chosen ``form``.

    exact  → ``percentile(col, p)``: sorted interpolation, full group
             in one merge buffer, bit-identical to the SQL oracles.
    sketch → ``approx_percentile(col, p, accuracy)``: mergeable sketch,
             constant task memory, rank error ≤ 1/accuracy.
    """
    if form == "exact":
        return F.expr(f"percentile({value_col}, {prob!r})")
    if form == "sketch":
        return F.expr(
            f"approx_percentile({value_col}, {prob!r}, {accuracy})"
        ).cast("double")
    raise ValueError(f"unknown quantile form {form!r}")
