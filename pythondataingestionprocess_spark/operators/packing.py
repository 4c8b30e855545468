"""Document packing: assign documents to fixed-token-budget training
shards — the step between a cleaned corpus and a pretraining dataloader
(sequence packing à la T5/GPT data pipelines).

Two semantics, both deterministic:

- ``shard_by_offset``: a document belongs to the shard its cumulative
  START offset falls in (documents may straddle a boundary — the
  tokenizer-side chunker handles the split). Pure window arithmetic:
  one shuffle on the grouping key, no Python — and SQL-expressible, so
  it is oracle-checked.
- ``pack_documents_greedy``: whole-document first-fit-in-order bins
  (a doc never straddles; a bin closes when the next doc doesn't fit).
  Inherently a sequential state machine per group — implemented as
  ``applyInPandas`` (Arrow-batched, one group per task). The per-group
  sequential scan is the algorithm, not a Spark limitation; groups
  (sources / shard-families) are the parallelism unit at 100 TB, so
  skew = one giant group — pre-split pathological groups upstream.

Oracle note: greedy bin state can't be written as a window aggregate
(bin boundary depends on all prior decisions, not a prefix sum), and
DuckDB would need a recursive CTE over row numbers; registered
rows-only with property tests instead (tests/test_llm_operators.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def shard_by_offset(
    df: DataFrame,
    group_col: str,
    order_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Adds ``shard_id`` (0-based, per group) + ``start_offset``.

    shard_id = floor(start_offset / budget) where start_offset is the
    running token count of all PRIOR documents in (group, order).
    """
    # token_col tiebreak: order_col duplicates across a multi-source
    # union would otherwise make the running sum (and thus shard_id)
    # partition-order nondeterministic; rows tying on
    # both keys contribute identical token counts, so every tie order
    # yields the same start_offset multiset
    w = (
        W.partitionBy(group_col)
        .orderBy(order_col, token_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return df.withColumn("start_offset", start).withColumn(
        "shard_id", (F.col("start_offset") / F.lit(budget)).cast("long")
    )


def pack_documents_greedy(
    df: DataFrame,
    group_col: str,
    order_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Whole-document greedy packing per group: scan documents in
    ``order_col`` order, open a new bin whenever the current doc would
    overflow ``budget``. A doc larger than the budget gets a bin of its
    own (never dropped — the caller filters oversized docs if needed).

    Output: (group_col, order_col, token_col, bin_id, bin_fill) with
    bin_id 0-based per group and bin_fill the bin's running token sum
    including this doc.
    """
    narrow = df.select(group_col, order_col, token_col)
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in narrow.schema.fields)
        + ", bin_id long, bin_fill long"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf[token_col].isna().any():
            raise ValueError(
                f"{token_col} contains NULL in group "
                f"{pdf[group_col].iloc[0]!r} — packing needs a token "
                f"count per doc (filter or impute upstream)"
            )
        # (order_col, token_col) sort with a STABLE kind: order_col
        # ties across shuffle-ordered input would make bin assignment
        # nondeterministic; rows tying on BOTH keys are
        # column-identical here, so the output multiset is total-order
        # deterministic
        pdf = pdf.sort_values(
            [order_col, token_col], kind="mergesort", ignore_index=True
        )
        bins, fills = greedy_bins([int(t) for t in pdf[token_col]], budget)
        out = pdf[[group_col, order_col, token_col]].copy()
        out["bin_id"] = bins
        out["bin_fill"] = fills
        return out

    return narrow.groupBy(group_col).applyInPandas(pack, schema=out_schema)


def greedy_bins(tokens: list[int], budget: int) -> tuple[list[int], list[int]]:
    """The sequential packing core (pure, engine-free — property-tested
    directly): returns per-doc (bin_id, running bin fill). A doc that
    would overflow a non-empty bin opens the next; a doc alone may
    exceed the budget (caller filters oversized docs if unacceptable).
    """
    bin_id, fill = 0, 0
    bins: list[int] = []
    fills: list[int] = []
    for tok in tokens:
        if fill > 0 and fill + tok > budget:
            bin_id, fill = bin_id + 1, 0
        fill += tok
        bins.append(bin_id)
        fills.append(fill)
    return bins, fills
