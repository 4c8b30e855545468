"""Registry-wide plan anti-pattern sweep (scripts/plan_sweep.py).

The hand-written guards in test_plans.py pin the designed shape of
the flagship queries; this sweep is the broad tripwire over EVERY
registered query: no CartesianProduct / BroadcastNestedLoopJoin
outside the hand-reviewed scalar-broadcast whitelist (each entry of
which must still carry one), no
row-at-a-time BatchEvalPython anywhere, and the vectorized-Python
surface (Arrow / grouped-pandas) stays exactly the sanctioned set.
"""

from __future__ import annotations

import importlib.util
import sys

spec = importlib.util.spec_from_file_location(
    "plan_sweep", "/root/repo/scripts/plan_sweep.py"
)
plan_sweep = importlib.util.module_from_spec(spec)
sys.modules["plan_sweep"] = plan_sweep
spec.loader.exec_module(plan_sweep)

from pythondataingestionprocess_spark.plans import REGISTRY  # noqa: E402

SANCTIONED_VECTORIZED = {
    "doc_packing_greedy",
    "multimodal_decode_stats",
    "multimodal_frame_sample",
    "dedup_embedding_cosine",
    "embedding_ann_lsh",
    "embedding_ann_ivf",
    # the incremental twin of dedup_embedding_cosine: one
    # ArrowEvalPython computing the batch's hyperplane signs/norms
    "dedup_cosine_incremental",
    # PQ/ADC search: a numpy LUT kernel over Arrow batches of
    # array<smallint> codes; everything around it is relational
    "embedding_ann_pq",
    # the rank-dict BPE tokenizer past MAX_EXPR_MERGES: closure-shipped
    # greedy merging in MapInPandas over Arrow batches
    "text_bpe_tokenize_vectorized",
    # real media decode: two MapInPandas stages (blob synthesis from
    # doc_id, then the decoders over Arrow batches of binary) feeding a
    # plain grouped aggregate
    "multimodal_real_decode_roundtrip",
    # the ANN recall certificate runs the registered LSH path, whose
    # bucket assignment is the GEMM pandas_udf similarity._buckets_udf
    "embedding_ann_recall",
}

SF_DIR = "/root/testdata/sf0.001"


def test_no_unsanctioned_plan_antipatterns_anywhere(spark):
    out = plan_sweep.sweep(spark, SF_DIR)
    assert out["unsanctioned"] == {}, out["unsanctioned"]
    # every nested-loop allowance still excuses a nested-loop node
    assert out["stale_allowance"] == [], out["stale_allowance"]
    assert set(out["vectorized_python"]) == SANCTIONED_VECTORIZED
    # r8 VERDICT item 4: every no-partition WindowExec must sit above
    # an aggregate (bounded grain) — a global window over raw scan
    # rows single-threads the whole input and is never sanctioned.
    assert out["global_window_raw"] == {}, out["global_window_raw"]
    assert out["n_queries"] == len(REGISTRY)
    # whitelists must not rot: every entry still registered
    assert plan_sweep.NESTED_LOOP_OK <= set(REGISTRY)
    assert plan_sweep.GLOBAL_WINDOW_OK <= set(REGISTRY)


def test_global_window_detector_catches_raw_input(spark):
    """The detector itself must fire on the anti-shape: a global
    row_number over raw rows (no aggregate below) is flagged; the
    same window over an aggregate-grain input is not."""
    from pyspark.sql import Window, functions as F

    raw = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    assert plan_sweep._global_windows_over_raw_input(raw) == ["Window"]

    agged = (
        spark.range(100)
        .groupBy((F.col("id") % 5).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(Window.orderBy("g")))
    )
    assert plan_sweep._global_windows_over_raw_input(agged) == []
