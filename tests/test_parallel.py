"""Scan-parallelism guard (operators/parallel.py::rebalance_scan).

The fix targets exactly one failure mode: a single-split input (one
parquet row group, a gzip blob) whose CPU-dense map stage would
otherwise run on one core. The guard must (a) lift partitioning to
the session's parallelism in that case, (b) align the shuffle with
the downstream groupBy key so the plan's total exchange count is
UNCHANGED, and (c) be an exact no-op — no added plan nodes — when the
input is already parallel.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from pythondataingestionprocess_spark.catalog import load_table
from pythondataingestionprocess_spark.operators import dedup as dd
from pythondataingestionprocess_spark.operators.parallel import rebalance_scan

SF_DIR = "/root/testdata/sf0.001"


def _n_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange hashpartitioning", plan))


def test_single_split_scan_is_lifted_to_parallelism(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    assert docs.rdd.getNumPartitions() == 1  # the small-file premise
    out = rebalance_scan(docs, "doc_id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # same rows, same content
    assert out.count() == docs.count()


def test_already_parallel_input_is_untouched(spark):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, numPartitions=target + 4).withColumn(
        "text", F.concat(F.lit("doc "), F.col("id").cast("string"))
    )
    out = rebalance_scan(wide, "id")
    assert out is wide  # identity, not merely equivalent


def test_keyed_rebalance_does_not_add_an_exchange(spark):
    """The shuffle must REPLACE the groupBy exchange, not precede it:
    hash partitioning on the key satisfies the aggregation's required
    distribution, so grouped-agg-over-rebalanced has exactly as many
    exchanges as grouped-agg-over-raw (one)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    agg_raw = docs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    agg_reb = (
        rebalance_scan(docs, "doc_id")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert _n_exchanges(agg_raw) == 1
    assert _n_exchanges(agg_reb) == 1


def test_signature_stage_exchange_count_unchanged(spark):
    """End-to-end pin on the LSH signature stage: its plan carries
    exactly one hash exchange. ``rebalance_scan`` shuffles the
    pre-explode text rows on ``doc_id``, so no exchange sits between
    the shingle explode and the per-id ``min`` aggregation, and a
    map-side ``partial_min`` before a shuffle does not apply. The band
    bucket groupBy downstream is counted in the bucketing tests."""
    docs = load_table(spark, SF_DIR, "documents")
    banded = dd._signatures_banded(
        docs, "doc_id", "text",
        shingle_n=3, num_hashes=64, bands=16, seed=42,
    )
    assert _n_exchanges(banded) == 1  # the one keyed exchange on doc_id
    assert banded.count() > 0


def test_minhash_outputs_identical_across_partitionings(spark):
    """Value-stability: the LSH pair list must not depend on how the
    input was split (rebalanced single-file scan vs a pre-repartitioned
    frame vs the raw scan)."""
    docs = load_table(spark, SF_DIR, "documents")
    base = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    pre = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(
            docs.repartition(7, "doc_id"), "doc_id", "text"
        ).collect()
    }
    assert base == pre


def test_gzip_text_source_single_split_is_rebalanced(spark, tmp_path):
    """The guard's second motivating case: a gzip text/JSON file is
    UNSPLITTABLE (codec, not row groups), so however large, it scans
    as one task — rebalance_scan lifts the CPU stage behind it."""
    import gzip
    import json

    path = tmp_path / "docs.json.gz"
    with gzip.open(path, "wt") as f:
        for i in range(2000):
            f.write(json.dumps({"doc_id": i, "text": f"doc {i} body words"}) + "\n")

    df = spark.read.schema("doc_id long, text string").json(str(path))
    assert df.rdd.getNumPartitions() == 1  # the unsplittable premise
    out = rebalance_scan(df, "doc_id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 2000


def test_file_source_probe_never_converts_to_rdd(spark, monkeypatch):
    """r7 ADVICE: for file-backed inputs the probe must come from the
    logical plan's file index (inputFiles), never a physical-plan→RDD
    conversion — that conversion cost ~0.1 s of driver time per
    signature build and bypassed AQE for the subtree."""
    from pyspark.sql import DataFrame

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    def _boom(self):
        raise AssertionError("rebalance_scan forced a plan→RDD conversion")

    monkeypatch.setattr(DataFrame, "rdd", property(_boom))
    out = rebalance_scan(docs, "doc_id")
    # still rebalances the single-file scan, decided from metadata only
    assert "repartitionbyexpression" in out._jdf.queryExecution().logical().toString().lower()
