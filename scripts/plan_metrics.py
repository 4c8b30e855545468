"""Per-query physical metrics from executed plans (measure, don't
guess): shuffle bytes, spills, scan volume for the bench headline set.

Walks the AQE-final plan via py4j and sums SQL metrics per category.
Usage: python scripts/plan_metrics.py [sf_dir] [query ...]
Prints one JSON line per query:
  {"query": ..., "shuffle_write_bytes": N, "spill_bytes": N,
   "scan_files": N, "scan_bytes": N, "peak_mem_bytes": N}
A nonzero spill at bench SF, or scan_bytes far above the table's column
subset, is a plan bug to chase — these are the numbers the plan-shape
guards can't see.

Caveat: queries whose operators localCheckpoint internally (the CC
loop) report ~zero — the checkpoint truncates the returned frame's
lineage, so its QueryExecution covers only the final stage. Measure
those via their component pipelines.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pythondataingestionprocess_spark.plans import REGISTRY  # noqa: E402
from pythondataingestionprocess_spark.session import get_spark  # noqa: E402

DEFAULT_QUERIES = [
    "flagship_revenue_by_nation",
    "pricing_summary",
    "dedup_minhash_lsh",
    "dedup_groups_cc",
    "text_contamination_check",
    "fuzzy_join_symdelete",
    "events_session_window",
    "revenue_share_top_customers",
    "q21_waiting_suppliers",
    "q13_order_count_distribution",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q18_large_volume_customers",
    "dedup_containment",
    "events_funnel_watermark",
    "stream_static_revenue_rollup",
    "q9_profit_by_nation_year",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q12_lateness_priority",
    "events_pattern_match",
    "events_decayed_feature",
    "events_resample_interpolate",
    "corpus_curation_filter",
    "text_bpe_pair_counts",
    "events_next_event_training",
    "corpus_build_pipeline",
    # copurchase_triangles is left out: its operator localCheckpoints
    # internally (see Caveat above)
    "incremental_agg_maintenance",
    "trend_slope_per_nation",
    "feature_winsorize_robust",
    "zorder_layout_cells",
    "pii_pseudonymize_vault",
    "unpivot_charge_components",
    "hierarchical_revenue_share",
    "window_edge_values",
    "corpus_block_dedup",
    "doc_chunking_overlap",
    "inverted_index_postings",
    "train_val_test_split",
    "corpus_weighted_sample",
    "inverted_index_incremental",
    "bm25_retrieval_topk",
    "corpus_temperature_mix",
]


def walk(node):
    yield node
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from walk(node.executedPlan())
        return
    if "QueryStage" in name:  # Shuffle/BroadcastQueryStageExec wrap a plan
        yield from walk(node.plan())
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from walk(ch.apply(i))


def collect_metrics(df) -> dict[str, int]:
    agg = {
        "shuffle_write_bytes": 0,
        "shuffle_records": 0,
        "spill_bytes": 0,
        "scan_files": 0,
        "scan_bytes": 0,
        "peak_mem_bytes": 0,
    }
    seen = set()
    for n in walk(df._jdf.queryExecution().executedPlan()):
        if n.id() in seen:  # ReusedExchange shares the node
            continue
        seen.add(n.id())
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, v = kv._1(), kv._2().value()
            if not v or v < 0:
                continue
            if key == "shuffleBytesWritten":
                agg["shuffle_write_bytes"] += v
            elif key == "shuffleRecordsWritten":
                agg["shuffle_records"] += v
            elif "spill" in key.lower() and "size" in key.lower():
                agg["spill_bytes"] += v
            elif key == "numFiles":
                agg["scan_files"] += v
            elif key == "filesSize":
                agg["scan_bytes"] += v
            elif key == "peakMemory":
                agg["peak_mem_bytes"] = max(agg["peak_mem_bytes"], v)
    return agg


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or DEFAULT_QUERIES
    spark = get_spark()
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        # collect() (not a noop write) so THIS DataFrame's QueryExecution
        # runs — a write command wraps the plan in its own QE and leaves
        # these metrics zeroed.
        df.collect()
        out = {"query": name, **collect_metrics(df)}
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
