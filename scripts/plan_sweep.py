"""Anti-pattern sweep over EVERY registered query's physical plan.

Builds (never executes) the plan for all registry entries at the given
sf dir and flags the scale killers:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — O(n*m) joins;
  only sanctioned where the build side is a scalar or declared-small
  frame (``NESTED_LOOP_OK``). An allowance whose plan no longer holds
  such a node is stale and fails the sweep too, so the list cannot
  outlive the joins it excuses.
- ``BatchEvalPython`` — row-at-a-time Python in the plan; never
  sanctioned in a registered query (Arrow ``ArrowEvalPython`` /
  ``FlatMapGroupsInPandas`` / ``MapInPandas`` are the sanctioned
  vectorized escapes and are counted separately for visibility).

The hand-written plan guards in tests/test_plans.py pin the DESIGNED
shape of ~30 flagship queries; this sweep is the broad tripwire that
catches a regression sneaking into any of the other ~150 (e.g. a
refactor dropping a broadcast hint and resurrecting a nested-loop
join). Run per round; exits non-zero on any unsanctioned hit.

Usage: python scripts/plan_sweep.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pythondataingestionprocess_spark.plans import REGISTRY  # noqa: E402
from pythondataingestionprocess_spark.session import get_spark  # noqa: E402

# Queries allowed to carry a nested-loop/cartesian node, reviewed by
# hand, each of which must carry one: scalar-broadcast joins, where
# the build side is a 1-row (or contract-small) aggregate attached
# under a non-equi or conditionless join, so the "nested loop" is one
# broadcast row probed per input row, O(n): Q11's value-fraction
# threshold, the idle-segment scalar gate, tf-idf's corpus N, BM25's
# avgdl, winsorize's clamp scalars, and brute-kNN's declared-small
# query side (its only non-scalar member — the small side is the
# operator's documented contract).
NESTED_LOOP_OK = {
    "q11_important_parts",
    "idle_customers_segment",
    "embedding_knn_brute",
    "embedding_ann_recall",  # brute side = the same declared-small
    # query-set broadcast as embedding_knn_brute (the LSH side joins
    # on equi bucket keys and carries no nested-loop node)
    "text_tfidf_top_terms",
    "feature_winsorize_robust",
    "bm25_retrieval_topk",
    "events_distinct_users_sketch",  # the ALL certificate row: a
    # 1-row hll_union_agg frame crossJoined with the 1-row exact
    # distinct-count frame — both sides are global aggregates
}

NESTED_LOOP = ("CartesianProduct", "BroadcastNestedLoopJoin")
ANTI = (*NESTED_LOOP, "BatchEvalPython")
VECTORIZED = ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas")

# Queries allowed to run a no-partition window over NON-aggregate
# input, reviewed by hand. equidepth_price_bands exists to pin the
# global-NTILE shape itself: its docstring documents that a global
# NTILE is a single-partition sort, wrong in a hot path, and names the
# scale path (quantile_disc cut points + width_bucket join, both
# registered). Everything else must put global windows above an
# aggregate at bounded grain (r8 VERDICT item 4).
GLOBAL_WINDOW_OK = {
    "equidepth_price_bands",
}

# Physical window nodes that sort/buffer a single partition when the
# partitionSpec is empty; "Aggregate" substring matches HashAggregate /
# ObjectHashAggregate / SortAggregate.
_WINDOW_NODES = ("Window", "WindowInPandas", "WindowGroupLimit")


def _walk(node):
    yield node
    # AQE and query-stage wrappers hold their subtree outside
    # children(); unwrap so the wrapped plan is traversed too.
    for unwrap in ("initialPlan", "plan"):
        try:
            inner = getattr(node, unwrap)()
        except Exception:
            continue
        yield from _walk(inner)
        break
    children = node.children()
    for i in range(children.length()):
        yield from _walk(children.apply(i))


def _global_windows_over_raw_input(df) -> list[str]:
    """r8 VERDICT item 4: a no-partition WindowExec serializes the
    whole input through ONE task — acceptable ONLY over aggregate-grain
    rows (a grouped result bounded by its own key domain), never over
    raw scan rows. Returns the node names of global windows whose
    input subtree contains no aggregate — the scale-killer shape."""
    jplan = df._jdf.queryExecution().executedPlan()
    if "Window" not in jplan.toString():
        return []
    bad = []
    for node in _walk(jplan):
        name = node.nodeName()
        if not any(name.startswith(w) for w in _WINDOW_NODES):
            continue
        try:
            if not node.partitionSpec().isEmpty():
                continue
        except Exception:
            continue
        has_agg = any(
            "Aggregate" in child.nodeName() for child in _walk(node)
        )
        if not has_agg:
            bad.append(name)
    return bad


def sweep(spark, sf_dir: str) -> dict:
    """Build every registered plan; return {unsanctioned,
    stale_allowance, vectorized_python, global_window_raw, n_queries,
    wall_sec}. Shared by the CLI below and tests/test_plan_sweep.py, so
    the sanctioning policy lives once. The NESTED_LOOP_OK whitelist
    excuses ONLY nested-loop nodes — a BatchEvalPython hit is never
    sanctioned, whitelist or not — and an entry whose plan has no
    nested-loop node is reported as stale."""
    bad: dict[str, list[str]] = {}
    stale: list[str] = []
    vec: dict[str, list[str]] = {}
    gw: dict[str, list[str]] = {}
    t0 = time.monotonic()
    for name, spec in REGISTRY.items():
        df = spec.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = [a for a in ANTI if a in plan]
        if name in NESTED_LOOP_OK:
            if not any(h in NESTED_LOOP for h in hits):
                stale.append(name)
            hits = [h for h in hits if h not in NESTED_LOOP]
        if hits:
            bad[name] = hits
        v = [a for a in VECTORIZED if a in plan]
        if v:
            vec[name] = v
        if name not in GLOBAL_WINDOW_OK:
            raw_gw = _global_windows_over_raw_input(df)
            if raw_gw:
                gw[name] = raw_gw
    return {
        "n_queries": len(REGISTRY),
        "wall_sec": round(time.monotonic() - t0, 1),
        "unsanctioned": bad,
        "stale_allowance": stale,
        "vectorized_python": vec,
        "global_window_raw": gw,
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    out = sweep(spark, sf_dir)
    print(json.dumps(out, indent=1))
    return 1 if out["unsanctioned"] or out["stale_allowance"] or out["global_window_raw"] else 0


if __name__ == "__main__":
    sys.exit(main())
