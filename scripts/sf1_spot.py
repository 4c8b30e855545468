"""sf1 spot check: the standing 10x-scale gate.

Generates the sf1 corpus if absent (scripts/gen_sf.py, seed-42
deterministic, ~13 s), then runs a fixed cross-family sample of
headline queries BOTH ways — Spark plan and DuckDB oracle on the same
files — comparing row counts, schemas, and value hashes with
``oracle.frame_hash_check``, like scripts/driver_sim.py. This is the
cheap tripwire for magnitude-dependent cliffs (for example, DuckDB's
two-rounding decimal→double cast diverging at 17 significant digits —
invisible at sf0.1, fatal at sf1).

Prints ONE JSON line: {"sf1_spot": {"n": .., "n_bad": ..,
"total_sec": ..}, "queries": {name: sec}}. Run on a quiet host; the
wall numbers feed BASELINE.md's sf1 ledger, the n_bad gate is the
point.

Usage: python scripts/sf1_spot.py [--dir /tmp/sf1] [--names q1 q2 ...]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Cross-family fixed sample: star join, Q1/Q2 shapes, asof, session,
# dedup (minhash + containment), ANN + recall, text, packing, graph,
# window, and the dec_sum-heavy aggregates that expose decimal-cast
# cliffs.
DEFAULT_NAMES = [
    "flagship_revenue_by_nation",
    "pricing_summary",
    "q2_min_cost_supplier",
    "q18_large_volume_customers",
    "events_asof_last_click",
    "events_sessionize_manual",
    "dedup_minhash_lsh",
    "embedding_knn_brute",
    "embedding_ann_recall",
    "text_strip_boilerplate",
    "doc_packing_shards",
    "trend_slope_per_nation",
    "forward_fill_locf",
    # oracle-basis faces: the capped symmetric-delete replay
    # (the cap BINDS at sf1 — this is the only standing gate that
    # exercises the bound branch at scale), the snapshot-store change
    # feed (real commit protocol + exactly-once replay at 1.5M-row
    # grain), and the PQ ADC full replay (plateau ordering at sf1 is
    # what caught the unordered-SUM ulp bug at registration).
    "fuzzy_join_symdelete",
    "snapshot_change_feed",
    "embedding_ann_pq",
]

ap = argparse.ArgumentParser()
ap.add_argument("--dir", default="/tmp/sf1")
ap.add_argument("--names", nargs="+", default=None)
args = ap.parse_args()

if not os.path.exists(os.path.join(args.dir, "lineitem.parquet")):
    sf = os.path.basename(args.dir).removeprefix("sf") or "1"
    subprocess.run(
        [sys.executable,
         os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen_sf.py"),
         "--sf", sf, "--out", args.dir],
        check=True,
    )

from pythondataingestionprocess_spark.oracle import (  # noqa: E402
    frame_hash_check,
    duckdb_connect,
)
from pythondataingestionprocess_spark.plans import REGISTRY  # noqa: E402
from pythondataingestionprocess_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="pdip-spark-sf1spot")
con = duckdb_connect(args.dir)


names = args.names or DEFAULT_NAMES
out: dict[str, float] = {}
n_bad = 0
t_total = time.monotonic()
for name in names:
    spec = REGISTRY.get(name)
    if spec is None:
        print(f"# skipped (not registered): {name}", file=sys.stderr)
        continue
    t0 = time.monotonic()
    try:
        sdf = spec.fn(spark, args.dir).toPandas()
        ok = True
        if spec.oracle is not None:
            odf = con.execute(spec.oracle).fetchdf()
            ok = all(frame_hash_check(sdf, odf))
        status = "OK" if ok else "FAIL"
    except Exception as e:  # noqa: BLE001 — per-query verdict, keep going
        ok, status = False, f"ERR {type(e).__name__}: {e}"[:160]
    dt = round(time.monotonic() - t0, 2)
    out[name] = dt
    n_bad += 0 if ok else 1
    print(f"  {dt:7.2f}s {status} {name}", file=sys.stderr, flush=True)

print(json.dumps({
    "sf1_spot": {
        "n": len(out),
        "n_bad": n_bad,
        "total_sec": round(time.monotonic() - t_total, 1),
        "dir": args.dir,
    },
    "queries": out,
}))
sys.exit(1 if n_bad else 0)
