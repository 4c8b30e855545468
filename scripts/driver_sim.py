"""Simulate the driver's CORRECTNESS pass: for every registered query run
the Spark plan AND the DuckDB oracle at sf0.01, compare rows/schema/values,
and print per-query wall time split (spark vs oracle vs compare).

Usage: python scripts/driver_sim.py [sf_dir] [name_filter ...]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pythondataingestionprocess_spark.oracle import (  # noqa: E402
    frame_hash_check,
    duckdb_connect,
)
from pythondataingestionprocess_spark.plans import REGISTRY  # noqa: E402
from pythondataingestionprocess_spark.session import get_spark  # noqa: E402

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
only = set(sys.argv[2:])

spark = get_spark()
con = duckdb_connect(sf_dir)


total = 0.0
results = {}
for name, spec in REGISTRY.items():
    if only and name not in only:
        continue
    t0 = time.monotonic()
    err = None
    try:
        sdf = spec.fn(spark, sf_dir).toPandas()
        t_spark = time.monotonic() - t0
        if spec.oracle is not None:
            t1 = time.monotonic()
            odf = con.execute(spec.oracle).fetchdf()
            t_oracle = time.monotonic() - t1
            rows_match, schema_match, hash_match = frame_hash_check(sdf, odf)
        else:
            t_oracle = 0.0
            rows_match = len(sdf) >= 0
            schema_match = hash_match = None
    except Exception as e:
        t_spark = time.monotonic() - t0
        t_oracle = 0.0
        rows_match = schema_match = hash_match = False
        err = f"{type(e).__name__}: {e}"[:300]
    dt = time.monotonic() - t0
    total += dt
    status = "OK " if (hash_match or (hash_match is None and rows_match)) else "FAIL"
    results[name] = {
        "rows_match": rows_match,
        "schema_match": schema_match,
        "hash_match": hash_match,
        "err": err,
    }
    print(
        f"{total:8.1f}  {dt:6.2f}s (sp {t_spark:5.2f} or {t_oracle:5.2f})  {status} {name}"
        + (f"  ERR {err}" if err else ""),
        flush=True,
    )

n_bad = sum(
    1
    for r in results.values()
    if r["err"] or r["hash_match"] is False
)
print(json.dumps({"total_sec": round(total, 1), "n": len(results), "n_bad": n_bad}))
