#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (sf0.001, a few small files).

    python3 perfbench/selftest.py [workload ...]

For each workload (all four by default) it checks that:

- an untraced run prints, on its last line, exactly the keys
  ``correct attempted failed metrics`` and every end-to-end metric of
  BENCHMARK.json with its unit, and on the line before it every
  end-to-end metric that applies to the workload, with its unit;
- a traced run prints every per-layer metric of BENCHMARK.json with its
  unit on its last line, every per-layer metric of ``worker.LAYER_UNITS``
  with its unit on the detail line, and writes a span tree;
- both runs pass their output checks;
- a run whose expected output is deliberately corrupted reports
  ``failed_ratio`` above 0 and ``correct`` false.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

from run import HERE, ROOT, WORKLOADS
from worker import LAYER_UNITS

ALWAYS = ("setup_s", "wall_s", "latency_p50_s", "failed_ratio", "peak_rss_mb")
APPLIES = {
    "olap_cold": ("queries_per_s",),
    "corpus_session": ("queries_per_s",),
    "ingest_workbooks": ("rows_per_s", "write_amp", "space_amp"),
    "stream_dedup": ("docs_per_s", "write_amp", "space_amp"),
}


def run(workload: str, *flags: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--tiny", *flags]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_metrics(got: dict, wanted: list[dict], where: str) -> list[str]:
    errors = []
    if set(got) != {m["name"] for m in wanted}:
        errors.append(f"{where}: metrics {sorted(got)} != {sorted(m['name'] for m in wanted)}")
    for m in wanted:
        v = got.get(m["name"])
        if not v or v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)) \
                or not math.isfinite(v["value"]):
            errors.append(f"{where}: {m['name']} missing, non-finite or not in {m['unit']}: {v}")
    return errors


def check_workload(w: str, bench: dict) -> list[str]:
    errors = []
    detail, final = run(w, "--trace", "0")
    if set(final) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{w}: last line keys {sorted(final)}")
    errors += check_metrics(final["metrics"], bench["end_to_end"], f"{w} trace 0")
    for name in ALWAYS + APPLIES[w]:
        v = detail["metrics"].get(name)
        if not v or not v.get("unit"):
            errors.append(f"{w}: detail line lacks {name} with a unit")
    if not final["correct"] or final["failed"]:
        errors.append(f"{w}: untraced run failed its checks: {detail['problems']}")

    detail, final = run(w, "--trace", "1")
    errors += check_metrics(final["metrics"], bench["per_layer"], f"{w} trace 1")
    errors += check_metrics(detail["layers"], [{"name": k, "unit": u} for k, u in LAYER_UNITS.items()],
                            f"{w} trace 1 detail")
    if not final["correct"]:
        errors.append(f"{w}: traced run failed its checks: {detail['problems']}")
    with open(os.path.join(HERE, "out", f"{w}-seed7-trace1-tiny.json")) as f:
        if not json.load(f).get("spans"):
            errors.append(f"{w}: traced run wrote no spans")

    detail, final = run(w, "--trace", "0", "--corrupt-expected")
    if final["correct"] or not detail["metrics"]["failed_ratio"]["value"] > 0:
        errors.append(f"{w}: corrupted expected output was not caught")
    return errors


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    for w in argv or WORKLOADS:
        found = check_workload(w, bench)
        print(f"{w}: {'ok' if not found else 'FAILED'}", flush=True)
        errors += found
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
