#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload olap_cold --seed 1 --seconds 10 --trace 0

Makes the workload's inputs from the seed, computes the expected
outputs, then runs the workload in a fresh worker process (its own
JVM) and checks every operation's output. Prints a detail line (every
end-to-end metric that applies to the workload, with units, sample
counts and host context), then, as the last line, the JSON result
``{"correct", "attempted", "failed", "metrics"}`` with the metrics
BENCHMARK.json lists: the end-to-end ones for ``--trace 0``, the
per-layer ones for ``--trace 1``. The full record, including the span
tree of a traced run, is written to ``perfbench/out/``.

Exits non-zero without a result when the program under test is absent
or a run fails to complete. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import procfs
from worker import LAYER_UNITS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pythondataingestionprocess_spark"
WORKLOADS = ("olap_cold", "corpus_session", "ingest_workbooks", "stream_dedup")
RUN_TIMEOUT_S = 170
RSS_POLL_S = 0.5
GROUP_EXIT_WAIT_S = 5


# ---- host context ------------------------------------------------------------

def cpu_times() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


class PeakRss(threading.Thread):
    """Polls the worker's process tree and keeps the peak resident size."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self._done = pid, 0, threading.Event()

    def run(self) -> None:
        while not self._done.wait(RSS_POLL_S):
            self.peak = max(self.peak, procfs.pss_bytes(procfs.tree_pids(self.pid)))

    def stop(self) -> None:
        self._done.set()
        self.join()


# ---- metrics -----------------------------------------------------------------

def tail_latency(lat: list[float]) -> tuple[float, int] | None:
    """The highest whole percentile with at least 10 samples above it,
    as (value, percentile); None below 20 samples."""
    n = len(lat)
    if n < 20:
        return None
    pct = math.floor(100 * (n - 10) / n)
    return sorted(lat)[math.ceil(pct / 100 * n) - 1], pct


def end_to_end(spec: dict, res: dict, setup_s: float, peak_rss: int, attempted: int, failed: int) -> dict:
    """Every end-to-end metric that applies to the workload: name ->
    (value, unit)."""
    w, out, facts = spec["workload"], res["out"], res["facts"]
    lat = [o["latency_s"] for o in out["ops"]]
    wall = out["wall_s"]
    m = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "latency_p50_s": (statistics.median(lat) if lat else float("nan"), "s"),
        "failed_ratio": (failed / attempted, "1"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    tail = tail_latency(lat)
    if tail:
        m["latency_tail_s"] = (tail[0], "s")
    if w in ("olap_cold", "corpus_session"):
        m["queries_per_s"] = (len(lat) / wall, "1/s")
    if w == "ingest_workbooks":
        m["rows_per_s"] = (facts["rows"] / wall, "rows/s")
    if w == "stream_dedup":
        m["docs_per_s"] = (out["docs"] / wall, "docs/s")
    if w in ("ingest_workbooks", "stream_dedup"):
        m["write_amp"] = (out["bytes_written"] / spec["input_bytes"], "1")
        m["space_amp"] = (out["live_bytes"] / spec["input_bytes"], "1")
    return m


def load_metric_lists() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench["end_to_end"], bench["per_layer"]


# ---- one run -----------------------------------------------------------------

def spawn_worker(work: str, spec: dict) -> tuple[dict, float, int]:
    """Run the worker to completion; returns (result, set-up seconds,
    peak tree RSS). Raises RuntimeError when it fails or times out."""
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(os.environ)
    # Python workers import the package by module path whatever the cwd
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    env["SPARK_GRAFT_CPUS"] = spec["host"]["spark_graft_cpus"]
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        rss = PeakRss(proc.pid)
        rss.start()
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            rss.stop()
            proc.kill()
            proc.wait()
            # the worker's session group holds the JVM and Python workers:
            # stop them all and wait (bounded) until the group is gone
            deadline = time.time() + GROUP_EXIT_WAIT_S
            while time.time() < deadline:
                try:
                    os.killpg(proc.pid, 9)
                except ProcessLookupError:
                    break
                time.sleep(0.05)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(result_path) as f:
        res = json.load(f)
    return res, res["ready_time"] - spawn, rss.peak


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test scale (sf0.001, small files)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: damage one expected output; the checks must fail it")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    e2e_list, layer_list = load_metric_lists()
    nproc = len(os.sched_getaffinity(0))
    host = {
        "nproc": nproc,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS") or str(nproc),
        "loadavg_1m_start": os.getloadavg()[0],
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-tiny' if args.tiny else ''}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpu0 = cpu_times()
    try:
        spec = workloads.prepare(args.workload, work, args.seed, args.seconds, args.tiny)
        if args.corrupt_expected:
            workloads.corrupt_expected(spec)
        spec.update(
            root=ROOT, trace=args.trace, host=host,
            spark_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            },
        )
        try:
            res, setup_s, peak_rss = spawn_worker(work, spec)
        except RuntimeError as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cpu1 = cpu_times()
    d = [b - a for a, b in zip(cpu0, cpu1)]
    host.update(loadavg_1m_end=os.getloadavg()[0], cpu_steal_share=d[7] / sum(d) if sum(d) else 0.0)

    ops = res["out"]["ops"]
    attempted = max(workloads.planned_ops(spec), len(ops))
    failed = sum(1 for o in ops if o.get("problem")) + attempted - len(ops)
    e2e = end_to_end(spec, res, setup_s, peak_rss, attempted, failed)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": bool(args.trace), "tiny": args.tiny,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "samples": len(ops),
        "latency_tail_pct": (tail_latency([o["latency_s"] for o in ops]) or (None, None))[1],
        "host": host, "setup": res["setup"], "size": spec["size"],
        "problems": {o["name"]: o["problem"] for o in ops if o.get("problem")},
    }
    if args.trace:
        detail["layers"] = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in res["layers"].items()}
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"{tag}.json"), "w") as f:
        json.dump({**detail, "ops": ops, "facts": res["facts"], "spans": res.get("spans")}, f,
                  indent=1, default=str)
    print(json.dumps(detail, default=str))

    if args.trace:
        chosen = {m["name"]: (res["layers"][m["name"]], m["unit"]) for m in layer_list}
    else:
        # end-to-end metrics are those every workload reports (see README)
        chosen = {m["name"]: (e2e[m["name"]][0], m["unit"]) for m in e2e_list}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
