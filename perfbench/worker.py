"""The measured process: one workload in a fresh Python process and JVM.

``run.py`` starts it as ``python3 worker.py <spec.json>`` after the
inputs and expected outputs exist, and reads ``result.json`` from the
same directory when it exits. Set-up (imports, ``session.get_spark``,
one warm-up action) ends at ``ready_time``; the timed phase follows,
then the output checks.
"""

from __future__ import annotations

import json
import os
import sys
import time

# imported during set-up, per workload: the layers its timed phase calls
LAYER_IMPORTS = {
    "olap_cold": ["pythondataingestionprocess_spark.plans"],
    "corpus_session": ["pythondataingestionprocess_spark.plans"],
    "ingest_workbooks": ["pythondataingestionprocess_spark.sources.workbook",
                         "pythondataingestionprocess_spark.pipeline.ingest"],
    "stream_dedup": ["pythondataingestionprocess_spark.streaming.file_ingest",
                     "pythondataingestionprocess_spark.streaming.dedup_ingest"],
}
# every per-layer metric of a traced run, with its unit
LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "plans.build_s": "s",
    "plans.build_share": "1",
    "plans.build_jobs": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.codegen_n": "count",
    "spark.codegen_ms": "ms",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.scan_bytes": "B",
    "spark.gc_ms": "ms",
    "spark.python_bytes": "B",
    "spark.cached_rdds": "count",
    "spark.cached_bytes": "B",
    "sources.read_workbook_s": "s",
    "sources.rows_decoded": "rows",
    "pipeline.ingest_batch_s": "s",
    "pipeline.stage_s": "s",
    "pipeline.store.read_s": "s",
    "pipeline.store.insert_if_absent_s": "s",
    "pipeline.store.append_s": "s",
    "pipeline.store.overwrite_s": "s",
    "pipeline.store.bytes_written": "B",
    "pipeline.store.files_written": "count",
    "pipeline.store.live_bytes": "B",
    "pipeline.store.live_files": "count",
    "pipeline.rows_staged_ratio": "1",
    "streaming.batch_fn_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.overhead_s": "s",
    "streaming.planning_ms": "ms",
    "streaming.store_bytes": "B",
    "streaming.pairs_emitted": "count",
    "streaming.planted_recall": "1",
    "trace.overhead_s": "s",
}
STORE_SPANS = ("pipeline.store.read", "pipeline.store.insert_if_absent",
               "pipeline.store.append", "pipeline.store.overwrite")


def warm_up(spark) -> None:
    """The fixed warm-up action; it shares no plan with any workload."""
    spark.range(0, 1_000_000, 1, 4).selectExpr("id % 101 AS k").groupBy("k").count().collect()


def layer_metrics(tracer, spec: dict, out: dict, facts: dict, setup: dict) -> dict[str, float]:
    """The per-layer metrics of a traced run (``LAYER_UNITS`` names)."""
    w = spec["workload"]
    c = tracer.counts
    op_time = sum(o["latency_s"] for o in out["ops"])
    build_s = tracer.total("plans.build")
    ingest_s = tracer.total("pipeline.ingest_batch")
    by_id = {s["id"]: s for s in tracer.spans}
    store_top = sum(s["end"] - s["start"] for s in tracer.spans if s["name"] in STORE_SPANS
                    and (s["parent"] is None or by_id[s["parent"]]["name"] not in STORE_SPANS))
    stream = out["ops"] if w == "stream_dedup" else []
    ingest = w == "ingest_workbooks"
    m = {
        "session.start_s": setup["session_s"],
        "catalog.load_table_calls": tracer.calls("catalog.load_table"),
        "catalog.load_table_s": tracer.total("catalog.load_table"),
        "plans.build_s": build_s,
        "plans.build_share": build_s / op_time if op_time else 0.0,
        "sources.read_workbook_s": tracer.total("sources.read_workbook"),
        "sources.rows_decoded": facts.get("rows_decoded", 0),
        "pipeline.ingest_batch_s": ingest_s,
        "pipeline.stage_s": ingest_s - store_top,
        "pipeline.store.bytes_written": out.get("bytes_written", 0) if ingest else 0,
        "pipeline.store.files_written": out.get("files_written", 0) if ingest else 0,
        "pipeline.store.live_bytes": out.get("live_bytes", 0) if ingest else 0,
        "pipeline.store.live_files": out.get("live_files", 0) if ingest else 0,
        "pipeline.rows_staged_ratio": facts["rows_staged"] / facts["rows"] if facts.get("rows") else 0.0,
        "streaming.batch_fn_s": tracer.total("streaming.batch_fn"),
        "streaming.batches": len(stream),
        "streaming.trigger_s": sum(o["latency_s"] for o in stream),
        "streaming.overhead_s": sum(o["latency_s"] - o["add_batch_s"] for o in stream),
        "streaming.planning_ms": sum(o["planning_ms"] for o in stream),
        "streaming.store_bytes": out.get("sig_bytes", 0),
        "streaming.pairs_emitted": facts.get("pairs", 0),
        "streaming.planted_recall": (facts["planted_found"] / facts["planted_strong"]
                                     if facts.get("planted_strong") else 0.0),
        "trace.overhead_s": tracer.overhead_s,
    }
    for name in STORE_SPANS:
        m[name + "_s"] = tracer.self_total(name)
    for name in ("plans.build_jobs", "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks",
                 "spark.task_failures", "spark.codegen_n", "spark.codegen_ms",
                 "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.scan_bytes",
                 "spark.gc_ms", "spark.python_bytes", "spark.cached_rdds", "spark.cached_bytes"):
        m[name] = c.get(name, 0.0)
    return m


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    t0 = time.perf_counter()
    import importlib

    from pythondataingestionprocess_spark.session import get_spark

    for mod in LAYER_IMPORTS[spec["workload"]]:
        importlib.import_module(mod)
    t1 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{spec['workload']}", extra_conf=spec["spark_conf"])
    t2 = time.perf_counter()
    warm_up(spark)
    ready = time.time()
    setup = {"imports_s": t1 - t0, "session_s": t2 - t1, "warm_up_s": time.perf_counter() - t2}

    import workloads
    from tracing import NullTracer, Tracer

    tracer = Tracer(spark) if spec["trace"] else NullTracer()
    if spec["trace"]:
        tracer.wrap_catalog()
    out = workloads.run(spec["workload"], spark, spec, tracer)
    facts = workloads.check(spec["workload"], spec, out)
    result = {"ready_time": ready, "setup": setup, "out": out, "facts": facts}
    if spec["trace"]:
        result["layers"] = layer_metrics(tracer, spec, out, facts, setup)
        result["spans"] = tracer.span_tree()
    with open(os.path.join(os.path.dirname(spec_path), "result.json"), "w") as f:
        json.dump(result, f, default=str)
    # exit at once: the parent stops the JVM and the Python workers with
    # the process group
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    main(sys.argv[1])
