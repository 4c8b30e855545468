"""Spans and Spark counters for the traced run.

The tracer times calls into the package's layers from outside: the
benchmark wraps each operation and each layer call it makes in a span,
tags the operation's Spark jobs with a job group, and reads the engine
underneath through its public status APIs (status tracker, status
store, SQL status store, ``CodegenMetrics``/``CodeGenerator``, GC
MXBeans, ``getRDDStorageInfo``). Spans stay in memory until the run
ends. Untraced runs use :class:`NullTracer`, whose hooks do nothing.
"""

from __future__ import annotations

import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "pythondataingestionprocess_spark"

# SQL metric names of the Arrow bytes crossing the Python-worker boundary
PYTHON_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")
# the local properties SparkContext.setJobGroup sets
_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)")
_PY_METRIC_RE = re.compile(
    r"SQLPlanMetric\((?:%s),(\d+)," % "|".join(re.escape(n) for n in PYTHON_BYTES_METRICS))


def parse_size(text: str) -> float:
    """Bytes from a formatted SQL size metric. A metric updated by one
    task reads ``"1.2 KiB"``; by several, ``"total (min, med, max ...)
    \\n1.2 KiB (...)"`` — the first size is the total either way."""
    m = _SIZE_RE.search(text)
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


class NullTracer:
    """The untraced run's tracer: every hook is free."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield

    @contextmanager
    def op(self, name: str, **attrs):
        yield

    @contextmanager
    def phase(self, name: str):
        yield


class Tracer(NullTracer):
    """Spans ``{id, parent, op, name, start, end}`` plus per-operation
    Spark counters, summed into ``self.counts`` under the per-layer
    metric names. Time spent in the tracer's own bookkeeping while an
    operation is open is summed into ``self.overhead_s``."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._status = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._codegen_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._gc = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._n_ops = 0
        self.counts: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0

    # ---- spans -------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "op": self._op, "name": name, "start": time.perf_counter(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def phase(self, name: str):
        """A span whose Spark jobs carry their own job group, so the
        jobs launched while building a plan can be told apart from the
        jobs that execute it."""
        group = f"perfbench-{self._op}-{name}"
        with self._job_group(group, name), self.span(name) as rec:
            rec["job_group"] = group
            yield rec

    @contextmanager
    def op(self, name: str, **attrs):
        """One operation (query, workbook batch or micro-batch): a root
        span, a job group, and counter deltas read at its edges."""
        t0 = time.perf_counter()
        self._op = self._n_ops
        self._n_ops += 1
        group = f"perfbench-{self._op}"
        before = self._jvm_counters()
        first_exec = self._sql.executionsCount()
        self.overhead_s += time.perf_counter() - t0
        try:
            with self._job_group(group, name), self.span(name, **attrs) as rec:
                rec["job_group"] = group
                yield rec
        finally:
            t1 = time.perf_counter()
            self._collect(rec, group, before, first_exec)
            self._op = None
            self.overhead_s += time.perf_counter() - t1

    @contextmanager
    def _job_group(self, group: str, description: str):
        """Tag the jobs this thread starts inside with ``group``, then
        restore the thread's previous job group. A micro-batch callback
        runs on the stream's thread, whose own group must survive."""
        saved = [self.sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS]
        self.sc.setJobGroup(group, description)
        try:
            yield
        finally:
            for k, v in zip(_JOB_GROUP_PROPS, saved):
                self.sc.setLocalProperty(k, v)

    # ---- Spark counters ----------------------------------------------

    def _jvm_counters(self) -> tuple[float, float, float]:
        return (
            float(self._codegen_hist.getCount()),
            self._codegen.compileTime() / 1e6,
            float(sum(g.getCollectionTime() for g in self._gc)),
        )

    def _job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def _collect(self, rec: dict, group: str, before, first_exec: int) -> None:
        after = self._jvm_counters()
        groups = [group] + [s["job_group"] for s in self.spans
                            if s["op"] == rec["op"] and "job_group" in s and s is not rec]
        jobs = sorted({j for g in groups for j in self._job_ids(g)})
        build_jobs = sum(len(self._job_ids(s["job_group"])) for s in self.spans
                         if s["op"] == rec["op"] and s["name"] == "plans.build")
        stages = tasks = failures = shuffle = spill = scan = 0
        intervals = []
        for jid in jobs:
            job = self._status.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            for sid in self._conv.asJava(job.stageIds()):
                st = self._status.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += st.numCompleteTasks()
                failures += st.numFailedTasks()
                shuffle += st.shuffleWriteBytes()
                spill += st.diskBytesSpilled()
                scan += st.inputBytes()
        python_bytes = 0.0
        n_exec = self._sql.executionsCount()
        if n_exec > first_exec:
            for ex in self._conv.asJava(self._sql.executionsList(int(first_exec), int(n_exec - first_exec))):
                # one py4j call for the whole metric list (case-class text)
                wanted = [int(a) for a in _PY_METRIC_RE.findall(ex.metrics().toString())]
                if wanted:
                    values = self._sql.executionMetrics(ex.executionId())
                    for a in wanted:
                        v = values.get(a)
                        if v.isDefined():
                            python_bytes += parse_size(v.get())
        cached_rdds = cached_bytes = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            if info.numCachedPartitions() > 0:
                cached_rdds += 1
                cached_bytes += info.memSize() + info.diskSize()
        per_op = {
            "spark.jobs": len(jobs), "spark.stages": stages, "spark.tasks": tasks,
            "spark.task_failures": failures, "spark.exec_s": _union_ms(intervals) / 1e3,
            "spark.codegen_n": after[0] - before[0], "spark.codegen_ms": after[1] - before[1],
            "spark.gc_ms": after[2] - before[2], "spark.shuffle_write_bytes": shuffle,
            "spark.spill_bytes": spill, "spark.scan_bytes": scan,
            "spark.python_bytes": python_bytes, "plans.build_jobs": build_jobs,
        }
        rec["counts"] = per_op
        for k, v in per_op.items():
            self.counts[k] += v
        # cache state is a level, not a flow: keep the peak over ops
        self.counts["spark.cached_rdds"] = max(self.counts["spark.cached_rdds"], cached_rdds)
        self.counts["spark.cached_bytes"] = max(self.counts["spark.cached_bytes"], cached_bytes)

    # ---- layer hooks ---------------------------------------------------

    def wrap_catalog(self) -> None:
        """Span every ``catalog.load_table`` call. Plan modules bind the
        function at import, so each loaded package module's reference
        is replaced, not only the catalog's own."""
        from pythondataingestionprocess_spark import catalog

        orig = catalog.load_table

        def load_table(*args, **kwargs):
            with self.span("catalog.load_table"):
                return orig(*args, **kwargs)

        for name, mod in list(sys.modules.items()):
            if name == PACKAGE or name.startswith(PACKAGE + "."):
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, load_table)

    # ---- summaries -----------------------------------------------------

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - child[s["id"]] for s in self.spans]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_total(self, name: str) -> float:
        selfs = self.self_times()
        return sum(selfs[s["id"]] for s in self.spans if s["name"] == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def span_tree(self) -> list[dict]:
        """Spans with times relative to the first span, for the artifact."""
        if not self.spans:
            return []
        t0 = self.spans[0]["start"]
        selfs = self.self_times()
        out = []
        for s, self_s in zip(self.spans, selfs):
            rec = {k: v for k, v in s.items() if k not in ("start", "end")}
            rec.update(start_s=round(s["start"] - t0, 6), dur_s=round(s["end"] - s["start"], 6),
                       self_s=round(self_s, 6))
            out.append(rec)
        return out


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals (jobs may overlap)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)
