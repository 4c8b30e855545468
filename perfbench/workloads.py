"""The four benchmark workloads.

Each workload has a parent-side ``prepare`` (generate the seeded inputs
and compute the expected outputs, before the measured process starts)
and a worker-side ``run`` (the timed closed loop, one client, against
the live session) followed by ``check`` (output checks, after the
timed phase). An operation is one query, one workbook batch or one
micro-batch; every operation is timed and checked on its own.

The query workloads read the sf corpus committed under ``data/``, a
byte copy of the TESTDATA.md corpus (``data/SHA256SUMS``); their seed
sets only the query order. The ingest and stream workloads generate
their inputs from the seed (``gen``).

The amount of work in a run is fixed by ``--seconds`` (same value, same
work), see ``_size``. Fixed work, rather than a deadline, keeps
throughput comparable: operations here last 0.2-20 s, and a deadline
would cut a seed-dependent subset.
"""

from __future__ import annotations

import json
import os
import pickle
import time
from datetime import date

import numpy as np

import gen

# Relational faces of the bench headline, one per plan family first, so
# every family is in the panel at any size; the seed shuffles the order.
OLAP_FACES = [
    "broadcast_dim_join",          # core_relational
    "having_large_orders",         # subqueries
    "q3_shipping_priority",        # tpch_shapes
    "window_running_total",        # windows
    "scd2_build_user_state",       # warehouse
    "events_asof_last_click",      # asof_queries
    "events_tumbling_window",      # streaming_queries
    "events_next_event_training",  # timeseries_queries
    "zorder_layout_cells",         # feature_queries
    "dq_order_reconciliation",     # cleaning_queries
    "q13_order_count_distribution",
    "topk_per_group",
    "q15_top_supplier",
    "semi_join_membership",
    "cdc_snapshot_latest",
    "stream_static_revenue_rollup",
    "q6_forecast_revenue",
    "top_orders_by_price",
    "left_join_reverse_agg",
    "q12_lateness_priority",
    "pricing_summary",
    "flagship_revenue_by_nation",
]
# LLM and corpus faces, memo-backed ones first: pass 2 of a session hits
# what pass 1 persisted.
CORPUS_FACES = [
    "dedup_minhash_lsh",       # llm_heavy: shingle + pair memos
    "copurchase_triangles",    # graph_queries: persisted edge chain
    "dedup_embedding_cosine",  # llm_heavy: Arrow GEMM pandas UDF
    "text_tfidf_top_terms",    # llm_ops
    "inverted_index_postings",  # corpus_ops
    "dedup_exact_docs",
    "text_quality_score",
    "bm25_retrieval_topk",
]
INGEST_DATE = date(2024, 6, 1)
STREAM_THRESHOLD = 0.5   # dedup_batch_fn's Jaccard threshold
PLANTED_MIN_JACCARD = 0.9


DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# Work per run at --seconds 10, the BENCHMARK.json value: ten faces put
# every plan family in the panel, two workbook batches make the store
# read back what it wrote, two micro-batches make the second read the
# signature store the first wrote. On a 4-core host their timed phases
# took a median 16 s, 31 s and 15 s (perfbench/README.md). Larger
# values scale the counts linearly.
BASE_SECONDS = 10
BASE_SIZE = {"olap_faces": 10, "corpus_faces": 3, "workbooks": 2, "stream_files": 2}
LIMIT = {"olap_faces": len(OLAP_FACES), "corpus_faces": len(CORPUS_FACES),
         "workbooks": 12, "stream_files": 20}


def _size(seconds: int, tiny: bool) -> dict:
    """Work per run as a function of ``--seconds``."""
    size = {k: max(n, min(LIMIT[k], round(n * seconds / BASE_SECONDS)))
            for k, n in BASE_SIZE.items()}
    size.update(workbook_rows=150 if tiny else 1000, stream_docs=60 if tiny else 500,
                sf_dir=os.path.join(DATA, "sf0.001" if tiny else "sf0.1"))
    return size


def _dir_stats(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every regular file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # swapped away mid-walk
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


# ---- parent side: inputs and expected outputs ----------------------------

def prepare(workload: str, work: str, seed: int, seconds: int, tiny: bool) -> dict:
    size = _size(seconds, tiny)
    rng = np.random.default_rng(seed)
    spec: dict = {"workload": workload, "seed": seed, "size": size}
    if workload in ("olap_cold", "corpus_session"):
        sf_dir = size["sf_dir"]
        faces = (OLAP_FACES[:size["olap_faces"]] if workload == "olap_cold"
                 else CORPUS_FACES[:size["corpus_faces"]])
        passes = 1 if workload == "olap_cold" else 2
        spec["sf_dir"] = sf_dir
        spec["passes"] = [[faces[i] for i in rng.permutation(len(faces))] for _ in range(passes)]
        spec["expected"] = os.path.join(work, "expected.pkl")
        _expected_frames(sf_dir, faces, spec["expected"])
        spec["input_bytes"] = sum(os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir))
    elif workload == "ingest_workbooks":
        spec["workbooks"] = gen.workbooks(
            os.path.join(work, "workbooks"), seed, size["workbooks"],
            total_rows=size["workbooks"] * size["workbook_rows"],
        )
        spec["store_root"] = os.path.join(work, "store")
        spec["input_bytes"] = sum(os.path.getsize(w["path"]) for w in spec["workbooks"])
    elif workload == "stream_dedup":
        docs = gen.stream_docs(os.path.join(work, "inbox"), seed, size["stream_files"], size["stream_docs"])
        spec["inbox"] = os.path.join(work, "inbox")
        spec["stream_root"] = os.path.join(work, "stream")
        spec["planted"] = docs["planted"]
        spec["input_bytes"] = sum(os.path.getsize(f) for f in docs["files"])
    else:
        raise KeyError(f"unknown workload {workload!r}")
    return spec


def _expected_frames(sf_dir: str, faces: list[str], path: str) -> None:
    """DuckDB oracle output for each face (the registry's own oracle SQL)."""
    from pythondataingestionprocess_spark import oracle
    from pythondataingestionprocess_spark.plans import REGISTRY

    con = oracle.duckdb_connect(sf_dir)
    frames = {n: con.sql(REGISTRY[n].oracle).df() for n in faces if REGISTRY[n].oracle}
    con.close()
    with open(path, "wb") as f:
        pickle.dump(frames, f)


def planned_ops(spec: dict) -> int:
    """Operations the run should complete; missing ones count as failed."""
    if "passes" in spec:
        return sum(len(p) for p in spec["passes"])
    if "workbooks" in spec:
        return len(spec["workbooks"])
    return spec["size"]["stream_files"]


def corrupt_expected(spec: dict) -> None:
    """Self-test hook: damage one expected output so the checks must
    count a failure."""
    w = spec["workload"]
    if w in ("olap_cold", "corpus_session"):
        with open(spec["expected"], "rb") as f:
            frames = pickle.load(f)
        name = next(n for n in spec["passes"][0] if n in frames and len(frames[n]))
        frames[name] = frames[name].iloc[:-1]
        with open(spec["expected"], "wb") as f:
            pickle.dump(frames, f)
    elif w == "ingest_workbooks":
        spec["workbooks"][0]["staged"] += 1
    else:
        spec["corrupt_text_of"] = spec["planted"][0][1]


# ---- worker side: timed loops -------------------------------------------

def run(workload: str, spark, spec: dict, tracer) -> dict:
    return {
        "olap_cold": _run_queries,
        "corpus_session": _run_queries,
        "ingest_workbooks": _run_ingest,
        "stream_dedup": _run_stream,
    }[workload](spark, spec, tracer)


def _run_queries(spark, spec: dict, tracer) -> dict:
    from pythondataingestionprocess_spark.plans import REGISTRY

    ops = []
    for p, names in enumerate(spec["passes"], start=1):
        for name in names:
            frame, error = None, None
            t0 = time.perf_counter()
            with tracer.op(f"query:{name}", query=name, pass_no=p):
                try:
                    with tracer.phase("plans.build"):
                        df = REGISTRY[name].fn(spark, spec["sf_dir"])
                    with tracer.phase("spark.collect"):
                        frame = df.toPandas()
                except Exception as e:  # counted as a failed operation
                    error = repr(e)
            ops.append({"name": name, "pass": p, "latency_s": time.perf_counter() - t0,
                        "frame": frame, "error": error})
    return {"ops": ops, "wall_s": sum(o["latency_s"] for o in ops)}


def timed_store_class(tracer):
    """``ParquetTableStore`` whose methods are traced spans. Nested
    calls (``insert_if_absent`` reads and overwrites) nest their spans,
    so per-method self times add up to the time spent in the store."""
    from pythondataingestionprocess_spark.pipeline.store import ParquetTableStore

    class TimedStore(ParquetTableStore):
        def read(self, name):
            with tracer.span("pipeline.store.read", table=name):
                return super().read(name)

        def overwrite(self, name, df):
            with tracer.span("pipeline.store.overwrite", table=name):
                return super().overwrite(name, df)

        def append(self, name, df, partition_by=None):
            with tracer.span("pipeline.store.append", table=name):
                return super().append(name, df, partition_by)

        def insert_if_absent(self, name, incoming, keys, order_col=None):
            with tracer.span("pipeline.store.insert_if_absent", table=name):
                return super().insert_if_absent(name, incoming, keys, order_col)

    return TimedStore


def _run_ingest(spark, spec: dict, tracer) -> dict:
    from pythondataingestionprocess_spark.pipeline.ingest import ingest_batch
    from pythondataingestionprocess_spark.pipeline.store import ParquetTableStore
    from pythondataingestionprocess_spark.sources import workbook as wb

    store_cls = timed_store_class(tracer) if tracer.enabled else ParquetTableStore
    store = store_cls(spark, spec["store_root"])
    files: dict[str, tuple[int, int]] = {}
    bytes_written = files_written = 0
    ops = []
    for i, book in enumerate(spec["workbooks"]):
        result, error = None, None
        t0 = time.perf_counter()
        with tracer.op(f"workbook:{i}", rows=book["rows"]):
            try:
                with tracer.span("sources.read_workbook"):
                    compras, precios, links = wb.read_workbook(spark, book["path"])
                with tracer.span("sources.prepare"):
                    compras, _ = wb.validate_columns(compras, wb.REQUIRED_COMPRAS)
                    precios, _ = wb.validate_columns(precios, wb.REQUIRED_PRECIOS)
                    compras = wb.attach_positional(wb.clean_compras(compras), links)
                    precios = wb.clean_precios(precios)
                with tracer.span("pipeline.ingest_batch"):
                    result = ingest_batch(compras, precios, store, current_date=INGEST_DATE)
            except Exception as e:  # counted as a failed operation
                error = repr(e)
        latency = time.perf_counter() - t0
        # bytes written by this batch: files new or rewritten since the
        # previous walk (outside the timed operation)
        now = _dir_stats(spec["store_root"])
        for p, st in now.items():
            if files.get(p) != st:
                bytes_written += st[0]
                files_written += 1
        files = now
        ops.append({
            "name": f"workbook:{i}", "latency_s": latency, "error": error,
            "n_input": result.n_input_rows if result else None,
            "n_staged": result.n_staged_rows if result else None,
            "precios_rows": len(links) if result else None,
        })
    return {
        "ops": ops, "wall_s": sum(o["latency_s"] for o in ops),
        "bytes_written": bytes_written, "files_written": files_written,
        "live_bytes": sum(s for s, _ in files.values()), "live_files": len(files),
    }


def _run_stream(spark, spec: dict, tracer) -> dict:
    from pythondataingestionprocess_spark.streaming import dedup_ingest, file_ingest

    root = spec["stream_root"]
    sig, pairs, ckpt = (os.path.join(root, d) for d in ("sigstore", "pairs", "checkpoint"))
    batch_fn = dedup_ingest.dedup_batch_fn(sig, pairs, threshold=STREAM_THRESHOLD)
    if tracer.enabled:
        inner = batch_fn

        def batch_fn(batch_df, batch_id):
            with tracer.op(f"microbatch:{batch_id}"):
                with tracer.span("streaming.batch_fn"):
                    inner(batch_df, batch_id)

    t0 = time.perf_counter()
    stream = file_ingest.file_stream(spark, spec["inbox"], "doc_id long, text string",
                                     max_files_per_trigger=1)
    query = file_ingest.run_ingestion(stream, batch_fn, ckpt)
    error = None
    try:
        query.awaitTermination()
    except Exception as e:  # a failed batch stops the query: count it
        error = repr(e)
    wall = time.perf_counter() - t0
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    ops = [{
        "name": f"microbatch:{p['batchId']}", "batch_id": p["batchId"],
        "latency_s": p["durationMs"]["triggerExecution"] / 1e3,
        "add_batch_s": p["durationMs"].get("addBatch", 0) / 1e3,
        "planning_ms": p["durationMs"].get("queryPlanning", 0),
        "docs": p["numInputRows"], "error": error,
    } for p in progress]
    # batches write to fresh per-batch dirs and append-only logs, so
    # the bytes written are the live bytes
    stats = _dir_stats(root)
    sig_bytes = sum(s for p, (s, _) in stats.items() if p.startswith(sig + os.sep))
    return {
        "ops": ops, "wall_s": wall, "docs": sum(o["docs"] for o in ops),
        "bytes_written": sum(s for s, _ in stats.values()), "files_written": len(stats),
        "live_bytes": sum(s for s, _ in stats.values()), "live_files": len(stats),
        "sig_bytes": sig_bytes, "error": error,
    }


# ---- worker side: output checks (after the timed phase) ------------------

def check(workload: str, spec: dict, out: dict) -> dict:
    """Set each operation's ``problem`` (None when its output is right);
    returns the workload facts the metrics need."""
    if workload in ("olap_cold", "corpus_session"):
        return _check_queries(spec, out)
    if workload == "ingest_workbooks":
        return _check_ingest(spec, out)
    return _check_stream(spec, out)


def _check_queries(spec: dict, out: dict) -> dict:
    from pythondataingestionprocess_spark.oracle import compare_frames

    with open(spec["expected"], "rb") as f:  # written by this benchmark's parent
        expected = pickle.load(f)
    for op in out["ops"]:
        if op["error"]:
            op["problem"] = op["error"]
        elif op["name"] in expected:
            diff = compare_frames(op["frame"], expected[op["name"]])
            op["problem"] = "; ".join(diff)[:500] if diff else None
        else:  # no oracle: the query must at least return
            op["problem"] = None
        op.pop("frame")
    return {}


def _check_ingest(spec: dict, out: dict) -> dict:
    """Per batch: rows read and rows staged match the generator's
    replay of the skip rules. After the last batch: one row per key in
    every dimension, one price row per product, and the fact and
    product counts the generator predicts. The store is read with
    pyarrow, not through the session under test."""
    import pyarrow.parquet as pq

    for op, book in zip(out["ops"], spec["workbooks"]):
        if op["error"]:
            op["problem"] = op["error"]
        elif (op["n_input"], op["n_staged"]) != (book["rows"], book["staged"]):
            op["problem"] = (f"rows read/staged {op['n_input']}/{op['n_staged']}, "
                             f"expected {book['rows']}/{book['staged']}")
        else:
            op["problem"] = None
    last = spec["workbooks"][-1]
    problems = []
    if not any(op["error"] for op in out["ops"]):
        tables = {t: pq.read_table(os.path.join(spec["store_root"], t)).to_pandas()
                  for t in ("store", "provider", "product", "price", "purchase", "operation")}
        for table, keys in (("store", ["store_name"]), ("provider", ["id_store", "provider_url"]),
                            ("product", ["product_name"]), ("price", ["id_product"])):
            dupes = int(tables[table].duplicated(keys).sum())
            if dupes:
                problems.append(f"{table}: {dupes} duplicate keys")
        for table, want in (("product", last["products"]), ("price", last["price_rows"]),
                            ("purchase", last["facts"]), ("operation", last["facts"])):
            got = len(tables[table])
            if got != want:
                problems.append(f"{table}: {got} rows, expected {want}")
    if problems:
        out["ops"][-1]["problem"] = "; ".join(filter(None, [out["ops"][-1]["problem"]] + problems))
    n_in = sum(op["n_input"] or 0 for op in out["ops"])
    return {"rows": n_in, "rows_staged": sum(op["n_staged"] or 0 for op in out["ops"]),
            "rows_decoded": n_in + sum(op["precios_rows"] or 0 for op in out["ops"])}


def _check_stream(spec: dict, out: dict) -> dict:
    """Every emitted pair's exact Jaccard, recomputed here, is at or
    above the screen threshold, and every planted pair with exact
    Jaccard >= 0.9 is emitted (in either order)."""
    import pyarrow.dataset as ds

    texts: dict[int, str] = {}
    for name in sorted(os.listdir(spec["inbox"])):
        with open(os.path.join(spec["inbox"], name)) as f:
            for line in f:
                doc = json.loads(line)
                texts[doc["doc_id"]] = doc["text"]
    if "corrupt_text_of" in spec:
        texts[spec["corrupt_text_of"]] = "corrupted expected text"
    pairs_dir = os.path.join(spec["stream_root"], "pairs")
    rows = (ds.dataset(pairs_dir, format="parquet", partitioning="hive").to_table(
        columns=["id_a", "id_b", "batch_id"]).to_pylist() if os.path.isdir(pairs_dir) else [])
    bad: dict[int, list[str]] = {}
    found = set()
    for r in rows:
        a, b = int(r["id_a"]), int(r["id_b"])
        found.add((min(a, b), max(a, b)))
        j = gen.jaccard(texts[a], texts[b])
        if j < STREAM_THRESHOLD:
            bad.setdefault(int(r["batch_id"]), []).append(f"pair ({a},{b}) has Jaccard {j:.3f}")
    per_file = spec["size"]["stream_docs"]  # batch k reads file k
    strong = [(a, b) for a, b in spec["planted"] if gen.jaccard(texts[a], texts[b]) >= PLANTED_MIN_JACCARD]
    missed = [(a, b) for a, b in strong if (min(a, b), max(a, b)) not in found]
    for a, b in missed:
        bad.setdefault(max(a, b) // per_file, []).append(f"planted pair ({a},{b}) not emitted")
    for op in out["ops"]:
        problems = ([op["error"]] if op["error"] else []) + bad.get(op["batch_id"], [])
        op["problem"] = "; ".join(problems)[:500] if problems else None
    return {"pairs": len(rows), "planted_strong": len(strong),
            "planted_found": len(strong) - len(missed)}
