"""Every package module is reached from a non-test entry point or listed in LIBRARY_ONLY
with its reason. Function-local imports and strings naming a module (LAYER_IMPORTS) count."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "pythondataingestionprocess_spark"
ENTRY_FILES = ["__spark_entry__.py", "bench.py", "perfbench/*.py", "scripts/*.py"]
ENTRY_MODULES = [f"{PKG}.plans", f"{PKG}.oracle", f"{PKG}.pipeline.ingest"]

LIBRARY_ONLY = {
    f"{PKG}.pipeline.jdbc_store": "reference S9 live sink: keyed MERGE into a JDBC database",
    f"{PKG}.pipeline.manifest": "per-run lineage and checksum records for the ingest pipeline",
    f"{PKG}.sources.datasource": "whole-file statement-text Python DataSource",
    f"{PKG}.sources.files": "reference S5/S6 directory loop with archive/dead-letter moves",
    f"{PKG}.sources.warc_lite": "LLM-pipeline WARC/WET source",
    f"{PKG}.streaming.dsir_ingest": "LLM-pipeline streaming DSIR curation",
    f"{PKG}.streaming.embedding_ingest": "LLM-pipeline streaming embedding near-dup screen",
    f"{PKG}.streaming.jdbc_sink": "exactly-once foreachBatch sink into a JDBC store",
    f"{PKG}.streaming.monitoring": "streaming progress events as a queryable ops table",
    f"{PKG}.streaming.stateful": "keyed-state streaming operators: LOCF, funnel, EWMA, sampling",
    f"{PKG}.streaming.table_sink": "exactly-once foreachBatch sink into a snapshot store",
}


def _modules() -> dict[str, Path]:
    return {
        ".".join(p.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__"): p
        for p in (ROOT / PKG).rglob("*.py")
    }


def _imported(path: Path, modules: dict[str, Path]) -> set[str]:
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names.add(node.value)
    # importing a.b.c runs the a and a.b package __init__s too
    parents = {n.rsplit(".", i)[0] for n in names for i in range(n.count(".") + 1)}
    return parents & modules.keys()


def test_every_package_module_is_reached_or_library_only():
    modules = _modules()
    todo = [p for g in ENTRY_FILES for p in ROOT.glob(g)] + [modules[m] for m in ENTRY_MODULES]
    seen = set(ENTRY_MODULES)
    while todo:
        for name in _imported(todo.pop(), modules) - seen:
            seen.add(name)
            todo.append(modules[name])
    assert sorted(modules.keys() - seen) == sorted(LIBRARY_ONLY)
