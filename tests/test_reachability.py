"""Every package module is reached from a non-test entry point or listed in LIBRARY_ONLY
with its reason. Function-local imports and strings naming a module (LAYER_IMPORTS) count.

The same holds one level down: every top-level function and class outside the LIBRARY_ONLY
modules is reached from a root, or hangs off a LIBRARY_API entry that says why it is kept.
The roots are every top-level def in ``plans/`` (the registered faces), the module-level
statements of every package module (which is all ENTRY_MODULES add: their defs need a
caller like any other), the whole text of the entry files, and the bodies of the
LIBRARY_ONLY modules. Names resolve through each module's imports, re-exports included. A
non-docstring string references the defs it names (bare names in its own module, dotted
names in any), so code run through ``python -c`` (``session._train``) is reached."""

from __future__ import annotations

import ast
import re
from functools import cache
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

# Top-level defs that no root reaches, kept as library API. Each entry's body is a root for
# the check, so helpers it alone calls need no entry of their own.
_PDF_XLSX = "reference PDF statement -> two-sheet xlsx surface (PAPER.md §0 item 1)"
LIBRARY_API = {
    f"{PKG}.functions.layout.morton16_py": "pure-Python reference for morton16 (morton tests)",
    f"{PKG}.operators.bpe.apply_merges": "expression-form reference for the vectorized BPE apply",
    f"{PKG}.operators.dsir.importance_logratio_expected": "pure-Python reference for DSIR fit",
    f"{PKG}.oracle.check_query": "one face against its DuckDB oracle (test_queries_oracle)",
    f"{PKG}.sources.statement.extract_pdf_text": _PDF_XLSX,
    f"{PKG}.sources.statement.parse_charges": _PDF_XLSX,
    f"{PKG}.sources.statement.parse_msi": _PDF_XLSX,
    f"{PKG}.sources.statement.statement_output_name": _PDF_XLSX,
    f"{PKG}.sources.statement.write_two_sheet_excel": _PDF_XLSX,
    f"{PKG}.streaming.dedup_ingest.compact_store": "a signature store's only compaction",
}


def _modules() -> dict[str, Path]:
    return {
        ".".join(p.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__"): p
        for p in (ROOT / PKG).rglob("*.py")
    }


@cache
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _imported(path: Path, modules: dict[str, Path]) -> set[str]:
    names = set()
    for node in ast.walk(_tree(path)):
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


_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_WORD = re.compile(r"[A-Za-z_][\w.]*")


class _Scope:
    """One module's top-level defs and the dotted targets of its import aliases."""

    def __init__(self, name: str, path: Path, is_pkg: bool):
        self.name, self.tree = name, _tree(path)
        self.defs = {n.name: n for n in self.tree.body if isinstance(n, _DEF)}
        base = name if is_pkg else name.rpartition(".")[0]
        self.aliases: dict[str, str] = {}
        for node in ast.walk(self.tree):  # function-local imports bind module-wide: loose
            if isinstance(node, ast.Import):
                for a in node.names:  # `import a.b` binds `a`
                    alias = a.asname or a.name.partition(".")[0]
                    self.aliases[alias] = a.name if a.asname else alias
            elif isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                if node.level:
                    up = base.rsplit(".", node.level - 1)[0] if node.level > 1 else base
                    mod = f"{up}.{mod}" if mod else up
                for a in node.names:
                    self.aliases[a.asname or a.name] = f"{mod}.{a.name}"


def _graph() -> tuple[dict[str, set[str]], set[str], set[str]]:
    """(edges from each top-level def, roots, every top-level def), all as dotted names."""
    modules = _modules()
    scopes = {m: _Scope(m, p, p.name == "__init__.py") for m, p in modules.items()}

    def resolve(dotted: str, depth: int = 0) -> str | None:
        mod, _, attr = dotted.rpartition(".")
        s = scopes.get(mod)
        if s is None or depth > 8:
            return None
        if attr in s.defs:
            return dotted
        return resolve(s.aliases[attr], depth + 1) if attr in s.aliases else None

    def refs(scope: _Scope, nodes) -> set[str]:
        out = set()
        for top in nodes:
            docs = {
                id(n.body[0].value)
                for n in ast.walk(top)
                if isinstance(n, (*_DEF, ast.Module)) and ast.get_docstring(n, clean=False)
            }
            for node in ast.walk(top):
                if isinstance(node, ast.Attribute):  # alias.a.b: try alias.a, alias.a.b
                    chain, base = [], node
                    while isinstance(base, ast.Attribute):
                        chain.append(base.attr)
                        base = base.value
                    if isinstance(base, ast.Name) and base.id in scope.aliases:
                        dotted = scope.aliases[base.id]
                        for attr in reversed(chain):
                            dotted += f".{attr}"
                            out.add(resolve(dotted))
                elif isinstance(node, ast.Name):
                    if node.id in scope.defs:
                        out.add(f"{scope.name}.{node.id}")
                    elif node.id in scope.aliases:
                        out.add(resolve(scope.aliases[node.id]))
                elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                    if id(node) in docs:
                        continue
                    for word in _WORD.findall(node.value):
                        if word in scope.defs:
                            out.add(f"{scope.name}.{word}")
                        elif "." in word:
                            out.add(resolve(word))
        out.discard(None)
        return out

    edges, roots = {}, set()
    for m, s in scopes.items():
        for name, node in s.defs.items():
            edges[f"{m}.{name}"] = refs(s, [node])
            if m == f"{PKG}.plans" or m.startswith(f"{PKG}.plans.") or m in LIBRARY_ONLY:
                roots.add(f"{m}.{name}")
        top = s.tree.body[bool(ast.get_docstring(s.tree)) :]  # module docstring: prose
        body = [n for n in top if not isinstance(n, _DEF)]
        # decorators, defaults and bases run at import time
        for node in s.defs.values():
            body += node.decorator_list + getattr(node, "bases", [])
            if not isinstance(node, ast.ClassDef):
                body += [d for d in node.args.defaults + node.args.kw_defaults if d]
        roots |= refs(s, body)
    for path in (p for g in ENTRY_FILES for p in ROOT.glob(g)):
        roots |= refs(_Scope("__entry__", path, False), [_tree(path)])
    return edges, roots, set(edges)


def _reach(edges: dict[str, set[str]], start: set[str]) -> set[str]:
    seen, todo = set(start), list(start)
    while todo:
        for name in edges.get(todo.pop(), ()):
            if name not in seen:
                seen.add(name)
                todo.append(name)
    return seen


def test_every_top_level_def_is_reached_or_library_api():
    edges, roots, defs = _graph()
    unreached = defs - _reach(edges, roots)
    stale = sorted(set(LIBRARY_API) - unreached)
    assert not stale, f"LIBRARY_API names missing or reached from a root: {stale}"
    redundant = sorted(
        k for k in LIBRARY_API
        if any(k in _reach(edges, edges[j] - {j}) for j in LIBRARY_API if j != k)
    )
    assert not redundant, f"LIBRARY_API names reached from another entry: {redundant}"
    orphans = sorted(unreached - _reach(edges, set(LIBRARY_API)))
    assert not orphans, f"top-level defs no root or LIBRARY_API entry reaches: {orphans}"
