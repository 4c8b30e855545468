"""Every top-level function and class in the package, and every method of a class, is reached
from a root, or hangs off a LIBRARY_API entry that says why it is kept.

The roots are every top-level def in ``plans/`` (the registered faces), the module-level
statements of every package module (which is all ENTRY_MODULES add: their defs need a
caller like any other) and the whole text of the entry files. Names resolve through each
module's imports, re-exports included. A non-docstring string references the top-level defs
it names (bare names in its own module, dotted names in any) inside a def body or an entry
file, so code run through ``python -c`` (``session._train``) is reached; a module-level
constant that merely spells a def's name is not a caller.

Each method is its own node; a class reaches only its bases, its decorators and its
class-level statements. A method of a reached class is reached when it is a dunder, when
its class has a base from outside the package (a framework callback: Spark calls a
``StreamingQueryListener``'s or a ``DataSource``'s methods), or when reached code names it
as an attribute (``.name``). Strings and docstrings never reach a method. A LIBRARY_API key
may name ``Class.method``.

The same holds one level up: a package module that no entry point imports (function-local
imports and strings naming a module, as in LAYER_IMPORTS, count) holds a LIBRARY_API
entry."""

from __future__ import annotations

import ast
import re
from dataclasses import dataclass
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "pythondataingestionprocess_spark"
ENTRY_FILES = ["__spark_entry__.py", "bench.py", "perfbench/*.py", "scripts/*.py"]
ENTRY_MODULES = [f"{PKG}.plans", f"{PKG}.oracle", f"{PKG}.pipeline.ingest"]

# Defs and methods that no root reaches, kept as library API: the reference's surfaces and
# the streaming twin of each registered face. Each entry's body is a root for the check, so
# helpers it alone calls need no entry of their own. A module no entry file imports must
# hold at least one entry.
_PDF_XLSX = "reference PDF statement -> two-sheet xlsx surface (PAPER.md §0 item 1)"
_S9 = "reference S9 live sink: exactly-once keyed MERGE into a JDBC database"
LIBRARY_API = {
    f"{PKG}.functions.layout.morton16_py": "pure-Python reference for morton16 (morton tests)",
    f"{PKG}.operators.bpe.apply_merges": "expression-form reference for the vectorized BPE apply",
    f"{PKG}.operators.dsir.importance_logratio_expected": "pure-Python reference for DSIR fit",
    f"{PKG}.oracle.check_query": "one face against its DuckDB oracle (test_queries_oracle)",
    f"{PKG}.pipeline.jdbc_store.derby_url": _S9,
    f"{PKG}.pipeline.store.TableMerge.upsert":
        "the reference's `ON CONFLICT DO UPDATE` (SURVEY §0 (d))",
    f"{PKG}.sources.datasource.register": "the PDF -> xlsx path's stmt_text reader",
    f"{PKG}.sources.files.ingest_directory": "reference S5/S6 directory loop with archive moves",
    f"{PKG}.sources.statement.extract_pdf_text": _PDF_XLSX,
    f"{PKG}.sources.statement.parse_charges": _PDF_XLSX,
    f"{PKG}.sources.statement.parse_msi": _PDF_XLSX,
    f"{PKG}.sources.statement.statement_output_name": _PDF_XLSX,
    f"{PKG}.sources.statement.write_two_sheet_excel": _PDF_XLSX,
    f"{PKG}.streaming.dedup_ingest.block_dedup_batch_fn": "streaming twin of corpus_block_dedup",
    f"{PKG}.streaming.dedup_ingest.compact_store": "a signature store's only compaction",
    f"{PKG}.streaming.dsir_ingest.dsir_batch_fn": "streaming twin of corpus_dsir_importance",
    f"{PKG}.streaming.dsir_ingest.init_target_state": "the target state dsir_batch_fn scores by",
    f"{PKG}.streaming.embedding_ingest.embedding_dedup_batch_fn":
        "streaming twin of dedup_cosine_incremental",
    f"{PKG}.streaming.jdbc_sink.StreamingJdbcSink": _S9,
    f"{PKG}.streaming.monitoring.attach_progress_log": "streaming progress as a JSON ops table",
    f"{PKG}.streaming.stateful.decayed_feature_stream": "streaming twin of events_decayed_feature",
    f"{PKG}.streaming.stateful.funnel_stream_watermarked":
        "streaming twin of events_funnel_watermark",
    f"{PKG}.streaming.stateful.locf_fill_stream": "the reference's forward-fill as a stream",
    f"{PKG}.streaming.stateful.weighted_sample_stream": "streaming twin of corpus_weighted_sample",
    f"{PKG}.streaming.table_sink.run_stream_to_table": "exactly-once stream into a table group",
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


def test_every_package_module_is_reached_or_holds_library_api():
    modules = _modules()
    todo = [p for g in ENTRY_FILES for p in ROOT.glob(g)] + [modules[m] for m in ENTRY_MODULES]
    seen = set(ENTRY_MODULES)
    while todo:
        for name in _imported(todo.pop(), modules) - seen:
            seen.add(name)
            todo.append(modules[name])
    # a key is module.def or module.Class.method
    listed = {k.rsplit(".", i)[0] for k in LIBRARY_API for i in (1, 2)}
    unlisted = sorted(modules.keys() - seen - listed)
    assert not unlisted, f"modules no entry point imports, without a LIBRARY_API entry: {unlisted}"


_FN = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEF = (*_FN, ast.ClassDef)
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


@dataclass
class _Graph:
    edges: dict[str, set[str]]  # node -> the defs its code names
    attrs: dict[str, set[str]]  # node -> the attribute names its code reads
    methods: dict[str, tuple[str, str, bool]]  # method -> (its class, its name, always reached)
    roots: set[str]
    defs: set[str]  # every top-level def and every method


def _graph() -> _Graph:
    """Nodes are dotted names: ``mod.def``, ``mod.Class.method``, plus one ``mod:`` node per
    module's import-time code and one ``entry:`` node per entry file (both roots)."""
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

    def refs(scope: _Scope, nodes, strings: bool = True) -> set[str]:
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
                elif strings and isinstance(node, ast.Constant) and isinstance(node.value, str):
                    if id(node) in docs:
                        continue
                    for word in _WORD.findall(node.value):
                        if word in scope.defs:
                            out.add(f"{scope.name}.{word}")
                        elif "." in word:
                            out.add(resolve(word))
        out.discard(None)
        return out

    def attrs(nodes) -> set[str]:
        return {n.attr for top in nodes for n in ast.walk(top) if isinstance(n, ast.Attribute)}

    classes = {
        f"{m}.{d}" for m, s in scopes.items() for d, n in s.defs.items()
        if isinstance(n, ast.ClassDef)
    }

    @cache
    def framework(cls: str) -> bool:
        """Whether the class has a base from outside the package, directly or through an
        in-package base."""
        mod, _, name = cls.rpartition(".")
        scope = scopes[mod]
        for b in scope.defs[name].bases:
            inside = refs(scope, [b], strings=False) & classes
            if not inside or any(framework(c) for c in inside):
                return True
        return False

    g = _Graph({}, {}, {}, set(), set())

    def add(node: str, scope: _Scope, code: list, strings: bool = True) -> None:
        g.edges[node] = refs(scope, code, strings)
        g.attrs[node] = attrs(code)

    for m, s in scopes.items():
        for name, node in s.defs.items():
            dotted = f"{m}.{name}"
            g.defs.add(dotted)
            if m == f"{PKG}.plans" or m.startswith(f"{PKG}.plans."):
                g.roots.add(dotted)
            if not isinstance(node, ast.ClassDef):
                add(dotted, s, [node])
                continue
            # a class: its bases, decorators and class-level statements (with its methods'
            # decorators and defaults, which run when the class body does)
            fns = [n for n in node.body if isinstance(n, _FN)]
            code = node.decorator_list + node.bases + [n for n in node.body if n not in fns]
            for fn in fns:
                code += fn.decorator_list + [d for d in fn.args.defaults + fn.args.kw_defaults if d]
                method = f"{dotted}.{fn.name}"
                g.defs.add(method)
                add(method, s, [fn])
                g.edges[method].add(dotted)
                dunder = fn.name.startswith("__") and fn.name.endswith("__")
                g.methods[method] = (dotted, fn.name, dunder or framework(dotted))
            add(dotted, s, code)
        # decorators, defaults and bases run at import time
        body = [n for n in s.tree.body if not isinstance(n, _DEF)]
        for node in s.defs.values():
            body += node.decorator_list + getattr(node, "bases", [])
            if not isinstance(node, ast.ClassDef):
                body += [d for d in node.args.defaults + node.args.kw_defaults if d]
        add(f"{m}:", s, body, strings=False)
        g.roots.add(f"{m}:")
    for path in (p for pat in ENTRY_FILES for p in ROOT.glob(pat)):
        add(f"entry:{path}", _Scope("__entry__", path, False), [_tree(path)])
        g.roots.add(f"entry:{path}")
    return g


def _reach(g: _Graph, start: set[str]) -> set[str]:
    seen, named, todo = set(), set(), list(start)
    while todo:
        while todo:
            node = todo.pop()
            if node not in seen:
                seen.add(node)
                named |= g.attrs.get(node, set())
                todo.extend(g.edges.get(node, ()))
        todo = [
            m for m, (cls, name, always) in g.methods.items()
            if m not in seen and cls in seen and (always or name in named)
        ]
    return seen


def test_every_top_level_def_is_reached_or_library_api():
    g = _graph()
    unreached = g.defs - _reach(g, g.roots)
    stale = sorted(set(LIBRARY_API) - unreached)
    assert not stale, f"LIBRARY_API names missing or reached from a root: {stale}"
    redundant = sorted(
        k for k in LIBRARY_API if k in _reach(g, g.roots | set(LIBRARY_API) - {k})
    )
    assert not redundant, f"LIBRARY_API names reached from another entry: {redundant}"
    orphans = sorted(g.defs - _reach(g, g.roots | set(LIBRARY_API)))
    assert not orphans, f"defs and methods no root or LIBRARY_API entry reaches: {orphans}"
