"""The engine keeps only what something calls. Every public top-level
``def`` and ``class`` in an engine module must be named outside its own
definition somewhere in the package, ``tools/``, ``perfbench/``,
``bench.py`` or ``__spark_entry__.py``; tests do not count as callers.
The graded query catalog (``*_queries.py``, ``queries_*.py``,
``registry.py``, ``streaming/queries.py``) and package ``__init__`` files
are not engine modules. A re-export (``from m import f`` with no use of
``f``) or an ``__all__`` entry is not a use."""

from __future__ import annotations

import ast
import functools
import glob
import os

import gcp_etl_pipeline_spark

ROOT = os.path.dirname(gcp_etl_pipeline_spark.__file__)
REPO = os.path.dirname(ROOT)

# Public surfaces kept without an in-repo caller, each with its reason.
ALLOWED = {
    "config.py": {
        "EnvConfig": "reference R5: one deployment profile (env prefix, secrets)",
    },
    "sql.py": {
        "run_sql": "reference EP3: runs a templated semantic-layer SQL in-session",
    },
    "sources/kafka.py": {
        "read_kafka_stream": "the production Kafka source; the graded rows replay a file-backed stand-in",
    },
    "streaming/core.py": {
        "foreach_batch_versioned": "the stream sink into a snapshot-versioned table",
    },
    "sinks/catalog.py": {
        "register_external": "registers an existing parquet dir as a catalog table",
    },
    "sources/pysource.py": {
        "read_manifested_jsonl": "reads back only the shards the graftsink manifest committed",
    },
    "operators/audit.py": {
        "drop_audit_columns": "the inverse of add_audit_columns for exports",
    },
}


def _is_engine(rel: str) -> bool:
    base = os.path.basename(rel)
    return not (
        base == "__init__.py"
        or base == "registry.py"
        or base.endswith("_queries.py")
        or base.startswith("queries_")
        or rel == os.path.join("streaming", "queries.py")
    )


@functools.cache
def _trees() -> dict[str, ast.Module]:
    """Parsed caller files: the package, ``tools/``, ``perfbench/``,
    ``bench.py`` and ``__spark_entry__.py``."""
    files = glob.glob(os.path.join(ROOT, "**", "*.py"), recursive=True)
    for d in ("tools", "perfbench"):
        files += glob.glob(os.path.join(REPO, d, "**", "*.py"), recursive=True)
    files += [os.path.join(REPO, f) for f in ("bench.py", "__spark_entry__.py")]
    trees = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            trees[path] = ast.parse(fh.read())
    return trees


def _engine_modules() -> dict[str, ast.Module]:
    """Engine modules by path relative to the package, ``/``-separated."""
    return {
        os.path.relpath(path, ROOT).replace(os.sep, "/"): tree
        for path, tree in _trees().items()
        if path.startswith(ROOT + os.sep) and _is_engine(os.path.relpath(path, ROOT))
    }


def _names(node: ast.AST, skip: set[int]) -> set[str]:
    """Identifiers named under ``node``, outside the nodes in ``skip``: a
    loaded name, an attribute, or a string that is a (dotted) identifier,
    as ``getattr`` tables spell a target."""
    out: set[str] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if id(n) in skip:
            continue
        if isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            last = n.value.rsplit(".", 1)[-1]
            if last.isidentifier():
                out.add(last)
        stack.extend(ast.iter_child_nodes(n))
    return out


def _public_defs(tree: ast.Module) -> list[ast.AST]:
    return [
        n
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not n.name.startswith("_")
    ]


def test_every_public_engine_surface_has_a_caller():
    defs = {rel: _public_defs(tree) for rel, tree in _engine_modules().items()}
    own = {id(d) for ds in defs.values() for d in ds}
    named = set().union(*(_names(tree, own) for tree in _trees().values()))
    # a definition naming another one is a caller too
    for ds in defs.values():
        for d in ds:
            named |= {n for n in _names(d, set()) if n != d.name}
    unused = [
        f"{rel}:{d.lineno} {d.name}"
        for rel, ds in defs.items()
        for d in ds
        if d.name not in named and d.name not in ALLOWED.get(rel, {})
    ]
    assert unused == []


def test_allow_list_names_live_uncalled_surfaces():
    """Each allow-list entry names a public def or class that exists and
    still has no caller; one that gains a caller leaves the list."""
    engine = _engine_modules()
    for rel, entries in ALLOWED.items():
        by_name = {d.name: d for d in _public_defs(engine[rel])}
        for name, reason in entries.items():
            assert name in by_name and reason, (rel, name)
            skip = {id(by_name[name])}
            named = set().union(*(_names(t, skip) for t in _trees().values()))
            assert name not in named, (rel, name, "has a caller now")


def _imported_modules(tree: ast.Module) -> set[str]:
    """Dotted modules a file imports, or names as a string for
    ``importlib``."""
    out: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            out |= {a.name for a in n.names}
        elif isinstance(n, ast.ImportFrom) and n.module:
            out.add(n.module)
            out |= {f"{n.module}.{a.name}" for a in n.names}
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def test_every_engine_module_is_imported():
    """A module that only tests import is a surface nothing calls, even
    when its own functions call each other. A module holding an
    allow-listed entry point is reached through that entry point."""
    pkg = os.path.basename(ROOT)
    imports = {path: _imported_modules(tree) for path, tree in _trees().items()}
    orphans = []
    for rel in _engine_modules():
        path = os.path.join(ROOT, *rel.split("/"))
        dotted = ".".join([pkg, *rel[: -len(".py")].split("/")])
        if rel not in ALLOWED and not any(
            dotted in mods for p, mods in imports.items() if p != path
        ):
            orphans.append(rel)
    assert orphans == []
