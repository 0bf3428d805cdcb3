"""The engine keeps only what something calls. Every public top-level
``def`` and ``class`` in an engine module must be named outside its own
definition somewhere in the package, ``tools/``, ``perfbench/``,
``bench.py`` or ``__spark_entry__.py``; tests do not count as callers.
The graded query catalog (``*_queries.py``, ``queries_*.py``,
``registry.py``, ``streaming/queries.py``) and package ``__init__`` files
are not engine modules. A re-export (``from m import f`` with no use of
``f``) or an ``__all__`` entry is not a use.

The same holds for options: every defaulted parameter of a public engine
def, public method or public class ``__init__`` must be set by some
caller outside the tests, or it is a constant."""

from __future__ import annotations

import ast
import collections
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


# Defaulted parameters kept without a caller that sets them, each with
# its reason: deployment settings and safety values a production caller
# sets, while the in-repo callers run the defaults.
ALLOWED_PARAMS = {
    "session.py": {
        "get_session": {
            "master": "deployment: the cluster master URL",
            "shuffle_partitions": "deployment: sized to the cluster",
            "extra_conf": "deployment: connector jars and site confs",
        },
    },
    "sources/jdbc.py": {
        "read_jdbc": {
            "partition_column": "deployment: the source table's split column",
            "num_partitions": "deployment: parallel connections the source allows",
            "lower_bound": "deployment: split range of partition_column",
            "upper_bound": "deployment: split range of partition_column",
            "properties": "deployment: driver credentials and options",
            "last_watermark": "incremental pull: the caller's stored watermark",
        },
    },
    "sources/kafka.py": {
        "read_kafka_stream": {
            "starting_offsets": "deployment: where a new consumer group starts",
        },
    },
    "operators/masking.py": {
        "LocalKmsStub.__init__": {
            "master_key": "deployment: the dev KMS stub's key material",
        },
    },
    "sql.py": {
        "run_sql": {"params": "the template values of a semantic-layer SQL"},
    },
    "sinks/versioned.py": {
        "VersionedTable.vacuum": {
            "grace_seconds": "safety: how long readers may hold an old snapshot",
            "keep_last": "safety: how many snapshots time travel keeps",
        },
    },
    "operators/keys.py": {
        "surrogate_keys": {
            "monotonic": "the partition-offset path, the only one that runs "
            "a first load above the window cap",
        },
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


def _defaulted(fn: ast.FunctionDef, shift: int) -> list[tuple[str, int | None]]:
    """``(name, positional index)`` of each defaulted parameter, the index
    counted past ``shift`` bound arguments (``self``); ``None`` for a
    keyword-only one."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(arg.arg, i - shift) for i, arg in enumerate(pos) if i >= first]
    out += [
        (arg.arg, None)
        for arg, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def _options() -> list[tuple[str, str, str, str, int | None]]:
    """``(module, qualified def, callee name, parameter, positional
    index)`` for every defaulted parameter of a public top-level def, a
    public method or a public class ``__init__`` in an engine module. A
    method is called by its own name, an ``__init__`` by its class's."""
    out = []
    for rel, tree in _engine_modules().items():
        for d in _public_defs(tree):
            if not isinstance(d, ast.ClassDef):
                out += [(rel, d.name, d.name, p, i) for p, i in _defaulted(d, 0)]
                continue
            for m in d.body:
                if not isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                if m.name != "__init__" and m.name.startswith("_"):
                    continue
                static = any(
                    isinstance(x, ast.Name) and x.id == "staticmethod"
                    for x in m.decorator_list
                )
                callee = d.name if m.name == "__init__" else m.name
                out += [
                    (rel, f"{d.name}.{m.name}", callee, p, i)
                    for p, i in _defaulted(m, 0 if static else 1)
                ]
    return out


def _callee(func: ast.AST) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


@functools.cache
def _set_params() -> dict[str, tuple[set[str], int, bool]]:
    """Per callee name, over every caller-file call to it: the keywords
    passed, the most positional arguments passed (``*args`` counts as
    unbounded from its index on), and whether a ``**kwargs`` was passed.
    ``functools.partial(f, ...)`` counts as a call to ``f``."""
    kws: dict[str, set[str]] = collections.defaultdict(set)
    npos: dict[str, int] = collections.defaultdict(int)
    splat: set[str] = set()
    for tree in _trees().values():
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            calls = [(_callee(n.func), n.args)]
            if calls[0][0] == "partial" and n.args:
                calls.append((_callee(n.args[0]), n.args[1:]))
            for name, args in calls:
                if name is None:
                    continue
                for k in n.keywords:
                    if k.arg is None:
                        splat.add(name)
                    else:
                        kws[name].add(k.arg)
                for j, a in enumerate(args):
                    if isinstance(a, ast.Starred):
                        npos[name] = 1 << 30
                        break
                    npos[name] = max(npos[name], j + 1)
    return {
        name: (kws[name], npos[name], name in splat)
        for name in set(kws) | set(npos) | splat
    }


def _is_set(callee: str, param: str, index: int | None) -> bool:
    kws, npos, splat = _set_params().get(callee, (set(), 0, False))
    return param in kws or splat or (index is not None and index < npos)


def test_every_engine_option_is_set_by_a_caller():
    """A defaulted parameter that no caller outside the tests sets is a
    constant: the code runs one value of it, so a second value is a path
    only tests take."""
    unset = [
        f"{rel} {qual}({param}=)"
        for rel, qual, callee, param, index in _options()
        if not _is_set(callee, param, index)
        and param not in ALLOWED_PARAMS.get(rel, {}).get(qual, {})
    ]
    assert unset == []


def test_allowed_params_name_live_unset_options():
    """Each ``ALLOWED_PARAMS`` entry names a defaulted parameter that
    exists and still has no setting caller; one that gains a caller
    leaves the list."""
    options = {
        (rel, qual, param): (callee, index)
        for rel, qual, callee, param, index in _options()
    }
    for rel, defs in ALLOWED_PARAMS.items():
        for qual, params in defs.items():
            for param, reason in params.items():
                key = (rel, qual, param)
                assert key in options and reason, key
                callee, index = options[key]
                assert not _is_set(callee, param, index), (key, "is set now")
