"""One mechanism for each recurring streaming job: scratch space comes
from ``session.scratch_dir`` (removed at interpreter exit), and a stream
is drained only by ``streaming.core.drain``, through ``foreachBatch``
(no memory sink, whose named view would outlive the drain)."""

from __future__ import annotations

import ast
import glob
import os
import subprocess
import sys

import gcp_etl_pipeline_spark

ROOT = os.path.dirname(gcp_etl_pipeline_spark.__file__)


def _modules():
    """(path relative to the package, parsed module) for every package file."""
    for path in glob.glob(os.path.join(ROOT, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as fh:
            yield os.path.relpath(path, ROOT), ast.parse(fh.read())


def _calls_outside(attrs: set[str], owner_file: str, owner_fn: str) -> list[str]:
    """Package call sites of ``x.<attr>(...)`` for ``attrs`` that are not
    inside the function ``owner_fn`` of ``owner_file``."""
    offenders = []
    for rel, tree in _modules():
        allowed = {
            id(n)
            for f in ast.walk(tree)
            if rel == owner_file
            and isinstance(f, ast.FunctionDef)
            and f.name == owner_fn
            for n in ast.walk(f)
        }
        offenders += [
            f"{rel}:{n.lineno} {n.func.attr}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in attrs
            and id(n) not in allowed
        ]
    return offenders


def test_scratch_space_comes_only_from_scratch_dir():
    assert _calls_outside({"mkdtemp", "gettempdir"}, "session.py", "scratch_dir") == []


def test_streams_drain_only_through_drain():
    offenders = _calls_outside(
        {"trigger", "awaitTermination"}, os.path.join("streaming", "core.py"), "drain"
    )
    assert offenders == []


def test_no_memory_sink_in_the_package():
    """No ``format("memory")`` or ``queryName(`` anywhere in the package."""

    def memory_sink(call: ast.Call) -> bool:
        attr = call.func.attr
        return attr == "queryName" or (
            attr == "format"
            and any(isinstance(a, ast.Constant) and a.value == "memory" for a in call.args)
        )

    offenders = [
        f"{rel}:{n.lineno} {n.func.attr}"
        for rel, tree in _modules()
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and memory_sink(n)
    ]
    assert offenders == []


def test_scratch_dirs_are_removed_at_exit(tmp_path):
    """Two scratch dirs, each holding a file, are gone once the process
    that made them exits."""
    code = (
        "from gcp_etl_pipeline_spark.session import scratch_dir\n"
        "for tag in ('a', 'b'):\n"
        "    with open(scratch_dir(tag) + '/f', 'w') as fh:\n"
        "        fh.write('x')\n"
        "import os, sys\n"
        "made = [p for p in os.listdir(os.environ['TMPDIR']) if p.startswith('graft_')]\n"
        "sys.exit(0 if len(made) == 2 else 3)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    repo = os.path.dirname(ROOT)
    subprocess.run([sys.executable, "-c", code], env=env, cwd=repo, check=True)
    assert [p for p in os.listdir(tmp_path) if p.startswith("graft_")] == []
