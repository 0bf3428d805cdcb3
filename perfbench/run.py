"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Prints the host and source it measured on
one line, the run's phases on the next, and the result as the last line
of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics; a traced run
also writes its spans to ``.perfbench/traces/``. The exit code is not 0
when an output check fails or the engine sources are missing.

The run gets its own scratch root under ``.perfbench/`` (removed at the
end), which is its working directory, ``TMPDIR``, ``SPARK_LOCAL_DIRS``
and JVM temp directory, so nothing is left in the tree or outside it.
``SPARK_GRAFT_CPUS`` is pinned to the usable cores and ``PYTHONPATH`` to
the repository root. Driver memory is left at the engine's default.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.metadata
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 165  # plus at most 10 s to stop what is left: under 180 s


def source_digest() -> str:
    """SHA-256 over the engine's Python sources and the benchmark, so a
    result names the code it measured even where there is no git."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("gcp_etl_pipeline_spark", "perfbench"):
        for root, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def host_info() -> dict:
    commit = "unknown"
    try:
        # only ROOT's own repository: a checkout may sit inside another one
        if os.path.exists(os.path.join(ROOT, ".git")):
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10, check=True,
            ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "pyspark": importlib.metadata.version("pyspark"),
        "python": platform.python_version(),
        "commit": commit,
        "source_sha256": source_digest(),
    }


def stop_group(pgid: int) -> None:
    """Terminate whatever is left of the run's process group and wait
    until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = os.path.join(ROOT, "BENCHMARK.json")
    for need in ("gcp_etl_pipeline_spark/__init__.py", "__spark_entry__.py",
                 "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    base = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    trace_file = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    os.makedirs(os.path.join(scratch, "tmp"))
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        TMPDIR=os.path.join(scratch, "tmp"),
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={scratch}/tmp -XX:-UsePerfData",
    )
    print(json.dumps({"host": host_info()}), flush=True)
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", scratch, "--spec", spec, "--trace-file", trace_file,
    ]
    child = subprocess.Popen(cmd, cwd=scratch, env=env, start_new_session=True)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        code = 124
    finally:
        stop_group(child.pid)
        child.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    return code


if __name__ == "__main__":
    raise SystemExit(main())
