"""One benchmark run: set up a Spark session and seeded inputs, run one
workload closed-loop (one client) until ``--seconds`` have passed, check
every output, and print the result as the last line of standard output.

``run.py`` starts this in a prepared environment (scratch root as the
working directory, pinned ``SPARK_GRAFT_CPUS``, ``PYTHONPATH``, ``TMPDIR``
and ``SPARK_LOCAL_DIRS``); it is not meant to be started by hand.

Workloads (see ``BENCHMARK.json`` for why each was chosen):
  medallion_batch   build_pipeline(...).run() twice: the load into a fresh
                    warehouse, then the idempotent rerun.
  stream_catalog    in one session, the stream half then the catalog half:
                    run_streaming_gosales over raw files staged during
                    set-up (one file per micro-batch), then a collect of
                    overview_from_warehouse; one pass over four catalog
                    rows in a seeded order, each built, then collected.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

BATCH_TS = "2024-01-01 00:00:00"
PIPELINE_JOBS = (
    "raw_go_daily_sales", "method_hlp", "retailer_hlp", "product_lkp",
    "retailer_dim", "sales_fact", "tl_sales_overview",
)
DIMS = ("method_hlp", "retailer_hlp", "product_lkp", "retailer_dim")
CATALOG_ROWS = (
    "recrawl_feed_boost", "media_transform_roundtrip", "merge_upsert_contract",
    "versioned_delete",
)
STREAM_FILES = 2
PHASES = ("load_s", "rerun_s", "drain_s", "microbatch_s", "stream_rollup_s",
          "catalog_pass_s")
# engine calls spanned in a traced run: (module, owner, attribute, span)
WRAPS = (
    ("gcp_etl_pipeline_spark.pipeline", "Pipeline", "run", "pipeline.run"),
    ("gcp_etl_pipeline_spark.operators.expectations", None,
     "enforce_to_quarantine", "enforce_to_quarantine"),
    ("gcp_etl_pipeline_spark.sources.incremental_ingest", None,
     "ingest_incremental", "ingest_incremental"),
    ("gcp_etl_pipeline_spark.sources.incremental_ingest", "IngestionCatalog",
     "set_watermark", "set_watermark"),
    ("gcp_etl_pipeline_spark.sinks.writers", None, "write_parquet",
     "write_parquet"),
    ("gcp_etl_pipeline_spark.plans.gosales_pipeline", None, "write_parquet",
     "write_parquet"),
    ("gcp_etl_pipeline_spark.sinks.writers", None, "read_target",
     "read_target"),
    ("gcp_etl_pipeline_spark.plans.gosales_streaming", None, "read_target",
     "read_target"),
    ("gcp_etl_pipeline_spark.plans.gosales_streaming", None, "_maintain_dim",
     "maintain_dim"),
)
INSERT_NEW_ROWS = (
    ("gcp_etl_pipeline_spark.sinks.writers", "insert_new_rows"),
    ("gcp_etl_pipeline_spark.plans.gosales_pipeline", "insert_new_rows"),
)


# ----------------------------------------------------------------- checks
class Oracle:
    """DuckDB over the generated parquet files."""

    def __init__(self, inputs: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")
        for t in gen.ROWS:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{inputs}/{t}.parquet')"
            )

    def match(self, what: str, cols: list[str], rows, sql: str) -> str | None:
        """Compare collected rows with the oracle's as the repo's oracle
        gate does: sorted row sets of canonicalised values."""
        from tools.check import _rowset

        rel = self.con.sql(sql)
        wcols = list(rel.columns)
        if sorted(cols) != sorted(wcols):
            return f"{what}: columns {sorted(cols)} != {sorted(wcols)}"
        got, want = _rowset(cols, rows), _rowset(wcols, rel.fetchall())
        if len(got) != len(want):
            return f"{what}: {len(got)} rows, oracle {len(want)}"
        return f"{what}: values differ" if got != want else None

    def rows(self, sql: str) -> list[tuple]:
        return self.con.sql(sql).fetchall()

    def compare(self, what: str, got: str, want: str) -> str | None:
        """Same column names and the same multiset of rows, compared
        inside DuckDB (exact values; the overview sums are exact)."""
        gcols, wcols = self.con.sql(got).columns, self.con.sql(want).columns
        if sorted(gcols) != sorted(wcols):
            return f"{what}: columns {sorted(gcols)} != {sorted(wcols)}"
        cols = ", ".join(f'"{c}"' for c in sorted(wcols))
        g, w = f"SELECT {cols} FROM ({got})", f"SELECT {cols} FROM ({want})"
        [(ng, nw, extra, missing)] = self.rows(
            f"SELECT (SELECT count(*) FROM ({g})), (SELECT count(*) FROM ({w})),"
            f" (SELECT count(*) FROM ({g} EXCEPT ALL {w})),"
            f" (SELECT count(*) FROM ({w} EXCEPT ALL {g}))")
        if ng != nw or extra or missing:
            return (f"{what}: {ng} rows, oracle {nw}; {extra} unexpected, "
                    f"{missing} missing")
        return None


# -------------------------------------------------------------- workloads
@dataclass
class Run:
    """State shared by a run's workload: session, inputs, scratch."""

    spark: object
    inputs: str
    scratch: str
    seed: int


def _span(tracer, name):
    return tracer.span(name) if tracer else nullcontext()


class Workload:
    ops: int             # operations attempted per iteration
    warehouse = None     # the last iteration's warehouse, if any
    ledgered_s = 0.0     # sum of the run ledger's job durations

    def __init__(self, run: Run):
        self.run = run
        self.done = []

    def prepare(self) -> None:
        """Set-up work timed as part of setup_s."""


class MedallionBatch(Workload):
    ops = 2

    def iterate(self, i: int, tracer) -> dict[str, float]:
        from gcp_etl_pipeline_spark.pipeline import RunContext
        from gcp_etl_pipeline_spark.plans.gosales_pipeline import build_pipeline

        warehouse = f"{self.run.scratch}/warehouse{i}"
        times, ledgers = {}, []
        for phase in ("load", "rerun"):
            p = build_pipeline(self.run.inputs, warehouse, self.run.spark)
            if tracer:
                tracer.instrument_pipeline(p)
            t = time.perf_counter()
            with _span(tracer, phase):
                ledgers.append(p.run(RunContext(
                    batch_id=f"{phase}{i}", params={"batch_ts": BATCH_TS})))
            times[f"{phase}_s"] = time.perf_counter() - t
        self.done.append((warehouse, *ledgers))
        self.warehouse = warehouse
        self.ledgered_s += sum(r["duration_sec"] for rows in ledgers for r in rows)
        return times

    def check(self, oracle: Oracle) -> list[str]:
        """Read the written warehouse back with DuckDB and compare."""
        from gcp_etl_pipeline_spark.operators.audit import AUDIT_COLUMNS
        from gcp_etl_pipeline_spark.plans import gosales

        want = gosales.oracle("sales_overview")
        bad = []
        for wh, load, rerun in self.done:
            loaded = {r["job_name"]: r["rows_ingested"] for r in load}
            for r in rerun:
                if r["job_name"] in ("raw_go_daily_sales", *DIMS) and r["rows_ingested"]:
                    bad.append(f"rerun ingested {r['rows_ingested']} rows into {r['job_name']}")
            for d in DIMS:
                [(n,)] = oracle.rows(
                    f"SELECT count(*) FROM '{wh}/curated/{d}/*.parquet'")
                if n != loaded.get(d):
                    bad.append(f"{d} holds {n} rows after the rerun, the load wrote {loaded.get(d)}")
            status = dict(oracle.rows(
                f"SELECT status, count(*) FROM '{wh}/ops/run_log/*.parquet' GROUP BY 1"))
            if status != {"SUCCESS": 2 * len(PIPELINE_JOBS)}:
                bad.append(f"ledger statuses {status}")
            bad.append(oracle.compare(
                "batch overview",
                f"SELECT * EXCLUDE ({', '.join(AUDIT_COLUMNS)}) "
                f"FROM '{wh}/semantic/tl_sales_overview/*.parquet'", want))
        return [b for b in bad if b]


class MedallionStream(Workload):
    ops = 2

    def __init__(self, run: Run):
        super().__init__(run)
        self.raw = f"{run.scratch}/raw_go_daily_sales"

    def prepare(self) -> None:
        from gcp_etl_pipeline_spark.plans.gosales_streaming import stage_raw_stream

        stage_raw_stream(self.run.spark, self.run.inputs, self.raw,
                         n_files=STREAM_FILES)

    def iterate(self, i: int, tracer) -> dict[str, float]:
        from gcp_etl_pipeline_spark.plans import gosales_streaming as gs

        spark, inputs = self.run.spark, self.run.inputs
        warehouse = f"{self.run.scratch}/stream{i}"
        t = time.perf_counter()
        with _span(tracer, "drain"):
            gs.run_streaming_gosales(spark, inputs, self.raw, warehouse)
        drain = time.perf_counter() - t
        batches = sum(d.startswith("batch=")
                      for d in os.listdir(f"{warehouse}/sales_fact"))
        t = time.perf_counter()
        with _span(tracer, "stream_rollup"):
            overview = gs.overview_from_warehouse(spark, inputs, warehouse).toArrow()
        rollup = time.perf_counter() - t
        self.done.append((batches, overview))
        self.warehouse = warehouse
        return {"drain_s": drain, "microbatch_s": drain / max(batches, 1),
                "stream_rollup_s": rollup}

    def check(self, oracle: Oracle) -> list[str]:
        from gcp_etl_pipeline_spark.plans import gosales

        bad = []
        for i, (batches, overview) in enumerate(self.done):
            if batches != STREAM_FILES:
                bad.append(f"{batches} micro-batches for {STREAM_FILES} files")
            oracle.con.register(f"stream_overview{i}", overview)
            bad.append(oracle.compare(
                "stream overview", f"SELECT * FROM stream_overview{i}",
                gosales.oracle("sales_overview")))
        return [b for b in bad if b]


class CatalogHot(Workload):
    ops = len(CATALOG_ROWS)

    def __init__(self, run: Run):
        import __spark_entry__

        super().__init__(run)
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.order = random.Random(run.seed).sample(CATALOG_ROWS, len(CATALOG_ROWS))

    def iterate(self, i: int, tracer) -> dict[str, float]:
        spark, inputs = self.run.spark, self.run.inputs
        t = time.perf_counter()
        for name in self.order:
            with _span(tracer, f"{name}.construct"):
                df = self.queries[name](spark, inputs)
            with _span(tracer, f"{name}.execute"):
                rows = df.collect()
            self.done.append((name, df.columns, rows))
        return {"catalog_pass_s": time.perf_counter() - t}

    def check(self, oracle: Oracle) -> list[str]:
        bad = [oracle.match(name, cols, rows, self.oracles[name])
               for name, cols, rows in self.done]
        return [b for b in bad if b]


class StreamCatalog(Workload):
    """The stream drain and rollup, then the catalog pass, in one session."""

    ops = MedallionStream.ops + CatalogHot.ops

    def __init__(self, run: Run):
        super().__init__(run)
        self.parts = (MedallionStream(run), CatalogHot(run))

    def prepare(self) -> None:
        for part in self.parts:
            part.prepare()

    def iterate(self, i: int, tracer) -> dict[str, float]:
        times = {}
        for part in self.parts:
            times.update(part.iterate(i, tracer))
        self.warehouse = self.parts[0].warehouse
        return times

    def check(self, oracle: Oracle) -> list[str]:
        return [b for part in self.parts for b in part.check(oracle)]


WORKLOADS = {"medallion_batch": MedallionBatch, "stream_catalog": StreamCatalog}


# ----------------------------------------------------------------- run
def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver's Python process plus JVM."""
    total_kb = 0
    for pid in (os.getpid(), spark.sparkContext._gateway.proc.pid):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def jvm_counters(spark) -> dict[str, float]:
    """The driver JVM's JIT compile time (summed over compiler threads),
    GC time and CPU time since it started."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/stat") as fh:
        utime, stime = fh.read().rsplit(")", 1)[1].split()[11:13]
    return {
        "jvm.jit_compile_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "jvm.gc_s": sum(b.getCollectionTime()
                        for b in mf.getGarbageCollectorMXBeans()) / 1e3,
        "jvm.cpu_s": (int(utime) + int(stime)) / os.sysconf("SC_CLK_TCK"),
    }


def stop(spark) -> None:
    """Stop the session and wait for the JVM, which exits when its stdin
    closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def warehouse_files(path: str | None) -> tuple[int, int]:
    """Data files (no markers, checksums or hidden files) and their bytes."""
    n = size = 0
    for root, dirs, files in os.walk(path or os.devnull):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def layer_metrics(tracer, workload, phases, session_start_s, input_bytes, jvm):
    """Every per-layer metric of BENCHMARK.json; zero where the workload
    does not call the layer."""
    from spans import STAGE_FIELDS

    m = {"session.start_s": session_start_s, "trace.overhead_s": tracer.overhead_s}
    m.update(jvm)
    m.update({p: phases.get(p, 0.0) for p in PHASES})
    spans = tracer.spans
    incl = tracer.inclusive()
    by_id = {s["id"]: s for s in spans}
    runs = [s for s in spans if s["name"] == "pipeline.run"]
    job_s = {f"{j}.{k}": 0.0 for j in PIPELINE_JOBS for k in ("build", "write")}
    job_stats = {f"{j}.{f}": 0 for j in PIPELINE_JOBS for f in STAGE_FIELDS}
    for s in spans:
        job = s["name"].rpartition(".")[0]
        if job in PIPELINE_JOBS:
            job_s[s["name"]] += s["end"] - s["start"]
            for f in STAGE_FIELDS:
                job_stats[f"{job}.{f}"] += incl[s["id"]][f]
    ledgered = workload.ledgered_s
    run_wall = sum(s["end"] - s["start"] for s in runs)
    m["pipeline.recount_s"] = ledgered - sum(job_s.values()) if runs else 0.0
    m["pipeline.ledger_s"] = run_wall - ledgered if runs else 0.0
    m.update({f"{k}_s": v for k, v in job_s.items()})
    m.update(job_stats)
    for name in ("enforce_to_quarantine", "ingest_incremental", "set_watermark",
                 "insert_new_rows", "write_parquet", "read_target"):
        m[f"{name}_s"] = tracer.seconds(name)
    inserts = [s for s in spans if s["name"] == "insert_new_rows"]
    candidates = sum(s.get("candidates", 0) for s in inserts)
    m["insert_new_rows.admitted_ratio"] = (
        sum(s.get("admitted", 0) for s in inserts) / candidates if candidates else 0.0)
    batches = len(tracer.batches)
    m.update(tracer.batch_means())
    m["maintain_dim_s"] = tracer.seconds("maintain_dim") / batches if batches else 0.0
    for q in CATALOG_ROWS:
        ids = {k: [s["id"] for s in spans if s["name"] == f"{q}.{k}"]
               for k in ("construct", "execute")}
        total = {f: sum(incl[i][f] for v in ids.values() for i in v)
                 for f in ("task_run_s", "jvm_cpu_s", "shuffle_bytes")}
        m[f"{q}.construct_s"] = sum(by_id[i]["end"] - by_id[i]["start"] for i in ids["construct"])
        m[f"{q}.construct_jobs"] = sum(incl[i]["spark_jobs"] for i in ids["construct"])
        m[f"{q}.execute_s"] = sum(by_id[i]["end"] - by_id[i]["start"] for i in ids["execute"])
        m[f"{q}.execute_jobs"] = sum(incl[i]["spark_jobs"] for i in ids["execute"])
        m[f"{q}.jvm_cpu_share"] = (
            total["jvm_cpu_s"] / total["task_run_s"] if total["task_run_s"] else 0.0)
        m[f"{q}.shuffle_bytes"] = total["shuffle_bytes"]
    n, size = warehouse_files(workload.warehouse)
    m["files_written"] = n
    m["stored_bytes_ratio"] = size / input_bytes if n else 0.0
    return m


def install_wraps(tracer) -> None:
    import importlib

    for module, owner, attr, name in WRAPS:
        mod = importlib.import_module(module)
        tracer.wrap(getattr(mod, owner) if owner else mod, attr, name)

    def admitted(rec, args, result):
        rec["admitted"] = int(result)
        rec["candidates"] = tracer.bookkeeping_count(args[0])

    for module, attr in INSERT_NEW_ROWS:
        tracer.wrap(importlib.import_module(module), attr, "insert_new_rows",
                    after=admitted)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--spec", required=True, help="path of BENCHMARK.json")
    ap.add_argument("--trace-file", required=True)
    args = ap.parse_args()

    from gcp_etl_pipeline_spark.session import get_session

    t = time.perf_counter()
    spark = get_session()
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t
    try:
        inputs = f"{args.scratch}/inputs"
        gen.write(args.seed, inputs)
        gosales_bytes = sum(os.path.getsize(f"{inputs}/{n}.parquet")
                            for n in gen.GOSALES_SOURCES)
        workload = WORKLOADS[args.workload](Run(spark, inputs, args.scratch, args.seed))
        workload.prepare()
        setup_s = time.perf_counter() - T_START

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            install_wraps(tracer)
            tracer.start()
        walls, phases, errors = [], {}, []
        attempted = 0
        jvm_before = jvm_counters(spark)
        t_measure = time.perf_counter()
        while not walls or time.perf_counter() - t_measure < args.seconds:
            attempted += workload.ops
            t = time.perf_counter()
            try:
                for k, v in workload.iterate(len(walls), tracer).items():
                    phases.setdefault(k, []).append(v)
            except Exception:  # noqa: BLE001 — a failed operation is a result
                errors.append(traceback.format_exc())
                break
            walls.append(time.perf_counter() - t)
        rss_mb = peak_rss_mb(spark)
        jvm = {k: v - jvm_before[k] for k, v in jvm_counters(spark).items()}
        if tracer:
            tracer.stop()
        phases = {k: statistics.median(v) for k, v in phases.items()}

        t = time.perf_counter()
        bad = list(errors)
        if not errors:
            bad += workload.check(Oracle(inputs))
        check_s = time.perf_counter() - t
        for b in bad:
            print(f"CHECK FAILED: {b}", file=sys.stderr)

        with open(args.spec) as fh:
            spec = json.load(fh)
        if tracer:
            values = layer_metrics(tracer, workload, phases, session_start_s,
                                   gosales_bytes, jvm)
            wanted = spec["per_layer"]
        else:
            values = {"setup_s": setup_s,
                      "iteration_s": statistics.median(walls) if walls else 0.0}
            wanted = spec["end_to_end"]
        units = {w["name"]: w["unit"] for w in wanted}
        if set(units) != set(values):
            print(f"metric names differ from BENCHMARK.json: "
                  f"{sorted(set(units) ^ set(values))}", file=sys.stderr)
            return 3
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "iterations": len(walls), "setup_s": setup_s,
                          "session_start_s": session_start_s, "check_s": check_s,
                          "peak_rss_mb": rss_mb, "jvm": jvm,
                          "phases": phases}))
        if tracer:
            tracer.dump(args.trace_file)
        failed = min(attempted, len(bad))
        print(json.dumps({
            "correct": not bad,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }))
        return 0 if not bad else 1
    finally:
        stop(spark)


if __name__ == "__main__":
    raise SystemExit(main())
