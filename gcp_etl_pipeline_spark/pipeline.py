"""Pipeline runner + run ledger (SURVEY §2.12 O1-O4, §1.1.4 K7).

Replaces the reference's Airflow DAG + Dataproc submission + MySQL
operational-metadata bookkeeping with a DAG of jobs sharing one
SparkSession. Like the Airflow scheduler, the runner starts each job as
soon as every job it depends on has succeeded, so independent jobs overlap
their driver round trips (each runs on its own thread, inheriting the
caller's job group and local properties). Per job, the runner reproduces
the reference's lifecycle
(`jobs/curated/facts/sales_fact/dl_ct_gosales_sales_fact_01.py:137-177`):

  build DataFrame → write, which returns rows written (rows_ingested) →
  ledger row (success), or on failure: sanitized+truncated exception into
  the ledger (`commons/utilities.py:375-387`).

After the first failure no new job starts; jobs already running finish and
are ledgered, then the run raises ``PipelineError`` for that first failure.
A job whose dependency failed never starts and gets no ledger row.

The ledger is a parquet-appended ``ops/run_log`` table with the reference's
column set (`commons/Job_Meta_Details.py:1-18`): batch_id, job_name,
table_name, layer, rows_ingested, start/end/duration, status, exception,
remarks. Rows are appended in completion order, all from the calling
thread (two appends into one parquet path share its ``_temporary``
directory, which the first commit deletes). ``duration_sec`` is the job's
wall time, which under overlap includes time shared with other jobs. Batch
IDs are minted by the pipeline and threaded to every job (reference XCom
propagation, `composer/goSalesPipeline.py:68-77`). Each job's Spark work
carries the job tag ``pipeline:<batch_id>:<job name>`` (see ``job_tag``),
so its Spark jobs can be attributed while jobs overlap. A job releases
whatever it persists before its write returns.
"""

from __future__ import annotations

import queue
import re
import threading
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from gcp_etl_pipeline_spark.sinks.writers import local_frame


@dataclass(frozen=True)
class RunContext:
    """Per-run identity threaded through every job (reference O2)."""

    batch_id: str
    env: str = "dev"
    params: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Job:
    """One pipeline stage. ``build`` authors the DataFrame; ``write``
    materializes it and returns the rows it wrote."""

    name: str
    layer: str  # RAW | curated | SEMANTIC (reference layer tags)
    build: Callable[[SparkSession, RunContext], DataFrame]
    write: Callable[[DataFrame, SparkSession, RunContext], int]
    table_name: str = ""
    depends_on: tuple[str, ...] = ()


def _sanitize_exception(exc: BaseException, limit: int = 1500) -> str:
    """Reference exception hygiene (`commons/utilities.py:378-383`):
    strip non-ASCII and quotes, truncate."""
    text = "".join(traceback.format_exception_only(type(exc), exc))
    text = re.sub(r"[^\x20-\x7e]", " ", text).replace("'", "").replace('"', "")
    return text[:limit]


LEDGER_COLUMNS = [
    "batch_id", "job_name", "table_name", "layer", "rows_ingested",
    "start_time", "end_time", "duration_sec", "status", "exception", "remarks",
]
LEDGER_SCHEMA = (
    "batch_id STRING, job_name STRING, table_name STRING, layer STRING, "
    "rows_ingested BIGINT, start_time STRING, end_time STRING, "
    "duration_sec DOUBLE, status STRING, exception STRING, remarks STRING"
)


def job_tag(ctx: RunContext, job: Job) -> str:
    """The Spark job tag carried by every Spark job that ``job`` runs."""
    return f"pipeline:{ctx.batch_id}:{job.name}"


def append_run_log(spark: SparkSession, ledger_path: str, row: dict) -> None:
    local_frame(
        spark, [tuple(row.get(c) for c in LEDGER_COLUMNS)], LEDGER_SCHEMA
    ).coalesce(1).write.mode("append").parquet(ledger_path)


class Pipeline:
    """Job DAG in one session (reference O1: batch_id → raw loads →
    curated builds → semantic rollup, `composer/goSalesPipeline.py:92-122`).
    ``run`` starts every job whose dependencies have succeeded, as many at
    once as are ready; it stops starting jobs at the first failure (the
    reference's exit(1) behavior), lets running jobs finish, and ledgers
    every attempt."""

    def __init__(self, spark: SparkSession, ledger_path: str):
        self.spark = spark
        self.ledger_path = ledger_path
        self.jobs: dict[str, Job] = {}

    def add(self, job: Job) -> "Pipeline":
        if job.name in self.jobs:
            raise ValueError(f"duplicate job {job.name}")
        self.jobs[job.name] = job
        return self

    def _topo_order(self) -> list[Job]:
        order: list[Job] = []
        done: set[str] = set()
        visiting: set[str] = set()

        def visit(name: str) -> None:
            if name in done:
                return
            if name in visiting:
                raise ValueError(f"dependency cycle at {name}")
            visiting.add(name)
            for dep in self.jobs[name].depends_on:
                if dep not in self.jobs:
                    raise ValueError(f"{name} depends on unknown job {dep}")
                visit(dep)
            visiting.discard(name)
            done.add(name)
            order.append(self.jobs[name])

        for name in self.jobs:
            visit(name)
        return order

    def run(self, ctx: RunContext) -> list[dict]:
        """Execute the DAG; returns the ledger rows written this run, in
        completion order."""
        waiting = self._topo_order()
        done: queue.SimpleQueue = queue.SimpleQueue()
        succeeded: set[str] = set()
        results: list[dict] = []
        failed = None  # (ledger row, exception) of the first failure
        running = 0
        try:
            while True:
                if failed is None:
                    ready = [j for j in waiting if succeeded.issuperset(j.depends_on)]
                    for job in ready:
                        waiting.remove(job)
                        # wrapped per job: the wrapper clones the caller's
                        # local properties, so one job's tag stays its own
                        threading.Thread(
                            target=inheritable_thread_target(self.spark)(self._attempt),
                            args=(job, ctx, done),
                            name=f"pipeline-{job.name}",
                        ).start()
                        running += 1
                if not running:
                    break
                row, exc = done.get()
                running -= 1
                append_run_log(self.spark, self.ledger_path, row)
                results.append(row)
                if row["status"] == "SUCCESS":
                    succeeded.add(row["job_name"])
                elif failed is None:
                    failed = (row, exc)
        finally:
            # on an error (a ledger write, an interrupt) jobs may still be
            # running: the run returns only after every started job has
            # reported, so no job outlives the call
            for _ in range(running):
                done.get()
        if failed is not None:
            row, exc = failed
            raise PipelineError(row["job_name"], row["exception"], results) from exc
        return results

    def _attempt(self, job: Job, ctx: RunContext, done: queue.SimpleQueue) -> None:
        """One job on its own thread; always reports ``(row, exception)``."""
        sc = self.spark.sparkContext
        tag = job_tag(ctx, job)
        started = datetime.now(timezone.utc)
        t0 = time.time()
        row = {
            "batch_id": ctx.batch_id,
            "job_name": job.name,
            "table_name": job.table_name or job.name,
            "layer": job.layer,
            "rows_ingested": 0,
            "start_time": started.isoformat(),
            "status": "FAILED",
            "exception": "",
            "remarks": "",
        }
        failure = None
        try:
            sc.addJobTag(tag)
            df = job.build(self.spark, ctx)
            rows = job.write(df, self.spark, ctx)
            row.update(rows_ingested=int(rows), status="SUCCESS")
        except Exception as exc:  # noqa: BLE001 — stage-scoped capture (O4)
            failure = exc
            row["exception"] = _sanitize_exception(exc)
        finally:
            row["end_time"] = datetime.now(timezone.utc).isoformat()
            row["duration_sec"] = round(time.time() - t0, 3)
            # report first: the runner must hear back even if the tag
            # cannot be removed (a tag Spark refused to add, say)
            done.put((row, failure))
            sc.removeJobTag(tag)


class PipelineError(RuntimeError):
    def __init__(self, job_name: str, sanitized: str, ledger_rows: list[dict]):
        super().__init__(f"job {job_name} failed: {sanitized}")
        self.job_name = job_name
        self.ledger_rows = ledger_rows
