"""Pipeline runner + run ledger (SURVEY §2.12 O1-O4, §1.1.4 K7).

Replaces the reference's Airflow DAG + Dataproc submission + MySQL
operational-metadata bookkeeping with a toposorted DAG of jobs sharing one
SparkSession. Per job, the runner reproduces the reference's lifecycle
(`jobs/curated/facts/sales_fact/dl_ct_gosales_sales_fact_01.py:137-177`):

  build DataFrame → write, which returns rows written (rows_ingested) →
  ledger row (success), or on failure: sanitized+truncated exception into
  the ledger (`commons/utilities.py:375-387`) and stop.

The ledger is a parquet-appended ``ops/run_log`` table with the reference's
column set (`commons/Job_Meta_Details.py:1-18`): batch_id, job_name,
table_name, layer, rows_ingested, start/end/duration, status, exception,
remarks. Batch IDs are minted by the pipeline and threaded to every job
(reference XCom propagation, `composer/goSalesPipeline.py:68-77`).
"""

from __future__ import annotations

import re
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

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


def append_run_log(spark: SparkSession, ledger_path: str, row: dict) -> None:
    local_frame(
        spark, [tuple(row.get(c) for c in LEDGER_COLUMNS)], LEDGER_SCHEMA
    ).coalesce(1).write.mode("append").parquet(ledger_path)


class Pipeline:
    """Toposorted job DAG in one session (reference O1: batch_id → raw
    loads → curated builds → semantic rollup, `composer/goSalesPipeline.py:
    92-122`). ``run`` executes dependency order, stops at first failure
    (the reference's exit(1) behavior), and ledgers every attempt."""

    def __init__(self, spark: SparkSession, ledger_path: str):
        self.spark = spark
        self.ledger_path = ledger_path
        self.jobs: dict[str, Job] = {}
        self._finish_hooks: list = []

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

    def on_finish(self, hook) -> "Pipeline":
        """Register a cleanup callback ``hook(spark)`` invoked (success or
        failure) after every run — plan modules register their own cache
        releases here instead of the runner knowing about any plan."""
        self._finish_hooks.append(hook)
        return self

    def run(self, ctx: RunContext) -> list[dict]:
        """Execute the DAG; returns the ledger rows written this run.
        Finish hooks fire afterwards so a long-lived service doesn't pin
        executor storage between batches."""
        try:
            return self._run(ctx)
        finally:
            for hook in getattr(self, "_finish_hooks", []):
                try:
                    hook(self.spark)
                except Exception:  # noqa: BLE001 — cleanup is best-effort
                    pass

    def _run(self, ctx: RunContext) -> list[dict]:
        results: list[dict] = []
        for job in self._topo_order():
            started = datetime.now(timezone.utc)
            t0 = time.time()
            row = {
                "batch_id": ctx.batch_id,
                "job_name": job.name,
                "table_name": job.table_name or job.name,
                "layer": job.layer,
                "start_time": started.isoformat(),
                "remarks": "",
            }
            failure = None
            try:
                df = job.build(self.spark, ctx)
                rows = job.write(df, self.spark, ctx)
                row.update(rows_ingested=int(rows), status="SUCCESS", exception="")
            except Exception as exc:  # noqa: BLE001 — stage-scoped capture (O4)
                failure = exc
                row.update(
                    rows_ingested=0,
                    status="FAILED",
                    exception=_sanitize_exception(exc),
                )
            row["end_time"] = datetime.now(timezone.utc).isoformat()
            row["duration_sec"] = round(time.time() - t0, 3)
            append_run_log(self.spark, self.ledger_path, row)
            results.append(row)
            if failure is not None:
                raise PipelineError(job.name, row["exception"], results) from failure
        return results


class PipelineError(RuntimeError):
    def __init__(self, job_name: str, sanitized: str, ledger_rows: list[dict]):
        super().__init__(f"job {job_name} failed: {sanitized}")
        self.job_name = job_name
        self.ledger_rows = ledger_rows
