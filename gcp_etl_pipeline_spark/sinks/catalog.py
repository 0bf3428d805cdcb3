"""Catalog-namespace tables (SURVEY §1.1.1): the reference's medallion
layers as REAL session-catalog databases — ``raw.*`` / ``curated.*`` /
``semantic.*`` / ``ops.*`` — instead of bare paths.

The reference addresses layers by bucket prefix (`jobs/raw/dl_rw_job.py:103`,
`...sales_fact_01.py:121`) and by BigQuery dataset
(`tl_sm_gosales_overview_01.sql:4,22-25`: `{project}.{env}_curated.*` →
catalog names here). This module gives the engine the same abstraction:
jobs write ``saveAsTable("curated.sales_fact")`` and downstream SQL reads
``spark.table("curated.sales_fact")`` — location, format, and schema come
from the catalog, not the caller. ``run_gosales_catalog`` builds every
GoSales layer from the catalog tables the layer below it wrote, with the
same recipes as the path-addressed pipeline, and persists nothing.

Scale notes: a catalog table is the same parquet directory underneath —
partition pruning, pushdown, and dynamic partition overwrite behave
identically; what the catalog adds is a single namespace every job and
ad-hoc query resolves identically (and, on a cluster with a shared
metastore, across sessions). ``register_external`` points the catalog at
tables some other job already wrote by path (the gosales_pipeline
warehouse), so path-writers and catalog-readers compose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

LAYERS = ("raw", "curated", "semantic", "ops")


def ensure_namespaces(spark: SparkSession, root: str) -> None:
    """Create the layer databases (idempotent), rooted under ``root`` so
    managed tables land in ``<root>/<layer>.db/<table>`` rather than the
    session-global warehouse dir.

    FIRST-CALL-WINS per session: ``CREATE DATABASE IF NOT EXISTS`` ignores
    the LOCATION when the database already exists, so a later call with a
    DIFFERENT root keeps writing under the first root (correct data, old
    directory). Callers needing repeat invocations in one session should
    derive a session-stable root (see registry's gosales_catalog_overview)
    or drop the databases first."""
    for ns in LAYERS:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {ns} LOCATION '{root}/{ns}.db'")


TARGET_FILE_BYTES = 128 * 1024 * 1024


def scan_bytes(df: DataFrame) -> int:
    """On-disk bytes of a (bare-scan) DataFrame from the optimized
    plan's statistics — file-index metadata, no job. Accurate for a
    plain ``spark.table``/path scan (the stats are the summed file
    sizes); join/aggregate plans multiply estimates, so size writes
    from their SOURCE table's scan, not from the derived plan."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def sized_for_write(df: DataFrame, source_bytes: int) -> DataFrame:
    """Coalesce ``df`` to ≈ceil(source_bytes / target) partitions before
    a ``saveAsTable``: AQE's partition coalescing does not reach the V1
    CTAS path and a REBALANCE hint is ignored there (measured), so
    without this a narrow semantic table lands as one near-empty file
    per task of its final stage — the small-files tax (guide §6) on
    every catalog write. ``coalesce`` never ADDS an exchange and never
    increases the partition count, so at scale (where the final stage
    already has ≥ the target partitions only when the data is big
    enough to warrant them) this is proportional, not a local[32]
    constant."""
    n = max(1, (int(source_bytes) + TARGET_FILE_BYTES - 1) // TARGET_FILE_BYTES)
    return df.coalesce(n)


def save_table(df: DataFrame, name: str) -> None:
    """Materialize ``df`` as a managed parquet catalog table
    (``layer.table``), overwriting it: the reference's truncate-and-insert
    (K5)."""
    df.write.mode("overwrite").format("parquet").saveAsTable(name)


def register_external(spark: SparkSession, name: str, path: str) -> None:
    """Register an existing parquet directory (e.g. a gosales_pipeline
    warehouse table) as an EXTERNAL catalog table — schema inferred from
    the files; data stays owned by the path writer (DROP TABLE won't
    delete it)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} USING parquet LOCATION '{path}'"
    )


def run_gosales_catalog(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """The GoSales vertical THROUGH the catalog: every curated table is
    written with ``saveAsTable`` and each layer is built from the catalog
    tables the layer below wrote (reference EP2/EP3, as
    `plans/gosales_pipeline.py` does over paths). Returns the semantic
    overview read back from ``semantic.tl_sales_overview``
    (result-identical to the inline `plans/gosales.py` build; differential
    oracle `gosales.oracle('sales_overview')`)."""
    from gcp_etl_pipeline_spark.plans import gosales

    ensure_namespaces(spark, root)
    for name in gosales.REGISTRIES:
        save_table(gosales.STAGES[name](spark, sf_dir), f"curated.{name}")
    mh, rh, pl = (spark.table(f"curated.{t}")
                  for t in ("method_hlp", "retailer_hlp", "product_lkp"))
    save_table(gosales.retailer_dim_from(gosales.go_retailers(spark, sf_dir), rh),
               "curated.retailer_dim")
    save_table(gosales.fact_from(gosales.go_daily_sales(spark, sf_dir), rh, pl,
                                 gosales.go_methods(spark, sf_dir), mh),
               "curated.sales_fact")

    fact = spark.table("curated.sales_fact")
    overview = gosales.overview_from_tables(
        fact, spark.table("curated.retailer_dim"), pl, mh
    )
    # the overview is row-for-row the fact with broadcast-joined dims,
    # so the fact scan's on-disk bytes are the right (upper) size proxy
    save_table(
        sized_for_write(overview, scan_bytes(fact)),
        "semantic.tl_sales_overview",
    )
    return spark.table("semantic.tl_sales_overview")
