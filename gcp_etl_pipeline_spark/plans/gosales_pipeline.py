"""The GoSales vertical as a MATERIALIZED pipeline: the reference's full
build order (`composer/goSalesPipeline.py:23-29`) writing real tables into
a warehouse directory through the engine's Pipeline runner + run ledger.

Layered reads: each job reads what its declared dependencies WROTE, so no
job re-derives an upstream layer from the sources. ``retailer_dim`` joins
the retailer source with the written ``curated/retailer_hlp``;
``sales_fact`` joins the daily sales and the method source (its 2 raw
inputs) with the written ``method_hlp``, ``retailer_hlp`` and
``product_lkp`` (its 3 curated deps, reference EP2
`dl_ct_gosales_sales_fact_01.py:139-143`); ``tl_sales_overview`` rolls up
the written star only (reference EP3 `tl_sm_gosales_overview_01.sql:22-25`).

Physical design (the decisions the reference left latent, SURVEY §4):
  - the raw job's build only normalizes and casts; its write runs the
    quarantine gate (``enforce_to_quarantine``), masking, audit stamps
    and the watermark ingest inside the gate's ``with`` block, so the
    persisted raw input is released when the write returns;
  - helpings/lookup/dim maintenance is insert-new-only against the WRITTEN
    target (idempotent re-runs; reference `mode("append")` + anti-join);
    a registry's new natural keys get surrogate keys continued from the
    written registry's max key, so keys are never reused;
  - the fact is a full-refresh overwrite PARTITIONED BY sale month, so
    dynamic partition overwrite replaces only touched months and every
    downstream date-filtered scan prunes partitions;
  - the semantic overview is truncate-insert (overwrite), the reference K5.

Audit columns are stamped with the ctx batch_id; ``batch_ts`` in
ctx.params pins timestamps for deterministic tests.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators.audit import add_audit_columns
from gcp_etl_pipeline_spark.pipeline import Job, Pipeline, RunContext
from gcp_etl_pipeline_spark.plans import gosales
from gcp_etl_pipeline_spark.sinks.writers import insert_new_rows, write_parquet
from gcp_etl_pipeline_spark.spec import ColumnSpec, TableSpec

LAYER_CURATED = "curated"
LAYER_SEMANTIC = "SEMANTIC"


def _audited(df: DataFrame, ctx: RunContext, table_id: int) -> DataFrame:
    return add_audit_columns(
        df,
        batch_id=ctx.batch_id,
        source="gosales",
        table_id=table_id,
        batch_ts=ctx.params.get("batch_ts"),
    )


# EP1 ingestion contract for the daily-sales feed (reference
# `jobs/raw/mysql_to_gcs_parquet.py:38-60`): date stringified at source,
# watermark-driven increments, retailer code masked at rest.
DAILY_SALES_SPEC = TableSpec(
    name="raw.go_daily_sales",
    columns=(
        ColumnSpec("retailer_code", "varchar(32)"),
        ColumnSpec("product_number", "varchar(32)"),
        ColumnSpec("order_method_code", "varchar(32)"),
        ColumnSpec("sale_date", "date"),
        ColumnSpec("quantity", "double"),
        ColumnSpec("unit_price", "double"),
        ColumnSpec("unit_sale_price", "double"),
    ),
    watermark_column="sale_date",
    masking_columns=("retailer_code",),
)


def build_pipeline(sf_dir: str, warehouse: str, spark: SparkSession) -> Pipeline:
    p = Pipeline(spark, ledger_path=f"{warehouse}/ops/run_log")

    # ---------------------------------------------------------- raw layer
    # EP1: contract-driven ingest — string hygiene, spec casts, then in the
    # write: the quarantine gate, the masked column, audit stamps and the
    # watermark-incremental append + metadata update.
    def build_raw(spark: SparkSession, ctx: RunContext) -> DataFrame:
        from gcp_etl_pipeline_spark.operators.normalize import (
            cast_to_spec,
            normalize_strings,
        )

        df = gosales.go_daily_sales(spark, sf_dir)
        return cast_to_spec(normalize_strings(df), DAILY_SALES_SPEC)

    def write_raw(df: DataFrame, spark: SparkSession, ctx: RunContext) -> int:
        # imported at call time: perfbench's tracer patches
        # ingest_incremental on its module, so the name resolves per run
        from gcp_etl_pipeline_spark.operators import expectations as ex
        from gcp_etl_pipeline_spark.operators.masking import mask_columns
        from gcp_etl_pipeline_spark.sources.incremental_ingest import (
            IngestionCatalog,
            ingest_incremental,
        )

        cat = IngestionCatalog(spark, f"{warehouse}/ops/ingestion_metadata")
        key = ctx.params.get("mask_key", "0123456789abcdef")
        # contract gate BEFORE masking: rows violating the TableSpec's
        # implied rules route to the quarantine sink with provenance;
        # only the clean split continues into the raw table, written
        # while the gate holds its persisted input
        with ex.enforce_to_quarantine(
            df,
            ex.from_spec(DAILY_SALES_SPEC),
            f"{warehouse}/quarantine/go_daily_sales",
            batch_id=ctx.batch_id,
        ) as good:
            masked = mask_columns(good, list(DAILY_SALES_SPEC.masking_columns), key)
            return ingest_incremental(
                DAILY_SALES_SPEC, _audited(masked, ctx, 100),
                f"{warehouse}/raw/go_daily_sales", cat,
            )

    p.add(
        Job(
            name="raw_go_daily_sales", layer="RAW", build=build_raw,
            write=write_raw, table_name="go_daily_sales",
        )
    )

    def curated(name: str) -> str:
        return f"{warehouse}/curated/{name}"

    def maintenance_job(
        name: str, table_id: int, candidates: Callable[[SparkSession], DataFrame],
        natural: str, key_col: str | None = None, deps: tuple[str, ...] = (),
    ) -> Job:
        def build(spark: SparkSession, ctx: RunContext) -> DataFrame:
            return _audited(candidates(spark), ctx, table_id)

        def write(df: DataFrame, spark: SparkSession, ctx: RunContext) -> int:
            return insert_new_rows(df, curated(name), [natural], key_col=key_col)

        return Job(name=name, layer=LAYER_CURATED, build=build, write=write,
                   table_name=name, depends_on=deps)

    # registries: unkeyed candidates, keyed by insert_new_rows from the
    # written registry's max key
    for name, table_id in (("method_hlp", 101), ("retailer_hlp", 102),
                           ("product_lkp", 103)):
        key_col, natural, candidates = gosales.REGISTRIES[name]
        p.add(maintenance_job(name, table_id, partial(candidates, sf_dir=sf_dir),
                              natural, key_col))

    def retailer_dim(spark: SparkSession) -> DataFrame:
        return gosales.retailer_dim_from(
            gosales.go_retailers(spark, sf_dir),
            spark.read.parquet(curated("retailer_hlp")),
        )

    p.add(maintenance_job("retailer_dim", 104, retailer_dim, "retailer_key",
                          deps=("retailer_hlp",)))

    def build_fact(spark: SparkSession, ctx: RunContext) -> DataFrame:
        # Backfill support (reference argv parity: optional start_date /
        # end_date bounds, `jobs/raw/dl_rw_job.py:127-134`). The rebuild
        # window is WIDENED to whole months — the fact's partition grain —
        # because dynamic overwrite replaces entire sale_month partitions:
        # filtering on the raw dates would silently drop the out-of-range
        # rows of a partially-covered month when its partition is
        # rewritten. Untouched months keep their rows and original batch
        # stamps. sale_date is the reference's stringified yyyy-MM-dd, so
        # string prefix comparison IS month comparison.
        df = gosales.fact_from(
            gosales.go_daily_sales(spark, sf_dir),
            spark.read.parquet(curated("retailer_hlp")),
            spark.read.parquet(curated("product_lkp")),
            gosales.go_methods(spark, sf_dir),
            spark.read.parquet(curated("method_hlp")),
        )
        start = ctx.params.get("start_date")
        end = ctx.params.get("end_date")
        month = F.substring("sale_date", 1, 7)
        if start:
            df = df.where(month >= start[:7])
        if end:
            df = df.where(month <= end[:7])
        return _audited(df, ctx, 105).withColumn(
            "sale_month", F.substring("sale_date", 1, 7)
        )

    def write_fact(df: DataFrame, spark: SparkSession, ctx: RunContext) -> int:
        # dynamic partition overwrite: only months present in df are replaced
        return write_parquet(
            df, curated("sales_fact"), mode="overwrite",
            partition_by=["sale_month"],
        )

    p.add(
        Job(
            name="sales_fact", layer=LAYER_CURATED, build=build_fact,
            write=write_fact, table_name="sales_fact",
            depends_on=("method_hlp", "retailer_hlp", "product_lkp"),
        )
    )

    def build_overview(spark: SparkSession, ctx: RunContext) -> DataFrame:
        overview = gosales.overview_from_tables(
            *(spark.read.parquet(curated(t))
              for t in ("sales_fact", "retailer_dim", "product_lkp", "method_hlp"))
        )
        return _audited(overview, ctx, 106)

    def write_overview(df: DataFrame, spark: SparkSession, ctx: RunContext) -> int:
        return write_parquet(
            df, f"{warehouse}/semantic/tl_sales_overview", mode="overwrite"
        )

    p.add(
        Job(
            name="tl_sales_overview", layer=LAYER_SEMANTIC, build=build_overview,
            write=write_overview, table_name="tl_sales_overview",
            depends_on=("sales_fact", "retailer_dim", "product_lkp", "method_hlp"),
        )
    )
    return p
