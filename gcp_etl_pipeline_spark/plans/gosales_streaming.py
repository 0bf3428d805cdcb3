"""The GoSales vertical as a CONTINUOUS deployment: raw ``go_daily_sales``
files land in a directory; each Structured Streaming micro-batch maintains
the dimension tables insert-new-only (surrogate keys continuing from the
written target) and appends enriched fact rows; the semantic overview is
recomputed from the written tables after (or between) drains — the
streaming form of the reference's Airflow-triggered batch chain
(`composer/goSalesPipeline.py:23-29`), with `foreachBatch` playing the
role of the per-job curated writes.

Design notes (the at-scale contracts):
  - dims are DISCOVERED from the stream (new retailer/product/method codes
    get keys on first sight) with attributes joined from static masters —
    the standard stream-static enrichment pattern; the static masters are
    dim-sized and broadcast;
  - every micro-batch does bounded work: anti-join against the (small)
    written dim, a window over the NEW rows only for key assignment, and
    a broadcast-enriched write of the batch's facts into a batch-id-keyed
    directory — no global state, no growing driver memory. foreachBatch
    is at-least-once, so every write is replay-idempotent: dim
    maintenance anti-joins the already-written keys, and the fact write
    OVERWRITES its own batch=<id> partition, so a crash-and-replay never
    duplicates rows; key assignment is deterministic given arrival order;
  - each batch's facts are enriched by ``gosales.fact_from``, the batch
    fact's own recipe, against the written registries and the static
    ``go_methods`` master, so the stream fact cannot drift from the batch
    fact; new method names are discovered with the master's own
    ``split_part(code, '-', 2)`` projection;
  - final-state equality: surrogate KEY VALUES depend on arrival order,
    but the key→attribute mapping is functional, so the semantic overview
    (grouped by display attributes) from streaming-built tables equals
    the batch `sales_overview` EXACTLY — asserted in
    tests/test_gosales_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators.normalize import norm_key
from gcp_etl_pipeline_spark.plans import gosales
from gcp_etl_pipeline_spark.sinks.writers import insert_new_rows, read_target
from gcp_etl_pipeline_spark.streaming.core import drain, file_stream

RAW_SCHEMA = (
    "retailer_code STRING, product_number STRING, order_method_code STRING, "
    "sale_date STRING, quantity DOUBLE, unit_price DOUBLE, "
    "unit_sale_price DOUBLE"
)


def stage_raw_stream(
    spark: SparkSession, sf_dir: str, raw_dir: str, n_files: int = 4
) -> None:
    """Land the raw daily-sales feed as ``n_files`` parquet files — the
    arrival layout a file-watching stream consumes (each file becomes one
    micro-batch with maxFilesPerTrigger=1)."""
    gosales.go_daily_sales(spark, sf_dir).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(raw_dir)


def _maintain_dim(
    cand: DataFrame, path: str, key_col: str, nat_keys: list[str]
) -> int:
    """Insert-new-only + surrogate continuation against the written dim
    (`insert_new_rows` with ``key_col``): anti-join the candidates, key
    ONLY the new rows from max(target)+1, append nothing when no row is
    new. Returns rows written."""
    return insert_new_rows(cand, path, nat_keys, normalize=False, key_col=key_col)


def _process_batch(warehouse: str, products_static, methods_static):
    """foreachBatch body builder. The static masters arrive pre-built so
    every batch reuses the same (broadcastable) DataFrames."""

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.persist()
        try:
            # --- dims discovered from the stream, attributes from masters
            _maintain_dim(
                batch.select(
                    F.expr("split_part(order_method_code, '-', 2)").alias(
                        "method_name"
                    )
                ).distinct(),
                f"{warehouse}/method_hlp",
                "method_key",
                ["method_name"],
            )
            _maintain_dim(
                batch.select("retailer_code").distinct(),
                f"{warehouse}/retailer_hlp",
                "retailer_key",
                ["retailer_code"],
            )
            seen_products = batch.select("product_number").distinct().alias("b")
            _maintain_dim(
                seen_products.join(
                    F.broadcast(products_static.alias("s")),
                    norm_key(F.col("b.product_number"))
                    == norm_key(F.col("s.product_number")),
                )
                .drop(F.col("s.product_number")),
                f"{warehouse}/product_lkp",
                "product_key",
                ["product_number"],
            )

            # --- enrich THIS batch's facts against the updated dims
            fact = gosales.fact_from(
                batch,
                read_target(spark, f"{warehouse}/retailer_hlp"),
                read_target(spark, f"{warehouse}/product_lkp"),
                methods_static,
                read_target(spark, f"{warehouse}/method_hlp"),
            )
            # batch-id-keyed directory, OVERWRITTEN on write: foreachBatch
            # is at-least-once, so a plain append would duplicate this
            # batch's rows when the engine replays it after a crash
            # between the append and the checkpoint commit; overwriting
            # batch=<id> makes the replay land on top of the first
            # attempt. (Dim maintenance is already replay-safe: the
            # anti-join sees the previously written keys.)
            fact.write.mode("overwrite").parquet(
                f"{warehouse}/sales_fact/batch={batch_id}"
            )
        finally:
            batch.unpersist()

    return process


def run_streaming_gosales(
    spark: SparkSession, sf_dir: str, raw_dir: str, warehouse: str
) -> None:
    """Drain everything currently staged in ``raw_dir`` through the
    continuous pipeline (availableNow; a production deployment runs the
    same query with a processing-time trigger and it never stops)."""
    products = gosales.go_products(spark, sf_dir)
    methods = gosales.go_methods(spark, sf_dir)
    drain(
        file_stream(spark, RAW_SCHEMA, raw_dir),
        _process_batch(warehouse, products, methods),
        f"{warehouse}/_ckpt",  # stable: a re-drain resumes, processes nothing old
    )


def overview_from_warehouse(spark: SparkSession, sf_dir: str, warehouse: str) -> DataFrame:
    """Semantic rollup over the streaming-built tables: same µ-unit exact
    recipe as the batch `sales_overview`, reading written parquet (the
    'semantic layer reads the curated table' shape the batch plan
    documents for 100 TB). retailer_dim is derived on the fly from the
    written helping + static master (broadcast-sized)."""
    fact = spark.read.parquet(f"{warehouse}/sales_fact")
    rh = read_target(spark, f"{warehouse}/retailer_hlp")
    pl = read_target(spark, f"{warehouse}/product_lkp")
    mh = read_target(spark, f"{warehouse}/method_hlp")
    rd = gosales.retailer_dim_from(gosales.go_retailers(spark, sf_dir), rh)
    return gosales.overview_from_tables(fact, rd, pl, mh)
