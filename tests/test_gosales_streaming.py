"""Continuous GoSales pipeline: the streaming deployment must converge to
the batch vertical's exact semantic result, with dims discovered
incrementally and idempotent re-drains."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.plans import gosales, gosales_streaming as gs


def _rowset(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_streaming_gosales_converges_to_batch(spark, sf_dir, tmp_path):
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    gs.stage_raw_stream(spark, sf_dir, raw, n_files=4)
    gs.run_streaming_gosales(spark, sf_dir, raw, wh)

    # dims: discovered key sets equal the batch-built key sets
    rh = spark.read.parquet(f"{wh}/retailer_hlp")
    batch_rh = gosales.retailer_hlp(spark, sf_dir)
    assert {r.retailer_code for r in rh.collect()} == {
        r.retailer_code for r in batch_rh.collect()
    }
    # surrogate keys are dense 1..n with no collisions across batches
    n = rh.count()
    assert {r.retailer_key for r in rh.collect()} == set(range(1, n + 1))

    # fact row count equals the batch fact
    fact = spark.read.parquet(f"{wh}/sales_fact")
    assert fact.count() == gosales.sales_fact(spark, sf_dir).count()
    # every fact row resolved its dims (left joins found matches)
    assert fact.where("retailer_key IS NULL OR product_key IS NULL").count() == 0

    # an idle micro-batch (no new dim key) appends no part file
    for dim in ("method_hlp", "retailer_hlp", "product_lkp"):
        parts = glob.glob(f"{wh}/{dim}/part-*.parquet")
        assert parts
        assert all(pq.ParquetFile(p).metadata.num_rows > 0 for p in parts), dim

    # the semantic overview from streaming-built tables == batch overview
    got = gs.overview_from_warehouse(spark, sf_dir, wh)
    want = gosales.sales_overview(spark, sf_dir)
    assert sorted(got.columns) == sorted(want.columns)
    assert _rowset(got) == _rowset(want)


def test_streaming_gosales_redrain_is_idempotent(spark, sf_dir, tmp_path):
    """A second availableNow run over the same checkpoint must process
    nothing new: same fact rows, same dim keys (exactly-once file
    semantics from the checkpoint)."""
    raw = str(tmp_path / "raw2")
    wh = str(tmp_path / "wh2")
    gs.stage_raw_stream(spark, sf_dir, raw, n_files=2)
    gs.run_streaming_gosales(spark, sf_dir, raw, wh)
    fact_n = spark.read.parquet(f"{wh}/sales_fact").count()
    dim_n = spark.read.parquet(f"{wh}/retailer_hlp").count()

    gs.run_streaming_gosales(spark, sf_dir, raw, wh)
    assert spark.read.parquet(f"{wh}/sales_fact").count() == fact_n
    assert spark.read.parquet(f"{wh}/retailer_hlp").count() == dim_n


def test_streaming_gosales_incremental_new_file(spark, sf_dir, tmp_path):
    """New raw files landing after the first drain are processed
    incrementally: only the new rows append, dims gain only new codes."""
    raw = str(tmp_path / "raw3")
    wh = str(tmp_path / "wh3")
    full = gosales.go_daily_sales(spark, sf_dir).persist()
    first = full.where(F.col("retailer_code").cast("long") % 2 == 0)
    second = full.where(F.col("retailer_code").cast("long") % 2 == 1)

    first.coalesce(1).write.mode("overwrite").parquet(raw)
    gs.run_streaming_gosales(spark, sf_dir, raw, wh)
    n1 = spark.read.parquet(f"{wh}/sales_fact").count()
    assert n1 == first.count()

    second.coalesce(1).write.mode("append").parquet(raw)
    gs.run_streaming_gosales(spark, sf_dir, raw, wh)
    assert spark.read.parquet(f"{wh}/sales_fact").count() == full.count()
    # keys stayed dense across the two generations of discovery
    rh = spark.read.parquet(f"{wh}/retailer_hlp")
    ks = {r.retailer_key for r in rh.collect()}
    assert ks == set(range(1, len(ks) + 1))
    full.unpersist()
