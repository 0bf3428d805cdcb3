"""The medallion write contract: a sink returns the rows it wrote, and a
table that may not exist is read one way (``sinks.writers.read_target``).
A table is absent only when its path is missing or holds nothing but
entries Spark hides; any other read error propagates, so a damaged
target never reads as "first run" (which would re-append every row or
reset a watermark)."""

from __future__ import annotations

import os

import pytest

from gcp_etl_pipeline_spark.sinks.writers import (
    insert_new_rows,
    read_target,
    write_parquet,
)
from gcp_etl_pipeline_spark.sources.incremental_ingest import IngestionCatalog

CORRUPT_PART = "part-00000-corrupt.snappy.parquet"


def _corrupt_table(path: str) -> None:
    os.makedirs(path)
    with open(os.path.join(path, CORRUPT_PART), "wb") as fh:
        fh.write(b"not a parquet file")


def test_write_parquet_returns_rows_written(spark, tmp_path):
    df = spark.range(7)
    path = str(tmp_path / "t")
    assert write_parquet(df, path) == 7
    assert write_parquet(df.where("id < 3"), path, mode="append") == 3
    assert spark.read.parquet(path).count() == 10
    assert write_parquet(df.limit(0), str(tmp_path / "empty")) == 0


def test_read_target_absent(spark, tmp_path):
    assert read_target(spark, str(tmp_path / "missing")) is None
    # a first write that never committed leaves only Spark-hidden entries
    uncommitted = tmp_path / "uncommitted"
    (uncommitted / "_temporary" / "0").mkdir(parents=True)
    assert read_target(spark, str(uncommitted)) is None
    present = str(tmp_path / "present")
    write_parquet(spark.range(2), present)
    assert read_target(spark, present).count() == 2


def test_insert_new_rows_raises_on_unreadable_target(spark, tmp_path):
    path = str(tmp_path / "dim")
    _corrupt_table(path)
    df = spark.createDataFrame([("a",), ("b",)], ["code"])
    with pytest.raises(Exception, match="(?i)parquet"):
        insert_new_rows(df, path, ["code"])
    assert os.listdir(path) == [CORRUPT_PART]  # nothing appended


def test_get_watermark_raises_on_unreadable_catalog(spark, tmp_path):
    path = str(tmp_path / "meta")
    _corrupt_table(path)
    with pytest.raises(Exception, match="(?i)parquet"):
        IngestionCatalog(spark, path).get_watermark("raw.t")


def test_set_watermark_overwrites_in_place(spark, tmp_path):
    path = str(tmp_path / "meta")
    cat = IngestionCatalog(spark, path)
    assert cat.get_watermark("raw.a") is None
    cat.set_watermark("raw.a", "d", "2024-01-01")
    cat.set_watermark("raw.b", "d", "2024-02-01")
    cat.set_watermark("raw.a", "d", "2024-03-01")
    assert cat.get_watermark("raw.a") == "2024-03-01"
    assert cat.get_watermark("raw.b") == "2024-02-01"
    assert os.listdir(tmp_path) == ["meta"]  # no staged copy left behind
