"""The medallion write contract: a sink returns the rows it wrote, and a
table that may not exist is read one way (``sinks.writers.read_target``).
A table is absent only when its path is missing or holds nothing but
entries Spark hides; any other read error propagates, so a damaged
target never reads as "first run" (which would re-append every row or
reset a watermark). Driver-side rows become a DataFrame one way
(``sinks.writers.local_frame``): a JVM local relation, not a Python
RDD."""

from __future__ import annotations

import ast
import glob
import os

import pyarrow as pa
import pytest
from pyspark.sql.types import StructType

from gcp_etl_pipeline_spark.pipeline import (
    LEDGER_COLUMNS,
    LEDGER_SCHEMA,
    append_run_log,
)
from gcp_etl_pipeline_spark.sinks.writers import (
    insert_new_rows,
    local_frame,
    read_target,
    write_parquet,
)
from gcp_etl_pipeline_spark.sources.incremental_ingest import IngestionCatalog
from gcp_etl_pipeline_spark.streaming.core import read_events_stream

CORRUPT_PART = "part-00000-corrupt.snappy.parquet"


def _corrupt_table(path: str) -> None:
    os.makedirs(path)
    with open(os.path.join(path, CORRUPT_PART), "wb") as fh:
        fh.write(b"not a parquet file")


def _parts(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "part-*.parquet"))


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


def test_events_stream_empty_landing_dir_vs_unreadable_file(spark, tmp_path):
    """A landing dir with no data file yet has no footer to sniff and gets
    the default schema; a corrupt data file in it raises instead of
    silently picking that schema."""
    (tmp_path / "empty").mkdir()
    assert read_events_stream(spark, str(tmp_path / "empty")).isStreaming
    landing = str(tmp_path / "landing")
    _corrupt_table(landing)
    with pytest.raises(pa.ArrowInvalid):
        read_events_stream(spark, landing)


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
    assert len(_parts(path)) == 1  # both tables' rows in one part file


def test_local_frame_plans_as_local_table_scan(spark):
    df = local_frame(spark, [(1, "a"), (2, "b")], "k BIGINT, v STRING")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lstrip().startswith("LocalTableScan"), plan
    assert "ExistingRDD" not in plan
    assert sorted(df.collect()) == [(1, "a"), (2, "b")]


def test_local_frame_all_null_column_keeps_declared_type(spark, tmp_path):
    ddl = "k BIGINT, note STRING, at TIMESTAMP"
    df = local_frame(spark, [(1, None, None), (2, None, None)], ddl)
    assert df.schema == StructType.fromDDL(ddl)
    path = str(tmp_path / "t")
    df.write.parquet(path)
    assert spark.read.parquet(path).schema == StructType.fromDDL(ddl)
    assert local_frame(spark, [], ddl).schema == StructType.fromDDL(ddl)


def test_ledger_reads_back_across_part_file_generations(spark, tmp_path):
    """A ledger written before ``local_frame`` (a ``createDataFrame`` of a
    Python list) and appended to after it reads back as one table."""
    path = str(tmp_path / "run_log")
    old = ("b0", "raw", "raw.t", "RAW", 5, "s", "e", 1.5, "SUCCESS", None, None)
    spark.createDataFrame(
        [old],
        "batch_id STRING, job_name STRING, table_name STRING, layer STRING, "
        "rows_ingested BIGINT, start_time STRING, end_time STRING, "
        "duration_sec DOUBLE, status STRING, exception STRING, remarks STRING",
    ).coalesce(1).write.mode("append").parquet(path)
    for i in (1, 2):
        append_run_log(spark, path, {
            "batch_id": f"b{i}", "job_name": "raw", "rows_ingested": i,
            "duration_sec": 0.5, "status": "FAILED", "exception": "boom",
        })
    assert len(_parts(path)) == 3  # one part file per append
    ledger = spark.read.parquet(path)
    assert ledger.schema == StructType.fromDDL(LEDGER_SCHEMA)
    assert ledger.columns == LEDGER_COLUMNS
    got = sorted(
        (r.batch_id, r.rows_ingested, r.status, r.exception, r.layer)
        for r in ledger.collect()
    )
    assert got == [
        ("b0", 5, "SUCCESS", None, "RAW"),
        ("b1", 1, "FAILED", "boom", None),
        ("b2", 2, "FAILED", "boom", None),
    ]


WRITE_PATH_SOURCES = ("pipeline.py", "sinks", "sources")


def test_driver_rows_reach_write_paths_only_through_local_frame():
    """No ``createDataFrame`` call on a write path except inside
    ``local_frame``: a Python list there runs through a Python RDD and a
    Python worker for every write."""
    import gcp_etl_pipeline_spark

    root = os.path.dirname(gcp_etl_pipeline_spark.__file__)
    files = []
    for entry in WRITE_PATH_SOURCES:
        p = os.path.join(root, entry)
        files += glob.glob(os.path.join(p, "*.py")) if os.path.isdir(p) else [p]
    assert len(files) > 3
    offenders = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        allowed = {
            id(n)
            for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name == "local_frame"
            for n in ast.walk(f)
        }
        offenders += [
            f"{os.path.relpath(path, root)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
            and id(n) not in allowed
        ]
    assert offenders == []
