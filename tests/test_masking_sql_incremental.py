"""Tests for the masking operator (U2), the SQL entry point + BQ dialect
shims (EP3), and watermark-driven incremental ingestion (I1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark import sql as esql
from gcp_etl_pipeline_spark.operators.masking import mask_columns, unmask_columns
from gcp_etl_pipeline_spark.sources.incremental_ingest import (
    IngestionCatalog,
    ingest_incremental,
)
from gcp_etl_pipeline_spark.spec import ColumnSpec, TableSpec

KEY = "0123456789abcdef"  # 16-byte AES key


# ------------------------------------------------------------------ masking

def test_mask_roundtrip_gcm(spark):
    df = spark.createDataFrame(
        [(1, "alice", 100.5), (2, "bob", 200.0)], ["id", "name", "bal"]
    )
    masked = mask_columns(df, ["name"], KEY)
    assert masked.filter(F.col("name") == "alice").count() == 0
    back = unmask_columns(masked, ["name"], KEY)
    assert {r.name for r in back.collect()} == {"alice", "bob"}


def test_mask_envelope_roundtrip_and_keyring(spark):
    from gcp_etl_pipeline_spark.operators.masking import (
        DEK_ID_COL,
        LocalKmsStub,
        mask_columns_envelope,
        unmask_columns_envelope,
    )

    kms = LocalKmsStub()
    df = spark.createDataFrame(
        [(i, f"user{i}") for i in range(100)], ["id", "name"]
    ).repartition(8)
    masked, keyring = mask_columns_envelope(df, ["name"], kms, num_deks=4)
    assert len(keyring) == 4  # exactly num_deks KMS wrap calls, not per-row
    assert DEK_ID_COL in masked.columns
    assert masked.filter(F.col("name") == "user7").count() == 0  # ciphertext
    back = unmask_columns_envelope(masked, ["name"], keyring, kms)
    assert DEK_ID_COL not in back.columns
    assert {r.name for r in back.collect()} == {f"user{i}" for i in range(100)}
    # a wrong keyring (tampered wrap) must NOT decrypt: GCM auth either
    # errors the job or yields no plaintext — never silently wrong data
    bad = {i: w[:-4] + "AAA=" for i, w in keyring.items()}
    try:
        names = {
            r.name
            for r in unmask_columns_envelope(masked, ["name"], bad, kms).collect()
        }
        assert "user7" not in names
    except Exception:  # noqa: BLE001 — Spark raises on GCM tag mismatch
        pass


# ------------------------------------------------------------ SQL dialect

def test_substitute_params_reference_style():
    out = esql.substitute_params(
        "SELECT '{batch_id}' AS b FROM {env}_curated.t", {"batch_id": "b-9", "env": "dd"}
    )
    assert out == "SELECT 'b-9' AS b FROM dd_curated.t"


def test_parse_date_shim():
    out = esql.translate("SELECT PARSE_DATE('%Y-%m-%d', sale_date) AS d FROM t")
    assert out == "SELECT to_date(sale_date, 'yyyy-MM-dd') AS d FROM t"


def test_backtick_project_shim():
    out = esql.translate("SELECT * FROM `my-proj.dd_curated.sales_fact`")
    assert out == "SELECT * FROM dd_curated.sales_fact"


def test_truncate_insert_shim():
    out = esql.translate(
        "TRUNCATE TABLE sem.t;\nINSERT INTO sem.t (a, b)\nSELECT a, b FROM src"
    )
    assert out.startswith("INSERT OVERWRITE TABLE sem.t SELECT")


def test_run_sql_end_to_end(spark):
    spark.createDataFrame([("2024-03-01",)], ["sale_date"]).createOrReplaceTempView(
        "shim_src"
    )
    df = esql.run_sql(
        spark,
        "SELECT PARSE_DATE('%Y-%m-%d', sale_date) AS d FROM {tbl}",
        {"tbl": "shim_src"},
    )
    assert str(df.first().d) == "2024-03-01"


# ------------------------------------------------- incremental ingestion

def test_watermark_incremental_ingest(spark, tmp_path):
    spec = TableSpec(
        name="raw.sales",
        columns=(ColumnSpec("id", "bigint"), ColumnSpec("sale_date", "date")),
        watermark_column="sale_date",
    )
    cat = IngestionCatalog(spark, str(tmp_path / "meta"))
    target = str(tmp_path / "raw_sales")

    full = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-03"), (4, "2024-01-04")],
        ["id", "sale_date"],
    )
    # batch 1: only the first two days exist at the source
    n1 = ingest_incremental(spec, full.filter("sale_date <= '2024-01-02'"), target, cat)
    assert n1 == 2
    assert cat.get_watermark("raw.sales") == "2024-01-02"

    # batch 2: full source again -> only rows past the watermark ingest
    n2 = ingest_incremental(spec, full, target, cat)
    assert n2 == 2
    assert cat.get_watermark("raw.sales") == "2024-01-04"
    assert spark.read.parquet(target).count() == 4  # no duplicates

    # batch 3: nothing new
    n3 = ingest_incremental(spec, full, target, cat)
    assert n3 == 0
    assert spark.read.parquet(target).count() == 4


def test_watermark_predicate_reaches_jdbc_query():
    spec = TableSpec(
        name="raw.sales",
        columns=(ColumnSpec("id", "bigint"), ColumnSpec("ts", "timestamp")),
        watermark_column="ts",
        source_table="db.sales",
    )
    q = spec.extraction_query(last_watermark="2024-06-01 00:00:00")
    assert "WHERE ts > '2024-06-01 00:00:00'" in q
