"""Connector registry: resolution rules, builtin roundtrips, and the
fake-GCP injection path that documents the production wiring."""

from __future__ import annotations

import pytest

from gcp_etl_pipeline_spark.sources import connectors
from gcp_etl_pipeline_spark.sources.connectors import (
    Connector,
    connector_for,
    read,
    register_connector,
    write,
)


def test_resolution_order(sf_dir):
    assert connector_for(f"{sf_dir}/part.parquet").name == "parquet"
    assert connector_for("/tmp/x.csv").name == "csv"
    assert connector_for("/tmp/x.jsonl").name == "jsonl"
    assert connector_for("jdbc:derby:/tmp/db").name == "jdbc"
    assert connector_for("gs://bucket/x.parquet").name == "gs"
    assert connector_for("/tmp/dir-no-extension").name == "parquet"
    # explicit format beats everything
    assert connector_for("/tmp/x.csv", format="parquet").name == "parquet"
    with pytest.raises(KeyError):
        connector_for("/tmp/x", format="nope")


def test_parquet_read_through_registry(spark, sf_dir):
    df = read(spark, f"{sf_dir}/region.parquet")
    assert df.count() == 5


def test_csv_roundtrip_through_registry(spark, tmp_path):
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    write(df, str(tmp_path / "out.csv"))
    back = read(spark, str(tmp_path / "out.csv"))
    assert back.count() == 10


def test_unwired_gcp_connectors_raise_actionable(spark):
    with pytest.raises(RuntimeError, match="spark-bigquery-connector"):
        read(spark, "dataset.table", format="bigquery")
    with pytest.raises(RuntimeError, match="gcs-connector"):
        read(spark, "gs://bucket/x.parquet")


def test_injected_fake_connector_overrides_placeholder(spark, sf_dir):
    """The production wiring step: one register_connector call swaps the
    placeholder for a real implementation — no pipeline code changes."""
    calls = {}

    def fake_reader(sp, path, **options):
        calls["path"] = path
        # a real gs wiring would hand the gs:// path straight to the
        # parquet reader once the Hadoop FS jar is present
        return sp.read.parquet(f"{sf_dir}/nation.parquet")

    original = connector_for("gs://b/x")
    try:
        register_connector(Connector("gs", reader=fake_reader, schemes=("gs",)))
        df = read(spark, "gs://b/x")
        assert df.count() == 25
        assert calls["path"] == "gs://b/x"
    finally:
        register_connector(original)


def test_jdbc_scheme_routes_to_jdbc_reader(spark, tmp_path):
    from gcp_etl_pipeline_spark.spec import ColumnSpec, TableSpec

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    src = spark.range(5).selectExpr("id AS K", "CAST(id * 10 AS INT) AS V")
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("dbtable", "T")
        .mode("overwrite")
        .save()
    )
    spec = TableSpec(
        name="raw.t",
        source_table="T",
        columns=(ColumnSpec("K", "bigint"), ColumnSpec("V", "int")),
    )
    df = read(spark, url, spec=spec, driver=driver)
    assert df.count() == 5


def test_versioned_connector_time_travel(spark, tmp_path):
    path = str(tmp_path / "vtab")
    write(spark.range(10).selectExpr("id", "id AS v"), path, format="versioned")
    write(
        spark.createDataFrame([(3, 99), (50, 1)], ["id", "v"]),
        path,
        format="versioned",
        keys=["id"],
    )
    assert read(spark, path, format="versioned").count() == 11
    assert read(spark, path, format="versioned", version=1).count() == 10
    got = {r.id: r.v for r in
           read(spark, path, format="versioned").collect()}
    assert got[3] == 99 and got[50] == 1
