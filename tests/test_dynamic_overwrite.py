"""Dynamic partition overwrite (reference R2/K3): an overwrite that
touches one partition must leave the others intact — the semantics the
reference configures (`partitionOverwriteMode=dynamic`) and the engine's
fact writes rely on."""

from __future__ import annotations

from gcp_etl_pipeline_spark.sinks.writers import write_parquet


def test_dynamic_overwrite_replaces_only_touched_partitions(spark, tmp_path):
    path = str(tmp_path / "fact")
    batch1 = spark.createDataFrame(
        [("2024-01", 1, "a"), ("2024-01", 2, "b"), ("2024-02", 3, "c")],
        ["month", "id", "v"],
    )
    assert write_parquet(batch1, path, mode="overwrite", partition_by=["month"]) == 3

    # rewrite ONLY february with different content
    batch2 = spark.createDataFrame([("2024-02", 9, "z")], ["month", "id", "v"])
    assert write_parquet(batch2, path, mode="overwrite", partition_by=["month"]) == 1

    got = {(r.month, r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {
        ("2024-01", 1, "a"),   # january untouched
        ("2024-01", 2, "b"),
        ("2024-02", 9, "z"),   # february replaced
    }


def test_dynamic_overwrite_on_a_static_session(spark, tmp_path):
    """The stock session default is ``static`` (a partitioned overwrite
    wipes every partition). write_parquet asks for dynamic mode on the
    write itself and leaves the session setting as it found it."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        path = str(tmp_path / "fact")
        batch1 = spark.createDataFrame(
            [("2024-01", 1), ("2024-02", 2)], ["month", "id"]
        )
        write_parquet(batch1, path, partition_by=["month"])
        batch2 = spark.createDataFrame([("2024-02", 9)], ["month", "id"])
        assert write_parquet(batch2, path, partition_by=["month"]) == 1
        got = {(r.month, r.id) for r in spark.read.parquet(path).collect()}
        assert got == {("2024-01", 1), ("2024-02", 9)}
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prior)
