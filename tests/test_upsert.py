"""Upsert (merge_column semantics, I3): update-matched + insert-new."""

from __future__ import annotations

import os
import sys
import types

import pytest

from gcp_etl_pipeline_spark.operators.upsert import (
    delta_available,
    read_table,
    upsert,
)


def test_upsert_first_write_creates_table(spark, tmp_path):
    path = str(tmp_path / "t")
    src = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    assert upsert(src, path, ["id"]) == 2
    assert read_table(spark, path).count() == 2


def test_upsert_updates_and_inserts(spark, tmp_path):
    path = str(tmp_path / "t2")
    upsert(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]), path, ["id"])
    upsert(spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]), path, ["id"])
    got = {r.id: r.v for r in read_table(spark, path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}  # 2 updated, 3 inserted, 1 kept


def test_upsert_idempotent_replay(spark, tmp_path):
    path = str(tmp_path / "t3")
    src = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    upsert(src, path, ["id"])
    upsert(src, path, ["id"])  # replay: same keys, same values
    assert read_table(spark, path).count() == 2


def test_delta_merge_branch_wiring(spark, tmp_path, monkeypatch):
    """Execute the Delta MERGE branch against a recording stub of
    delta.tables — proves the branch's call chain (forPath → alias →
    merge(cond) → whenMatchedUpdateAll → whenNotMatchedInsertAll →
    execute) and the null-safe key condition, without the Delta engine.
    The real-engine twin below runs wherever delta-spark is installed."""
    calls = {}

    class FakeMerge:
        def whenMatchedUpdateAll(self):
            calls["matched"] = True
            return self

        def whenNotMatchedInsertAll(self):
            calls["not_matched"] = True
            return self

        def execute(self):
            calls["executed"] = True

    class FakeTable:
        @staticmethod
        def forPath(sp, path):
            calls["path"] = path
            return FakeTable()

        def alias(self, a):
            calls.setdefault("aliases", []).append(a)
            return self

        def merge(self, src, cond):
            calls["cond"] = cond
            return FakeMerge()

    fake_tables = types.ModuleType("delta.tables")
    fake_tables.DeltaTable = FakeTable
    fake_delta = types.ModuleType("delta")
    fake_delta.tables = fake_tables
    monkeypatch.setitem(sys.modules, "delta", fake_delta)
    monkeypatch.setitem(sys.modules, "delta.tables", fake_tables)

    src = spark.createDataFrame([(1, "a")], ["id", "v"])
    assert upsert(src, "/tmp/fake_delta_target", ["id", "part"]) == 1
    assert calls["path"] == "/tmp/fake_delta_target"
    assert calls["cond"] == "t.id <=> s.id AND t.part <=> s.part"
    assert calls["executed"] and calls["matched"] and calls["not_matched"]


def test_delta_merge_real_engine(spark, tmp_path):
    """Real MERGE INTO integration — runs only where delta-spark + the
    Delta jars are installed (reference clusters provision them,
    `commons/install-delta.sh:19-20`); skips in this sandbox."""
    if not delta_available(spark):
        pytest.skip("delta-spark not installed in this environment")
    path = str(tmp_path / "dtab")
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]).write.format(
        "delta"
    ).save(path)
    upsert(spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]), path, ["id"])
    got = {r.id: r.v for r in spark.read.format("delta").load(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_upsert_null_key_matches(spark, tmp_path):
    path = str(tmp_path / "t4")
    upsert(
        spark.createDataFrame([(None, "x"), (1, "a")], "id INT, v STRING"),
        path, ["id"],
    )
    upsert(
        spark.createDataFrame([(None, "X")], "id INT, v STRING"), path, ["id"]
    )
    got = {r.id: r.v for r in read_table(spark, path).collect()}
    assert got == {None: "X", 1: "a"}


def test_auto_engine_is_versioned_with_history(spark, tmp_path):
    """Without Delta, auto routes to the engine-native VersionedTable
    merge: WHEN MATCHED UPDATE / NOT MATCHED INSERT executes for real,
    and the pre-merge state stays time-travelable."""
    from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

    path = str(tmp_path / "vt")
    upsert(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]), path, ["id"])
    upsert(spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]), path, ["id"])
    t = VersionedTable(path)
    assert t.latest_version() == 2
    v1 = {r.id: r.v for r in t.read(spark, 1).collect()}
    v2 = {r.id: r.v for r in t.read(spark, 2).collect()}
    assert v1 == {1: "a", 2: "b"}
    assert v2 == {1: "a", 2: "B", 3: "c"}


def test_auto_engine_respects_existing_flat_parquet(spark, tmp_path):
    """A pre-existing plain parquet directory is not converted to
    snapshots and not rewritten in place: without Delta, the upsert
    raises and the flat table stays as it was."""
    path = str(tmp_path / "flat")
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]).write.parquet(path)
    files = sorted(os.listdir(path))
    with pytest.raises(ValueError, match="not a versioned table"):
        upsert(spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]), path, ["id"])
    with pytest.raises(ValueError, match="not a versioned table"):
        read_table(spark, path)
    assert sorted(os.listdir(path)) == files
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b"}


def test_auto_engine_object_store_uri_uses_parquet_tier(spark):
    """A non-file URI target cannot use the POSIX-only versioned tier:
    without Delta, the upsert raises before touching the store."""
    src = spark.createDataFrame([(1, "a")], ["id", "v"])
    for uri in ("s3://bucket/tbl", "gs://b/t/"):
        with pytest.raises(ValueError, match="needs Delta Lake"):
            upsert(src, uri, ["id"])
