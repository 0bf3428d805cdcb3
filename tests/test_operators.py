"""Operator-library unit tests on tiny in-memory DataFrames
(SURVEY §5 item 2: surrogate keys, insert-new-only, normalization,
audit columns, cast ladder)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators.audit import (
    AUDIT_COLUMNS,
    add_audit_columns,
    drop_audit_columns,
)
from gcp_etl_pipeline_spark.operators.incremental import insert_new_only
from gcp_etl_pipeline_spark.operators.keys import surrogate_keys
from gcp_etl_pipeline_spark.operators.normalize import (
    cast_to_spec,
    norm_key,
    normalize_strings,
)
from gcp_etl_pipeline_spark.spec import ColumnSpec, TableSpec


# ------------------------------------------------------------ surrogate keys

def test_surrogate_keys_empty_target_starts_at_one(spark):
    new = spark.createDataFrame([("b",), ("a",), ("c",)], ["code"])
    out = surrogate_keys(new, None, "k", ["code"]).orderBy("k").collect()
    assert [(r.k, r.code) for r in out] == [(1, "a"), (2, "b"), (3, "c")]


def test_surrogate_keys_continue_from_target_max(spark):
    target = spark.createDataFrame([(7, "x"), (9, "y")], ["k", "code"])
    new = spark.createDataFrame([("b",), ("a",)], ["code"])
    out = surrogate_keys(new, target, "k", ["code"]).orderBy("k").collect()
    assert [(r.k, r.code) for r in out] == [(10, "a"), (11, "b")]


def test_surrogate_keys_deterministic_across_runs(spark):
    new = spark.createDataFrame(
        [(str(i % 97),) for i in range(500)], ["code"]
    ).distinct()
    a = surrogate_keys(new, None, "k", ["code"]).collect()
    b = surrogate_keys(new.repartition(7), None, "k", ["code"]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_surrogate_keys_guard_raises_above_window_threshold(spark, monkeypatch):
    import pytest

    from gcp_etl_pipeline_spark.operators import keys

    new = spark.range(100).selectExpr("CAST(id AS STRING) AS code")
    # guard fires at EXECUTION (it rides inside the window job — no eager
    # pre-count of the upstream lineage), so collect() raises, not the call
    monkeypatch.setattr(keys, "DEFAULT_MAX_WINDOW_ROWS", 50)
    df = surrogate_keys(new, None, "k", ["code"])
    with pytest.raises(Exception, match="monotonic=True"):
        df.collect()
    # under the threshold the same plan executes clean
    monkeypatch.setattr(keys, "DEFAULT_MAX_WINDOW_ROWS", 100)
    ok = surrogate_keys(new, None, "k", ["code"])
    assert sorted(r.k for r in ok.collect()) == list(range(1, 101))
    # the same input passes under the parallel path
    out = surrogate_keys(new, None, "k", ["code"], monotonic=True).collect()
    assert sorted(r.k for r in out) == list(range(1, 101))


def test_surrogate_keys_monotonic_dense_deterministic_and_continues(spark):
    target = spark.createDataFrame([(40, "seed")], ["k", "code"])
    new = spark.createDataFrame(
        [(f"c{i:04d}",) for i in range(1000)], ["code"]
    )
    a = surrogate_keys(new, target, "k", ["code"], monotonic=True).collect()
    b = surrogate_keys(
        new.repartition(13), target, "k", ["code"], monotonic=True
    ).collect()
    # dense range continuing from target max, unique keys
    assert sorted(r.k for r in a) == list(range(41, 1041))
    # assignment is a pure function of (natural key, bucket count):
    # identical across physical input layouts
    assert sorted((r.code, r.k) for r in a) == sorted((r.code, r.k) for r in b)


# --------------------------------------------------------- insert-new-only

def test_insert_new_only_filters_existing_normalized(spark):
    src = spark.createDataFrame([("Alpha",), ("beta ",), ("Gamma",)], ["code"])
    tgt = spark.createDataFrame([(" ALPHA ",), ("gamma",)], ["code"])
    out = insert_new_only(src, tgt, ["code"]).collect()
    assert [r.code for r in out] == ["beta "]


def test_insert_new_only_idempotent_rerun(spark):
    src = spark.createDataFrame([("a",), ("b",)], ["code"])
    first = insert_new_only(src, None, ["code"])
    # "append" the first batch, then re-run over the same source
    rerun = insert_new_only(src, first, ["code"])
    assert rerun.count() == 0


def test_insert_new_only_null_keys_match_nullsafe(spark):
    src = spark.createDataFrame([(None,), ("x",)], "code: string")
    tgt = spark.createDataFrame([(None,)], "code: string")
    out = insert_new_only(src, tgt, ["code"], normalize=True).collect()
    assert [r.code for r in out] == ["x"]


# ------------------------------------------------------------ normalization

def test_normalize_strings_strips_crlf_and_spaces(spark):
    df = spark.createDataFrame([(" a\r\nb ", 1)], ["s", "n"])
    row = normalize_strings(df).first()
    assert row.s == "a b"
    assert row.n == 1  # non-string untouched


def test_cast_to_spec_applies_ladder(spark):
    spec = TableSpec(
        name="t",
        columns=(ColumnSpec("id", "bigint"), ColumnSpec("qty", "int")),
    )
    df = spark.createDataFrame([("5", "3")], ["id", "qty"])
    out = cast_to_spec(df, spec)
    assert dict(out.dtypes) == {"id": "bigint", "qty": "int"}
    assert out.first().id == 5


# ------------------------------------------------------------ audit columns

def test_audit_columns_pinned_timestamp(spark):
    df = spark.createDataFrame([(1,)], ["v"])
    out = add_audit_columns(
        df, batch_id="b-1", source="gosales", table_id=999,
        batch_ts="2026-01-01 00:00:00",
    )
    row = out.first()
    assert row.source == "gosales" and row.oper == "I" and row.table_id == 999
    assert str(row.ins_tmstmp) == "2026-01-01 00:00:00"
    assert row.ins_tmstmp == row.upd_tmstmp
    assert set(AUDIT_COLUMNS) <= set(out.columns)
    assert set(drop_audit_columns(out).columns) == {"v"}


def test_normalize_unicode_nfc_and_casefold(spark):
    from gcp_etl_pipeline_spark.operators.normalize import normalize_unicode
    from pyspark.sql import functions as F

    composed = "café"            # é as one codepoint
    decomposed = "café"         # e + combining acute
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, "STRAßE"), (4, None)],
        ["id", "s"],
    )
    out = {r.id: r.n for r in df.select(
        "id", normalize_unicode("s").alias("n")).collect()}
    assert out[1] == out[2] == composed  # NFC unifies the two spellings
    assert out[4] is None
    # dedup integration: the two spellings collapse to ONE distinct key
    assert df.where("id <= 2").select(
        normalize_unicode("s").alias("k")).distinct().count() == 1
