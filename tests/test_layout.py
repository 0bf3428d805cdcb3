"""Z-order key and small-file compaction operators."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_zorder_key_interleaves_bits(spark):
    from gcp_etl_pipeline_spark.operators.layout import zorder_key

    df = spark.createDataFrame([(0b101, 0b011)], "x long, y long")
    got = df.select(
        zorder_key([F.col("x"), F.col("y")], bits=3).alias("z")
    ).collect()[0].z
    # x bits at even positions, y bits at odd: x=101,y=011 ->
    # pos0=x0=1, pos1=y0=1, pos2=x1=0, pos3=y1=1, pos4=x2=1, pos5=y2=0
    assert got == 0b011011


def test_quantize_clamps_and_grids(spark):
    from gcp_etl_pipeline_spark.operators.layout import quantize

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (31.9,), (64.0,), (999.0,)], "v double"
    )
    got = [
        r.q for r in df.select(
            quantize(F.col("v"), 0.0, 64.0, bits=8).alias("q")
        ).collect()
    ]
    assert got == [0, 0, 127, 255, 255]


def test_compact_small_files_reduces_count_keeps_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators.layout import compact_small_files

    path = str(tmp_path / "frag")
    spark.range(10_000).selectExpr("id", "id % 7 AS g").repartition(
        32
    ).write.parquet(path)
    before, after = compact_small_files(
        spark, path, target_file_bytes=64 * 1024 * 1024
    )
    assert before == 32 and after < before
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("id")).first()[0] == 10_000 * 9_999 // 2
    # staging dir must be cleaned up
    import os

    assert not os.path.exists(path + "__compact")


def test_compact_with_zorder_clusters(spark, tmp_path):
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators.layout import compact_small_files

    path = str(tmp_path / "fragz")
    spark.range(5_000).selectExpr(
        "id", "CAST(id % 100 AS DOUBLE) AS x", "CAST((id * 37) % 100 AS DOUBLE) AS y"
    ).repartition(16).write.parquet(path)
    before, after = compact_small_files(
        spark, path, target_file_bytes=64 * 1024 * 1024
    )
    assert after < before
    assert spark.read.parquet(path).count() == 5_000


def test_ledger_guard_excludes_and_raises(spark, tmp_path):
    """compact_ledger and the increment paths share one flock: while a
    simulated increment holds the guard, compaction raises
    LedgerBusyError promptly instead of rewriting a ledger mid-append."""
    import threading

    from gcp_etl_pipeline_spark.operators import dedup

    store = str(tmp_path / "led")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    dedup.dedup_incremental(docs, store).count()

    entered, release = threading.Event(), threading.Event()

    def holder():
        with dedup._ledger_guard(store):
            entered.set()
            release.wait(10.0)

    th = threading.Thread(target=holder)
    th.start()
    assert entered.wait(5.0)
    try:
        import pytest as _pytest

        with _pytest.raises(dedup.LedgerBusyError, match="ledger lock"):
            _compact_with_short_timeout(spark, store)
    finally:
        release.set()
        th.join(10.0)
    # after release, compaction succeeds
    before, after = dedup.compact_ledger(spark, store)
    assert after <= before


def _compact_with_short_timeout(spark, store):
    """compact_ledger's body with a short guard timeout (the public
    function pins the default; the guard itself is the unit under test)."""
    from gcp_etl_pipeline_spark.operators import dedup
    from gcp_etl_pipeline_spark.operators.layout import compact_small_files

    with dedup._ledger_guard(store, timeout_sec=0.3):
        return compact_small_files(spark, store, recursive=True)


def test_compaction_aborts_on_concurrent_files(spark, tmp_path, monkeypatch):
    """A file landing between compaction's read and its swap must abort
    the swap (staging discarded, live path untouched) — otherwise the
    new file rides __pre_compact to deletion: silent data loss."""
    import pytest as _pytest

    from gcp_etl_pipeline_spark.operators import layout

    path = str(tmp_path / "tbl")
    spark.range(100).selectExpr("id", "id % 7 AS k").coalesce(4).write.parquet(path)
    n_rows = spark.read.parquet(path).count()

    # inject a concurrent append after the staged rewrite, before the swap
    real_mode = None
    orig_write = layout.compact_small_files

    injected = {"done": False}
    import pyspark.sql.readwriter as rw

    orig_save = rw.DataFrameWriter.parquet

    def sneaky(self, p, *a, **kw):
        out = orig_save(self, p, *a, **kw)
        if p.endswith("__compact") and not injected["done"]:
            injected["done"] = True
            # concurrent writer: one more part file lands on the live path
            orig_save(
                spark.range(5).selectExpr("id", "id % 7 AS k").coalesce(1).write.mode("append"),
                path,
            )
        return out

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", sneaky)
    with _pytest.raises(IOError, match="concurrent writer"):
        layout.compact_small_files(spark, path)
    monkeypatch.undo()
    # live path intact: original rows + the concurrent append, no staging dirs
    assert spark.read.parquet(path).count() == n_rows + 5
    import os

    assert not os.path.exists(path + "__compact")
