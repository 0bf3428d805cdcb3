"""Structured Streaming tests: file-source streams drained with
availableNow triggers, checked against batch results over the same data."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.sources.files import read_parquet
from gcp_etl_pipeline_spark.streaming import core


@pytest.fixture()
def events_path(sf_dir) -> str:
    return f"{sf_dir}/events.parquet"


@pytest.fixture()
def events_dir(events_path, tmp_path) -> str:
    """File streams need a *directory* that files land in."""
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(events_path, d / "events.parquet")
    return str(d)


def _drain(stream_df, mode):
    return core.drain_rows(stream_df, mode=mode)


def test_tumbling_stream_matches_batch(spark, events_path, events_dir):
    stream = core.tumbling_counts(core.read_events_stream(spark, events_dir))
    got = _drain(stream, "complete")

    batch = read_parquet(spark, events_path).groupBy(
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("window_start"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))

    g = {(r.window_start, r.event_type): r.n_events for r in got.collect()}
    b = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    assert g == b


def test_session_stream_total_events_conserved(spark, events_path, events_dir):
    stream = core.session_counts(core.read_events_stream(spark, events_dir))
    got = _drain(stream, "complete")
    total = got.agg(F.sum("n_events")).first()[0]
    assert total == read_parquet(spark, events_path).count()
    # session windows for one user never overlap
    rows = sorted(
        [(r.user_id, r.sess_start, r.sess_end) for r in got.collect()]
    )
    for (u1, _, e1), (u2, s2, _) in zip(rows, rows[1:]):
        if u1 == u2:
            assert s2 >= e1


def test_dedup_within_watermark_removes_replayed_file(spark, events_path, tmp_path):
    # simulate an at-least-once source: the same file delivered twice
    src = tmp_path / "stream_in"
    src.mkdir()
    shutil.copy(events_path, src / "a.parquet")
    shutil.copy(events_path, src / "b.parquet")

    deduped = core.dedup_within_watermark(core.read_events_stream(spark, str(src)))
    got = _drain(deduped, "append")
    n_unique = read_parquet(spark, events_path).count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_drained_rows_plan_on_the_callers_session(spark, events_dir):
    """A stateful stream runs on a clone of the session with AQE off; its
    drained rows come back on the caller's session, so a query over them
    plans adaptively."""
    deduped = core.dedup_within_watermark(core.read_events_stream(spark, events_dir))
    got = core.drain_rows(deduped)
    assert got.sparkSession is spark
    agg = got.groupBy("event_type").count()
    agg.collect()
    assert "AdaptiveSparkPlan" in agg._jdf.queryExecution().executedPlan().toString()


def test_stream_rows_leave_no_session_view(spark, sf_dir):
    """A query that returns its drained rows registers nothing in the
    session: three stream_tumbling calls leave the table list as it was."""
    import __spark_entry__

    tumbling = __spark_entry__.queries()["stream_tumbling"]
    before = {t.name for t in spark.catalog.listTables()}
    for _ in range(3):
        assert tumbling(spark, sf_dir).count() > 0
    assert {t.name for t in spark.catalog.listTables()} == before


def test_drain_rows_of_an_idle_stream_is_empty(spark, tmp_path):
    """No micro-batch ran: the result is empty and has the stream's
    schema."""
    src = tmp_path / "idle_in"
    src.mkdir()
    stream = core.file_stream(spark, "id BIGINT, v STRING", str(src))
    got = core.drain_rows(stream)
    assert got.schema == stream.schema
    assert got.count() == 0


def test_foreach_batch_insert_new_idempotent(spark, events_path, tmp_path):
    src = tmp_path / "upsert_in"
    src.mkdir()
    target = tmp_path / "target"

    def drain() -> list[str]:
        stream = core.read_events_stream(spark, str(src)).select(
            "event_id", "user_id", "event_type"
        )
        core.foreach_batch_insert_new(
            stream, str(target), keys=["event_id"],
            checkpoint=str(tmp_path / "ckpt_up"),
        ).awaitTermination()
        return sorted(f for f in os.listdir(target) if not f.startswith(("_", ".")))

    shutil.copy(events_path, src / "a.parquet")
    first = drain()
    shutil.copy(events_path, src / "b.parquet")  # replay -> must not double
    # the replayed batch admits no key, so it writes no (empty) data file
    assert drain() == first
    out = spark.read.parquet(str(target))
    assert out.count() == read_parquet(spark, events_path).count()
