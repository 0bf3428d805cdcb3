"""Streaming sources, windowed aggregations, and sinks.

Everything here is expressed with built-in Structured Streaming operators
(`window`, `session_window`, `withWatermark`,
`dropDuplicatesWithinWatermark`) — state stores, incremental execution and
late-data handling come from the engine, not hand-rolled code. At scale the
shuffle per micro-batch is keyed by (window, group) and the state store is
partitioned the same way, so throughput scales with executors exactly like
the batch twin.

Reference tie-in: the batch jobs' watermark contract
(`commons/utilities.py:162`) and insert-new-only maintenance
(`...retailer_hlp_01.py:57-63`) are realized here as `withWatermark` and a
`foreachBatch` anti-join upsert respectively.

Every stream drains through ``drain`` (availableNow, each micro-batch to a
``foreachBatch`` body). A query that returns the stream's own rows uses
``drain_rows``: the batches are collected to the driver as Arrow and
returned as one local relation on the caller's session, so no drain
leaves a session view behind.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from gcp_etl_pipeline_spark.session import scratch_dir
from gcp_etl_pipeline_spark.sinks.writers import local_frame

_EVENTS_COLS = (
    "event_id BIGINT, {ts}, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def file_stream(
    spark: SparkSession, schema: str | StructType, path: str
) -> DataFrame:
    """Parquet file stream over the DIRECTORY ``path`` (Spark's file source
    rejects bare file paths), one file per micro-batch."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)


def drain(
    stream_df: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
    mode: str = "append",
) -> StreamingQuery:
    """Run ``stream_df`` over everything available now, every micro-batch
    through ``foreachBatch(process)``, and return the terminated query
    (``q.recentProgress`` keeps the per-batch durations). ``checkpoint``
    defaults to a fresh scratch dir; pass a stable one to make a re-drain
    resume where the last one stopped."""
    q = (
        stream_df.writeStream.outputMode(mode)
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint or scratch_dir("ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def drain_rows(stream_df: DataFrame, mode: str = "append") -> DataFrame:
    """Drain ``stream_df`` and return the rows it output: every
    micro-batch's rows in ``append`` mode, the last batch's (the whole
    result table) in ``complete`` mode. Each kept batch is collected as
    Arrow on the driver and the result is a `local_frame` on the
    caller's session, not on the stream's clone of it (for a stateful
    stream that clone runs with AQE off), so the drain registers nothing
    in the session and later queries over the rows plan like any other."""
    kept: list[pa.Table] = []

    def keep(batch: DataFrame, _: int) -> None:
        if mode == "complete":
            kept.clear()
        kept.append(batch.toArrow())

    drain(stream_df, keep, mode=mode)
    rows = pa.concat_tables(kept) if kept else []
    return local_frame(stream_df.sparkSession, rows, stream_df.schema)


def stage_ordered_files(root: str, frames: list[DataFrame]) -> str:
    """Land each frame as ONE parquet file ``{root}/in/b{i}.parquet`` with
    mtimes in list order and return ``{root}/in``: a `file_stream` over it
    reads frame i as micro-batch i (the file source orders by mtime)."""
    src = f"{root}/in"
    os.makedirs(src)
    for i, frame in enumerate(frames):
        tmp = f"{root}/tmp{i}"
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        dst = f"{src}/b{i}.parquet"
        os.replace(sorted(glob.glob(f"{tmp}/part-*.parquet"))[0], dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
    return src


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet files landing in the
    directory ``path``.

    The stream schema is built from the Parquet footer's actual timestamp
    unit (`sources.files.timestamp_units` — the same sniffing the batch
    reader uses), so the reader is correct whether the fixture stores
    ``ts`` as INT64 TIMESTAMP(NANOS) (read as raw nanos + distributed
    divide) or µs/ms TIMESTAMP[_NTZ] (read directly as TIMESTAMP; with the
    engine's UTC session timezone the NTZ wall-clock equals the instant).
    A directory with no data file yet has no footer to sniff: it gets the
    µs/ms layout every current producer writes (an ns-fixture deployment
    that starts empty should pre-seed one file). An unreadable footer
    raises."""
    from gcp_etl_pipeline_spark.sinks.writers import is_absent
    from gcp_etl_pipeline_spark.sources.files import timestamp_units

    unit = None if is_absent(spark, path) else timestamp_units(path).get("ts")
    if unit == "ns":
        # Spark's vectorized reader rejects TIMESTAMP(NANOS): read raw
        # int64 nanos, convert distributedly (integer div keeps precision)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = file_stream(spark, _EVENTS_COLS.format(ts="ts BIGINT"), path)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return file_stream(spark, _EVENTS_COLS.format(ts="ts TIMESTAMP"), path)


def tumbling_counts(
    events: DataFrame,
    width: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-(window, event_type) counts with late-data tolerance
    ``watermark``; the streaming twin of the batch `events_tumbling`."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "approx_users",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Overlapping windows: each event lands in width/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_timestamp(F.col("w.start")).alias("window_start"), "n_events")
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user sessions with a ``gap`` inactivity timeout — the built-in
    `session_window` state-merging operator (the batch twin is the
    lag+flag-sum `events_sessionize` query)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("sess_start"),
            F.unix_timestamp(F.col("w.end")).alias("sess_end"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-key within the watermark horizon: state holds one
    entry per key only until the watermark passes it (bounded state — the
    at-scale requirement a plain dropDuplicates can't meet on an unbounded
    stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def foreach_batch_versioned(
    stream_df: DataFrame,
    table_path: str,
    keys: list[str],
    checkpoint: str,
) -> StreamingQuery:
    """Stream into a snapshot-versioned table: every non-empty micro-batch
    becomes one immutable snapshot via a keyed upsert (sinks/versioned.py)
    — the streaming history/time-travel pattern Delta's streaming sink
    provides, on plain parquet. Batch id goes into the snapshot note, so
    the table history doubles as a processing ledger; the atomic manifest
    flip means readers never observe a half-written batch. Drains
    everything available now (`drain`) and returns the terminated query;
    ``checkpoint`` is the caller's, so a later call resumes.

    Replay idempotency: foreachBatch is at-least-once, so a crash between
    the upsert and the checkpoint commit replays the batch. The keyed
    upsert keeps table CONTENT correct either way; to keep the HISTORY
    ledger exactly-once too, a replayed batch id (already the latest
    snapshot's note) is skipped as a no-op."""
    from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

    table = VersionedTable(table_path)
    return drain(stream_df, versioned_batch_writer(table, keys), checkpoint)


def versioned_batch_writer(table, keys: list[str]):
    """The foreachBatch closure for foreach_batch_versioned, exposed for
    direct testing of the replay-no-op guard."""

    def write_version(batch_df: DataFrame, batch_id: int) -> None:
        note = f"stream batch {batch_id}"
        latest = table.latest_version()
        if latest is not None:
            hist = {e["version"]: e["note"] for e in table.history()}
            if hist.get(latest) == note:
                return  # replay of an already-committed batch
        if not batch_df.isEmpty():
            table.upsert(batch_df, keys, note=note)

    return write_version


def foreach_batch_insert_new(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str,
) -> StreamingQuery:
    """Streaming insert-new-only maintenance: every micro-batch anti-joins
    the current target state and appends only unseen keys — the streaming
    form of the reference's hlp/lkp/dim maintenance (I2). Idempotent per
    key across batches, and a batch that admits no new key writes no
    file; with Delta in the sink this would be MERGE INTO. Drains
    everything available now (`drain`) and returns the terminated query;
    ``checkpoint`` is the caller's, so a later call resumes."""
    from gcp_etl_pipeline_spark.sinks.writers import insert_new_rows

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        insert_new_rows(batch_df, target_path, keys, normalize=False)

    return drain(stream_df, upsert, checkpoint)
