"""Graded queries for the Kafka-shaped source (sources/kafka.py).

`kafka_json_roundtrip` — batch: events → Kafka record shape (JSON value,
keyed partitions, dense offsets) → parsed back → per-partition stats.
The DuckDB oracle computes the same stats straight from events, so the
encode→decode path (to_json/from_json, binary casts, offset windows)
must be lossless including doubles and row identity.

`stream_kafka_parse` — the same records staged as files and consumed
through the REAL streaming engine (file source with KAFKA_SCHEMA,
availableNow), parsed with the identical `parse_kafka_json` call, then
windowed — converges to a batch oracle over raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.functions.deterministic import det_sum_bigint_expr
from gcp_etl_pipeline_spark.queries_relational import ensure_views
from gcp_etl_pipeline_spark.registry import register
from gcp_etl_pipeline_spark.session import scratch_dir
from gcp_etl_pipeline_spark.sources import kafka
from gcp_etl_pipeline_spark.streaming import core

N_PARTS = 4

PAYLOAD_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _encoded_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    return kafka.encode_kafka(
        spark.table("events"),
        topic="events",
        key_col="user_id",
        partition_expr=f"user_id % {N_PARTS}",
        ts_col="ts",
        order_col="event_id",
    )


def _q_kafka_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = kafka.parse_kafka_json(
        _encoded_events(spark, sf_dir), PAYLOAD_SCHEMA
    )
    return parsed.groupBy("partition").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
        F.sum("event_id").cast("bigint").alias("sum_event_id"),
        F.countDistinct("event_type").alias("n_types"),
        F.expr(det_sum_bigint_expr("value")).alias("sum_value_u"),
    )


register(
    "kafka_json_roundtrip",
    _q_kafka_roundtrip,
    f"""
    WITH k AS (
      SELECT user_id % {N_PARTS} AS partition,
             ROW_NUMBER() OVER (PARTITION BY user_id % {N_PARTS}
                                ORDER BY ts, event_id) - 1 AS off,
             event_id, event_type, value
      FROM events
    )
    SELECT partition, COUNT(*) AS n,
           MIN(off) AS min_offset, MAX(off) AS max_offset,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           COUNT(DISTINCT event_type) AS n_types,
           {det_sum_bigint_expr('value')} AS sum_value_u
    FROM k GROUP BY 1
    """,
)


def _q_stream_kafka(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = scratch_dir("kafka") + "/records"
    # one staged file per Kafka partition — the real topic layout (a Spark
    # Kafka source maps one task per partition); also bounds the number of
    # availableNow micro-batches to N_PARTS/maxFilesPerTrigger instead of
    # shuffle.partitions/maxFilesPerTrigger
    _encoded_events(spark, sf_dir).repartition(N_PARTS, "partition").write.mode(
        "overwrite"
    ).parquet(src)

    records = (
        spark.readStream.schema(kafka.KAFKA_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    parsed = kafka.parse_kafka_json(records, PAYLOAD_SCHEMA)
    counts = (
        parsed.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return core.drain_rows(counts, mode="complete")


register(
    "stream_kafka_parse",
    _q_stream_kafka,
    """
    SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
           event_type, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
