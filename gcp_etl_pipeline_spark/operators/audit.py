"""Audit columns (reference §1.1.5).

Every curated/semantic row carries: ``source`` (source-system literal),
``oper`` ('I'), ``table_id`` (int literal), ``ins_tmstmp``/``upd_tmstmp``
(current timestamp), ``batch_id`` (literal). Reference: ``add_meta_info``
at `jobs/curated/facts/sales_fact/dl_ct_gosales_sales_fact_01.py:38-42`
and in-SQL at `:64-66`.

Determinism note (SURVEY §7 hard part 3): ``current_timestamp()`` breaks
differential tests, so a fixed ``batch_ts`` can be injected; production
callers omit it and get the real clock.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

AUDIT_COLUMNS = ("source", "oper", "table_id", "ins_tmstmp", "upd_tmstmp", "batch_id")


def add_audit_columns(
    df: DataFrame,
    batch_id: str,
    source: str,
    table_id: int,
    batch_ts: str | None = None,
) -> DataFrame:
    """Append the six audit columns. ``batch_ts`` (ISO string) pins the
    timestamps for deterministic testing."""
    ts = F.to_timestamp(F.lit(batch_ts)) if batch_ts else F.current_timestamp()
    return (
        df.withColumn("source", F.lit(source))
        .withColumn("oper", F.lit("I"))
        .withColumn("table_id", F.lit(table_id))
        .withColumn("ins_tmstmp", ts)
        .withColumn("upd_tmstmp", ts)
        .withColumn("batch_id", F.lit(batch_id))
    )


def drop_audit_columns(df: DataFrame) -> DataFrame:
    return df.drop(*[c for c in AUDIT_COLUMNS if c in df.columns])
