"""File sources: Parquet (S3) and header CSV (S4).

Reference: `load_parquet_file`/`load_csv_file` helpers repeated in every
curated job (`...sales_fact_01.py:29-35`). Here they gain:
  - nanosecond-timestamp tolerance: Spark's vectorized Parquet reader
    rejects INT64 TIMESTAMP(NANOS); we read those columns as raw nanos
    (``spark.sql.legacy.parquet.nanosAsLong``) and convert to TIMESTAMP
    distributedly (integer division — no driver-side materialization, so
    the path scales to any size);
  - optional explicit TableSpec schema for CSV instead of all-strings
    inference (the reference reads CSV with header only, yielding
    all-string columns it then re-casts in SQL — we keep that behavior as
    the default for parity and offer the typed read as the upgrade).
"""

from __future__ import annotations

import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def timestamp_units(path: str) -> dict[str, str]:
    """Map of timestamp-column name → physical unit (``ns``/``us``/``ms``/
    ``s``), read from the Parquet footer — metadata only, no data read.
    Shared by the batch reader below and the streaming reader
    (streaming/core.py), so both paths agree on how a fixture's
    timestamps are stored regardless of which writer produced it."""
    import pyarrow as pa

    schema = pads.dataset(path).schema
    return {
        name: typ.unit
        for name, typ in zip(schema.names, schema.types)
        if pa.types.is_timestamp(typ)
    }


def _nanos_columns(path: str) -> list[str]:
    """Column names with ns-precision timestamps."""
    return [c for c, unit in timestamp_units(path).items() if unit == "ns"]


def _guard_versioned_layout(path: str) -> None:
    """A ``VersionedTable`` root keeps EVERY snapshot as ``v=N`` subdirs;
    a plain recursive parquet read would partition-discover them and
    union all snapshots — silently duplicated rows, no error. Fail fast
    and point the caller at the tier-aware reader instead."""
    import os

    p = path.rstrip("/")
    if p.startswith("file:"):
        # every local-URI spelling resolves to the same path: file:/x,
        # file:///x (and the rare authority-less file://x) — a missed
        # spelling would skip the guard and silently union snapshots
        p = "/" + p[len("file:"):].lstrip("/")
    elif "://" in p:
        return  # object-store URI: manifest protocol is POSIX-only anyway
    if os.path.exists(os.path.join(p, "_manifest.json")):
        raise ValueError(
            f"{path} is a versioned snapshot table (_manifest.json present); "
            "a plain parquet read would union every v=N snapshot. Read it "
            "via operators.upsert.read_table(spark, path) or "
            "VersionedTable(path).read(spark)."
        )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan; transparently downcasts ns timestamps to µs TIMESTAMP."""
    _guard_versioned_layout(path)
    nanos = _nanos_columns(path)
    if not nanos:
        return spark.read.parquet(path)
    # Left set for the session: the conf is consulted again at execution
    # time, so resetting it would break the returned (lazy) DataFrame.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos:
        # integer DIV keeps full precision (nanos exceed double's 2^53)
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (built-in vectorized reader; same predicate-pushdown and
    column-pruning behavior as Parquet — asserted in tests)."""
    return spark.read.orc(path)


def read_json_lines(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Newline-delimited JSON scan. Schema inference costs one extra pass
    over the data, so callers on large inputs should pass an explicit
    schema/TableSpec (the inference default mirrors the reference's
    schema-on-read CSV stance)."""
    reader = spark.read
    if schema is not None:
        struct = schema.struct_type() if hasattr(schema, "struct_type") else schema
        reader = reader.schema(struct)
    return reader.json(path)


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """Header CSV (reference `jobs/curated/dl_ct_job_spark.py:3`), all
    columns strings."""
    return spark.read.option("header", "true").csv(path)
