"""Table writers (reference K1-K6).

The reference's sinks: Beam WriteToParquet with an explicit schema (K1),
CSV-with-header text writes (K2), Spark parquet overwrite with
dynamic-partition mode (K3), parquet append for insert-new-only
maintenance (K4), and BigQuery truncate-insert / insert-select (K5/K6).
Here they are the built-in DataFrame writers with the engine's physical-
design decisions applied:

  - ``write_parquet`` returns the rows it wrote, observed during the write;
  - facts partition by a date column (``partition_by``) so dynamic
    overwrite only replaces touched partitions and downstream scans prune
    by date — the reference sets the conf but never actually partitions
    (SURVEY §4). ``write_parquet`` asks for dynamic mode on the write
    itself (the reference's per-job scoping, `...sales_fact_01.py:107`),
    never through the session conf;
  - ``read_target`` is the one reader for a table that may not exist;
  - ``local_frame`` is the one way driver-side rows become a DataFrame;
  - ``insert_new_rows`` is the K4 append path fused with the P6 anti-join
    so the append can never double-insert keys already present; for a
    surrogate-key registry it also keys the admitted rows from the
    target's max key, in the same pass.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: list[tuple] | pa.Table, schema: str | StructType
) -> DataFrame:
    """Driver-side ``rows`` (tuples, or an Arrow table such as the one
    ``DataFrame.toArrow`` returns) typed by ``schema`` (a DDL string or a
    StructType: declared, never inferred), as a JVM-owned local relation
    on ``spark``: it plans as a ``LocalTableScan``, so no Python RDD or
    Python worker serves it. A column that is null in every row keeps its
    declared type."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    if not isinstance(rows, pa.Table):
        rows = pa.table(
            [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
            schema=arrow,
        )
    return spark.createDataFrame(rows.cast(arrow), struct)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> int:
    """Write ``df`` as parquet; returns the rows written, observed during
    the write. A partitioned overwrite replaces only touched partitions."""
    obs = Observation()
    w = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
        if mode == "overwrite":
            w = w.option("partitionOverwriteMode", "dynamic")
    w.parquet(path)
    return int(obs.get["n"])


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def write_json_lines(df: DataFrame, path: str) -> None:
    """Newline-delimited JSON sink (interchange format; ~5-10x the bytes
    of Parquet/ORC — for handoff to JSON-consuming systems, not storage)."""
    df.write.mode("overwrite").json(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed (and optionally sorted) catalog table: rows are hash-
    distributed into ``num_buckets`` files per partition by
    ``bucket_cols``. Two tables bucketed the same way join WITHOUT a
    shuffle (co-located sort-merge; asserted in tests/test_bucketing.py) —
    the physical-design answer for repeated large-x-large joins on a
    stable key, e.g. fact-to-fact on order keys, where broadcast is
    impossible and per-query exchanges would dominate at 100 TB."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(name)


def is_absent(spark: SparkSession, path: str) -> bool:
    """True when ``path`` is missing or holds only entries Spark hides
    (``_``/``.`` prefix: an uncommitted first write leaves just
    ``_temporary``), checked through the Hadoop FileSystem API so gs://
    works too."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(p):
        return True
    entries = fs.listStatusIterator(p)
    while entries.hasNext():
        if not entries.next().getPath().getName().startswith(("_", ".")):
            return False
    return True


def read_target(spark: SparkSession, path: str) -> DataFrame | None:
    """Current state of a path-addressed target table; None if absent
    (`is_absent`: first run — the reference's coalesce(MAX(key),0) empty
    case). Any error reading a table that exists propagates."""
    return None if is_absent(spark, path) else spark.read.parquet(path)


def insert_new_rows(
    df: DataFrame,
    path: str,
    keys: list[str],
    normalize: bool = True,
    key_col: str | None = None,
) -> int:
    """Append only rows whose natural key is absent from the target
    (reference K4 + P6 as one idempotent operation). Returns rows written.

    With ``key_col``, ``df`` holds unkeyed candidates of a surrogate-key
    registry: the admitted rows get dense keys max(target)+1..+n ordered
    by ``keys``, so a registry that grows never reuses a key (a fresh
    target gets keys from 1), and ``key_col`` is written first."""
    from gcp_etl_pipeline_spark.operators.incremental import insert_new_only
    from gcp_etl_pipeline_spark.operators.keys import surrogate_keys

    target = read_target(df.sparkSession, path)
    new = insert_new_only(df, target, keys, normalize=normalize)
    if key_col is not None:
        new = surrogate_keys(new, target, key_col, keys).select(key_col, *df.columns)
    new = new.persist()
    try:
        n = new.count()
        if n > 0:  # reference write gate: `if rows_ingested > 0`
            new.write.mode("append").parquet(path)
    finally:
        new.unpersist()
    return n
