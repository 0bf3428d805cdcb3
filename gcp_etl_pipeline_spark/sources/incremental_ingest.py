"""Watermark-driven incremental ingestion (reference I1 — declared but
never implemented: the contract carries ``watermark_col_name_1`` /
``latest_watermark_val_1`` (`commons/utilities.py:162`) yet every
extraction is a full-table read. The engine makes the declared semantics
real: each run ingests only rows past the stored high-water mark and
advances it.

The control-plane table (``ops.ingestion_metadata``) is a tiny parquet
table keyed by TableSpec name. It is read-modify-overwritten on the
driver in one overwrite — control metadata is a handful of rows; only a
catalog that does not exist reads as empty (``read_target``). The DATA
path stays fully distributed and, for JDBC sources, the watermark
predicate is pushed into the source query (`TableSpec.extraction_query`)
so a 100 TB source table never ships unfiltered.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.sinks.writers import local_frame, read_target
from gcp_etl_pipeline_spark.spec import TableSpec

_META_SCHEMA = (
    "table_name STRING, watermark_column STRING, latest_watermark_val STRING, "
    "updated_at STRING"
)


class IngestionCatalog:
    """ops.ingestion_metadata (reference S6/K7 control plane)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _rows(self) -> dict[str, tuple[str, str, str]]:
        df = read_target(self.spark, self.path)
        if df is None:
            return {}
        return {
            r.table_name: (r.watermark_column, r.latest_watermark_val, r.updated_at)
            for r in df.collect()
        }

    def get_watermark(self, table_name: str) -> str | None:
        row = self._rows().get(table_name)
        return row[1] if row else None

    def set_watermark(self, table_name: str, column: str, value: str) -> None:
        rows = self._rows()
        rows[table_name] = (
            column, value, datetime.now(timezone.utc).isoformat()
        )
        # a local list: the overwrite does not read the path it replaces
        local_frame(
            self.spark, [(t, c, v, u) for t, (c, v, u) in rows.items()], _META_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(self.path)


def ingest_incremental(
    spec: TableSpec,
    source: DataFrame,
    target_path: str,
    catalog: IngestionCatalog,
) -> int:
    """Append rows with watermark > stored value to the raw target and
    advance the stored watermark to the batch max. Returns rows ingested.

    String comparison semantics: watermark columns are stringified at
    extraction (type ladder §1.3) and ISO date/timestamp strings order
    lexicographically = chronologically, matching the reference's
    ``WHERE wm > '<last>'`` contract.
    """
    wm = spec.watermark_column
    if not wm:
        raise ValueError(f"{spec.name} declares no watermark column")
    last = catalog.get_watermark(spec.name)
    inc = source if last is None else source.where(F.col(wm) > F.lit(last))
    inc = inc.persist()
    try:
        n, new_max = inc.agg(
            F.count(F.lit(1)), F.max(F.col(wm)).cast("string")
        ).first()
        # write gate: an empty append still writes a schema-only file
        if n > 0:
            inc.write.mode("append").parquet(target_path)
            catalog.set_watermark(spec.name, wm, new_max)
    finally:
        inc.unpersist()
    return n
