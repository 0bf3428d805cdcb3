"""Keyed upsert — the reference's declared-but-unused ``merge_column``
intent (I3: `commons/utilities.py:193` parses a merge key per table;
`commons/dictionary_check.py:11` declares it in the table contract; no
reference job ever merges).

Two tiers:

  - **delta** — ``MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED
    INSERT`` on Delta Lake (the reference provisions Delta on its
    clusters, `commons/install-delta.sh:19-20`), whenever delta-spark is
    importable.
  - **versioned** — otherwise, the engine-NATIVE merge:
    ``VersionedTable.upsert`` executes the same keyed WHEN MATCHED UPDATE
    / NOT MATCHED INSERT semantics (anti-join + union into a new
    immutable snapshot) with optimistic single-winner concurrency, time
    travel, and CDF — no external jars.

Without Delta, a target the versioned tier cannot own raises, because
plain parquet has no crash-safe rewrite of a table that is being read:
an object-store URI (the manifest protocol needs a POSIX filesystem),
and an existing directory holding non-versioned data (no
``_manifest.json``; ``sinks.writers.is_absent`` decides what is fresh).

Scale: both tiers' anti-join shuffles on the merge key (or broadcasts
the source when small); nothing is collected. The full-snapshot rewrite
is the non-Delta tax — Delta's MERGE rewrites only matched files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from gcp_etl_pipeline_spark.sinks.writers import is_absent


def delta_available(spark: SparkSession) -> bool:
    # the py4j JVM view returns a benign JavaPackage for any missing class,
    # so probe the Python binding instead
    try:
        import delta.tables  # noqa: F401

        return True
    except ImportError:
        return False


def _tier(spark: SparkSession, target_path: str) -> str:
    if delta_available(spark):
        return "delta"
    path = target_path.rstrip("/")
    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"{target_path}: an object-store upsert needs Delta Lake; the "
            "versioned tier's manifest protocol needs a POSIX filesystem"
        )
    if not os.path.exists(f"{path}/_manifest.json") and not is_absent(spark, path):
        raise ValueError(
            f"{target_path} holds data but is not a versioned table (no "
            "_manifest.json); write it into a new path with VersionedTable"
        )
    return "versioned"


def read_table(spark: SparkSession, target_path: str) -> DataFrame:
    """Read an upsert target (a Delta table or a versioned snapshot
    table)."""
    if _tier(spark, target_path) == "delta":  # pragma: no cover — needs delta-spark
        return spark.read.format("delta").load(target_path)
    from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

    return VersionedTable(target_path).read(spark)


def upsert(source: DataFrame, target_path: str, keys: list[str]) -> int:
    """Merge ``source`` into the table at ``target_path`` on ``keys``
    (null-safe key equality). Returns the source row count (rows
    written). See module docstring for tier selection."""
    spark = source.sparkSession
    if _tier(spark, target_path) == "delta":  # pragma: no cover — needs delta-spark
        from delta.tables import DeltaTable

        tgt = DeltaTable.forPath(spark, target_path)
        cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
        (
            tgt.alias("t")
            .merge(source.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return source.count()

    from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

    VersionedTable(target_path).upsert(source, keys, note="merge_column upsert")
    return source.count()
