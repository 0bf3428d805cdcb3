"""Keyed upsert — the reference's declared-but-unused ``merge_column``
intent (I3: `commons/utilities.py:193` parses a merge key per table;
`commons/dictionary_check.py:11` declares it in the table contract; no
reference job ever merges).

Engine tiers, picked by ``engine``:

  - **delta** — ``MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED
    INSERT`` on Delta Lake (the reference provisions Delta on its
    clusters, `commons/install-delta.sh:19-20`).
  - **versioned** — the engine-NATIVE merge: ``VersionedTable.upsert``
    executes the same keyed WHEN MATCHED UPDATE / NOT MATCHED INSERT
    semantics (anti-join + union into a new immutable snapshot) with
    optimistic single-winner concurrency, time travel, and CDF — no
    external jars. This is the default when Delta is absent, so the
    MERGE path EXECUTES everywhere, not just on Delta clusters.
  - **parquet** — legacy flat-directory fallback: anti-join + union,
    staged-then-swapped (a path can't be overwritten while being read).
    No history, no concurrency protocol; kept for callers that need a
    plain ``spark.read.parquet``-able directory.

``engine="auto"`` resolves delta → (manifest present or fresh path:
versioned) → (existing flat parquet: parquet), so pre-existing flat
tables keep their layout while new targets get the versioned tier.

Scale: every tier's anti-join shuffles on the merge key (or broadcasts
the source when small); nothing is collected. The full-snapshot rewrite
is the non-Delta tax — Delta's MERGE rewrites only matched files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from gcp_etl_pipeline_spark.sinks.writers import read_target, write_parquet


def delta_available(spark: SparkSession) -> bool:
    # the py4j JVM view returns a benign JavaPackage for any missing class,
    # so probe the Python binding instead
    try:
        import delta.tables  # noqa: F401

        return True
    except ImportError:
        return False


def _resolve_engine(spark: SparkSession, target_path: str, engine: str) -> str:
    if engine != "auto":
        return engine
    if delta_available(spark):
        return "delta"
    path = target_path.rstrip("/")
    # non-file URI (s3://, gs://, hdfs://...): VersionedTable's manifest
    # protocol needs a POSIX filesystem (its documented caveat), so a
    # Delta-less object-store target falls back to the staged-swap
    # parquet tier rather than silently breaking on open()/os calls
    if "://" in path and not path.startswith("file://"):
        return "parquet"
    if os.path.exists(f"{path}/_manifest.json") or not os.path.exists(path):
        return "versioned"
    return "parquet"  # pre-existing flat layout: don't change it under the caller


def read_table(
    spark: SparkSession, target_path: str, engine: str = "auto"
) -> DataFrame:
    """Read an upsert target regardless of tier (Delta table, versioned
    snapshot table, or flat parquet directory)."""
    eng = _resolve_engine(spark, target_path, engine)
    if eng == "delta":  # pragma: no cover — not in this container
        return spark.read.format("delta").load(target_path)
    if eng == "versioned":
        from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

        return VersionedTable(target_path).read(spark)
    return spark.read.parquet(target_path)


def upsert(
    source: DataFrame,
    target_path: str,
    keys: list[str],
    engine: str = "auto",
) -> int:
    """Merge ``source`` into the table at ``target_path`` on ``keys``
    (null-safe key equality). Returns the source row count (rows
    written). See module docstring for tier selection."""
    spark = source.sparkSession
    eng = _resolve_engine(spark, target_path, engine)

    if eng == "delta":  # pragma: no cover — not in this container
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

    if eng == "versioned":
        from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

        t = VersionedTable(target_path)
        t.upsert(source, keys, note="merge_column upsert")
        return source.count()

    target = read_target(spark, target_path)
    if target is None:  # first write
        return write_parquet(source, target_path)

    src_keys = source.select(*keys).distinct()
    cond = [target[k].eqNullSafe(src_keys[k]) for k in keys]  # null keys match
    kept = target.join(src_keys, on=cond, how="left_anti")
    merged = kept.unionByName(source.select(*target.columns))
    staging = target_path.rstrip("/") + "__staging"
    merged.write.mode("overwrite").parquet(staging)
    spark.read.parquet(staging).write.mode("overwrite").parquet(target_path)
    return source.count()
