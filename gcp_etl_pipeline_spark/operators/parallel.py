"""Partition-spread guard for Arrow-UDF stages.

A small parquet file scans as ONE input split (spark.sql.files.
maxPartitionBytes = 128 MB), which serializes every downstream
pandas-UDF / mapInPandas stage onto a single Python worker. At real
scale the scan already yields >= cluster-parallelism splits and the
guard is a no-op — it inspects only the planned partition count, it
never runs a job. Only when the input is narrower than the cluster
does it insert one (tiny, input-sized) hash exchange so the Python
stage uses every core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Return ``df`` with at least defaultParallelism partitions.

    Hash-partitions on ``keys`` (deterministic placement) when given,
    round-robin otherwise. No-op when the plan already has enough
    partitions — in particular on every at-scale scan.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


# needs-spread decisions for path-rooted scans, keyed by (path, cluster
# parallelism). A decision is planning METADATA (how many splits the
# scan yields), not data — fixtures are immutable for a process
# lifetime, so re-deriving it for every query construction over the
# same path only re-pays the logical→physical planning round the probe
# forces (avoidable driver latency × hundreds of constructions).
_SCAN_DECISIONS: dict[tuple[str, int], bool] = {}


def spread_scan(df: DataFrame, path: str, *keys: str) -> DataFrame:
    """``spread`` for a DataFrame freshly read from ``path``, with the
    needs-spread probe memoized per (path, defaultParallelism)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    key = (path, target)
    needs = _SCAN_DECISIONS.get(key)
    if needs is None:
        needs = df.rdd.getNumPartitions() < target
        _SCAN_DECISIONS[key] = needs
    if not needs:
        return df
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)
