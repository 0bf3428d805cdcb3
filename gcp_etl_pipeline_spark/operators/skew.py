"""Skew-mitigation salted join.

When a join key is hot (a handful of values carry most rows), hash
partitioning sends whole hot keys to single reducers and the stage runs
at the speed of its worst task. AQE's skew-join splitting
(`spark.sql.adaptive.skewJoin`, on by default in the engine session)
fixes sort-merge cases at runtime; this operator is the explicit,
planner-independent form for when the build side must be replicated —
e.g. large×medium joins where neither side broadcasts.

Mechanics: the probe (skewed) side gets a deterministic salt in
[0, salt_factor) derived from xxhash64 over its columns; the build side
is replicated once per salt value; the join key becomes
(keys..., salt). Each probe row matches exactly one replica, so the
result set is IDENTICAL to the unsalted join — verified by the DuckDB
oracle being a plain join — while hot keys spread across salt_factor
reducers.

Determinism: the salt is a pure function of row content (identical rows
share a salt, which is harmless — they'd collide anywhere), so results
and even partition assignment are stable across reruns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted_join(
    skewed: DataFrame,
    build: DataFrame,
    on: list[str],
    salt_factor: int = 16,
) -> DataFrame:
    """Join ``skewed`` (large, hot-keyed probe side) with ``build``
    (the side small enough to replicate ``salt_factor`` times but too
    large/ineligible to broadcast). Result equals the plain join."""
    if SALT_COL in skewed.columns or SALT_COL in build.columns:
        raise ValueError(f"{SALT_COL} column name is reserved")
    salted = skewed.withColumn(
        SALT_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(salt_factor)),
    )
    replicas = build.crossJoin(
        F.broadcast(
            skewed.sparkSession.range(salt_factor).select(
                F.col("id").cast("long").alias(SALT_COL)
            )
        )
    )
    return salted.join(replicas, on=[*on, SALT_COL]).drop(SALT_COL)
