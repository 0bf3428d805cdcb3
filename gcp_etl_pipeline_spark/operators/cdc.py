"""Change-data-capture apply: fold an I/U/D change stream into a snapshot.

The reference declares upsert intent (`merge_column`,
`commons/utilities.py:193`) but only ever implements insert-new-only
appends; deletes and updates have no path at all. This operator is the
full CDC semantics (Delta's MERGE / APPLY CHANGES INTO shape, built on
plain DataFrames): latest change per key wins, 'D' removes the row,
anything else ('I'/'U') upserts the change's payload.

Scale shape: one key-partitioned window over the CHANGES (the small
side), one left-anti join + union against the snapshot. The snapshot is
never windowed or sorted — at 100 TB the big table only streams through
a hash join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_cols: Sequence[str],
) -> DataFrame:
    """Apply a change stream to a snapshot; returns the new snapshot with
    the snapshot's columns.

    ``changes`` must carry the snapshot's columns plus ``op`` and the
    ``seq_cols`` ordering columns (monotone per key; ties broken by the
    full seq_cols list, so include a unique id for determinism).
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in seq_cols])
    latest = (
        changes.withColumn("__cdc_rn", F.row_number().over(w))
        .where(F.col("__cdc_rn") == 1)
        .drop("__cdc_rn")
    )
    untouched = snapshot.join(latest.select(*keys), list(keys), "left_anti")
    applied = latest.where(F.col("op") != "D").select(*snapshot.columns)
    return untouched.unionByName(applied)
