"""Range (interval) join — another operator family the reference lacks
(SURVEY §2.4: "Not present in the reference: theta/range/... joins") and
that Spark would otherwise execute as BroadcastNestedLoopJoin (O(n·m)
comparisons even when broadcast).

``range_join(left, intervals, ...)`` matches each left row's scalar
``value_col`` against ``[lo_col, hi_col)`` intervals. Physical design:

  1. each interval is exploded into the fixed-width *chunks* it covers
     (``sequence(floor(lo/w), floor(hi/w))``) — arbitrary, overlapping,
     non-uniform intervals allowed;
  2. left rows compute their single chunk id ``floor(value/w)`` — a pure
     Catalyst projection on the big side;
  3. an inner join whose condition is chunk-equality AND the exact
     ``lo <= value < hi`` predicate: Catalyst extracts the equality as
     hash-join keys (the interval side is broadcast, so the 100 TB side
     never shuffles) and applies the range as a join filter. Because
     every left row has exactly ONE chunk, each (row, interval) pair is
     tested at most once — output multiplicity is identical to the
     naive theta join.

Cost: |intervals| grows by ~(width/chunk) copies; the big side gets one
hash probe per row instead of |intervals| comparisons. This is the
standard bucketed interval-join used by range-join hints in commercial
Spark forks and by genomics engines. Pick ``chunk`` near the median
interval width; a too-small chunk only inflates the (small) interval
side, never the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CHUNK = "__rj_chunk"


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    chunk: float,
) -> DataFrame:
    """Join rows to the intervals containing them: ``lo <= value < hi``.
    Overlapping intervals yield one output row per covering interval,
    exactly like the equivalent theta join.
    """
    dup = set(left.columns) & set(intervals.columns)
    if dup:
        raise ValueError(f"ambiguous columns {sorted(dup)}: rename one side")

    iv = F.broadcast(
        intervals.withColumn(
            _CHUNK,
            F.explode(
                F.sequence(
                    F.floor(F.col(lo_col) / chunk).cast("long"),
                    F.floor(F.col(hi_col) / chunk).cast("long"),
                )
            ),
        )
    )
    probe = left.withColumn(_CHUNK, F.floor(F.col(value_col) / chunk).cast("long"))

    cond = (
        (probe[_CHUNK] == iv[_CHUNK])
        & (probe[value_col] >= iv[lo_col])
        & (probe[value_col] < iv[hi_col])
    )
    out_cols = [probe[c] for c in left.columns] + [iv[c] for c in intervals.columns]
    return probe.join(iv, cond, "inner").select(*out_cols)
