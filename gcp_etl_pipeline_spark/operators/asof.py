"""As-of (temporal) join — an operator the reference lacks and Spark has no
native form of (engine extension, SURVEY §2.4 note: "Not present in the
reference: theta/range/as-of joins").

Semantics (backward): for every left row, attach the payload of the
single right row with the same key and the greatest ``right_ts <=
left_ts`` (inclusive). Rows with no qualifying match keep NULL payloads
(left-outer semantics), optionally bounded by ``tolerance_s`` (seconds):
matches farther than the tolerance are nulled out.

Physical design (the 100 TB shape): a sort-merge-style *tagged union*
rather than a range join —

    left(tag=1) ∪ right(tag=0, payload packed into one struct)
      → window: last(payload ignoring nulls)
          OVER (PARTITION BY keys ORDER BY ts, tag
                ROWS UNBOUNDED PRECEDING..CURRENT)
      → keep tag=1 rows, unpack payload

This costs exactly ONE shuffle (the window partition by key), no
interval explosion and no per-row search: each partition is a single
ordered merge pass, identical to how kdb/QuestDB/Flink execute as-of.
A naive range join would be O(|L|·|R|) per key; this is O(|L|+|R| log).

Determinism: right rows must be unique per (keys, right_ts) — the same
precondition DuckDB's native ASOF JOIN has. Callers with duplicate
timestamps aggregate the right side first (see the registered
``asof_join_events`` query).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TAG = "__asof_tag"
_PAY = "__asof_pay"
_TS = "__asof_ts"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    tolerance_s: float | None = None,
) -> DataFrame:
    """Left-outer as-of join of ``right`` payload columns onto ``left``;
    ``right`` carries its timestamp under the same name ``left_ts``.

    Payload columns = every right column except ``on`` + ``left_ts``;
    they keep their names.
    """
    from pyspark.sql import Window

    pay_cols = [c for c in right.columns if c not in set(on) | {left_ts}]

    # Tagged union. The payload (and the matched right timestamp, kept for
    # the tolerance bound) rides in ONE struct so a single window
    # expression fills it for any payload width.
    pay = F.struct(
        F.col(left_ts).cast("timestamp").alias(_TS),
        *[F.col(c) for c in pay_cols],
    )
    r = right.select(
        *[F.col(c) for c in on],
        F.col(left_ts).cast("timestamp").alias(left_ts),
        pay.alias(_PAY),
    ).withColumn(_TAG, F.lit(0))
    l = left.withColumn(_TAG, F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)

    # right (tag 0) sorts before left (tag 1) at equal ts and the frame
    # looks back, so ts-equality matches are inclusive
    w = Window.partitionBy(*on).orderBy(F.col(left_ts).asc(), F.col(_TAG).asc())
    filled = F.last(_PAY, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn(_PAY, filled).where(F.col(_TAG) == 1)

    keep: Column = F.lit(True)
    if tolerance_s is not None:
        gap = F.abs(
            F.unix_micros(F.col(left_ts).cast("timestamp"))
            - F.unix_micros(F.col(_PAY)[_TS])
        )
        keep = gap <= F.lit(int(tolerance_s * 1_000_000))

    return matched.select(
        *[F.col(c) for c in left.columns],
        *[F.when(keep, F.col(_PAY)[c]).alias(c) for c in pay_cols],
    )
