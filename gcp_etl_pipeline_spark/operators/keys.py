"""Surrogate-key generation (reference W1/W2 + A2/J4 as one operator).

Reference pattern (`jobs/curated/helpings/retailer_hlp/
dl_ct_gosales_retailer_hlp_01.py:51-62` and `punjabcencus_tehsil_hlp_01.sql:4`):

    SELECT max_key + SUM(1) OVER (ROWS UNBOUNDED PRECEDING), ...
    FROM (new rows) CROSS JOIN (SELECT coalesce(MAX(key),0) AS max_key FROM tgt)

i.e. dense keys max+1..max+n for rows not yet in the target. The reference
window has NO ORDER BY — nondeterministic assignment in any distributed
run. We deliberately fix the semantics (SURVEY §7 hard part 1): keys are
assigned deterministically from the natural key — stable across reruns
over identical input.

Two physical strategies, both dense and deterministic:

  - **Window path** (default): global ``row_number() OVER (ORDER BY
    natural key)`` — single-partition, fine for dimension deltas
    (thousands of new rows per batch, the reference's only workload).
  - **Partition-offset path** (``monotonic=True``): hash-partition the
    new rows on the natural key, ``row_number`` within each partition
    (parallel windows), then add cumulative per-partition offsets
    computed from a tiny collected count vector. Scales to a
    billion-row first load; keys are dense and deterministic but NOT
    globally ordered by natural key (the window path's extra property).

A guard makes the choice explicit: the default path folds an
``assert_true(count <= max_window_rows)`` into the key expression itself
— evaluated inside the SAME single-partition window job (no extra pass
over the input lineage, no eager action at construction) — so a
pathological first load fails at execution instead of silently
single-threading; the caller must opt into ``monotonic=True``.

The 1-row max-key aggregate is crossJoin'd; Catalyst broadcasts it.
``order_by`` should be a unique natural key: ties are assigned
deterministically only up to the tie group in either path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.sinks.writers import local_frame

# Above this many new rows the single-partition window path refuses to run.
# ~5M rows of a slim dim delta is comfortably one-executor territory;
# beyond it the caller must choose the parallel path explicitly.
DEFAULT_MAX_WINDOW_ROWS = 5_000_000

# Fixed bucket count for the monotonic path: key assignment is a pure
# function of (natural key, bucket count), so the default must NOT come
# from cluster size (defaultParallelism would change the assignment after
# a resize). 512 buckets keep a billion-row load at ~2M rows per ranking
# window while staying wider than any realistic executor count.
DEFAULT_OFFSET_BUCKETS = 512


def _max_key_df(new_rows: DataFrame, target: DataFrame | None, key_col: str):
    if target is not None and key_col in target.columns:
        return target.agg(
            F.coalesce(F.max(key_col), F.lit(0)).cast("long").alias("__max_key")
        )
    return new_rows.sparkSession.range(1).select(
        F.lit(0).cast("long").alias("__max_key")
    )


def surrogate_keys(
    new_rows: DataFrame,
    target: DataFrame | None,
    key_col: str,
    order_by: list[str],
    *,
    monotonic: bool = False,
    max_window_rows: int = DEFAULT_MAX_WINDOW_ROWS,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign dense surrogate keys max(target.key)+1..+n to ``new_rows``.

    ``target=None`` (or empty) starts at 1 — the reference's
    ``coalesce(MAX(key),0)`` empty-table behavior
    (`...retailer_hlp_01.py:60-61`).

    ``monotonic=False`` (default): global-window assignment ordered by
    ``order_by``; raises AT EXECUTION if ``new_rows`` exceeds
    ``max_window_rows`` (the size check rides in the same window job — an
    eager pre-count would execute the whole upstream lineage twice).

    ``monotonic=True``: parallel partition-offset assignment (see module
    docstring) — dense + deterministic, natural-key-ordered only within
    each hash partition.
    """
    if monotonic:
        return _surrogate_keys_offsets(
            new_rows, target, key_col, order_by, num_partitions
        )

    w = Window.orderBy(*[F.col(c).asc_nulls_last() for c in order_by])
    # same single partition as `w`, unbounded frame: the count costs no
    # extra exchange or input pass
    cnt = F.count(F.lit(1)).over(
        Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    guard = F.assert_true(
        cnt <= F.lit(max_window_rows),
        F.lit(
            f"surrogate_keys: new_rows exceeds max_window_rows="
            f"{max_window_rows}; the global-window path would run "
            f"single-partition. Pass monotonic=True for the parallel "
            f"partition-offset assignment (dense + deterministic)."
        ),
    )
    key_val = F.col("__max_key") + F.row_number().over(w)
    return (
        new_rows.crossJoin(F.broadcast(_max_key_df(new_rows, target, key_col)))
        # guard is NULL on success; the when() makes the key depend on it
        # so the optimizer can never prune the assertion away
        .withColumn(key_col, F.when(guard.isNull(), key_val).cast("long"))
        .drop("__max_key")
    )


def _surrogate_keys_offsets(
    new_rows: DataFrame,
    target: DataFrame | None,
    key_col: str,
    order_by: list[str],
    num_partitions: int | None,
) -> DataFrame:
    """Parallel dense-key assignment via per-partition offsets.

    Partition id is an explicit deterministic hash of the natural key
    (NOT ``spark_partition_id()`` or range sampling — both depend on
    physical input layout, which would make key assignment depend on file
    splits). Two jobs: a count-per-bucket aggregate (tiny collect: one
    long per bucket), then the keyed assignment with broadcast offsets.
    Every stage is partition-parallel; nothing large touches the driver.
    """
    spark = new_rows.sparkSession
    if num_partitions is None:
        num_partitions = DEFAULT_OFFSET_BUCKETS

    bucket = F.pmod(
        F.xxhash64(*[F.col(c) for c in order_by]), F.lit(num_partitions)
    ).cast("int")
    with_b = new_rows.withColumn("__bucket", bucket)

    counts = {
        r["__bucket"]: r["cnt"]
        for r in with_b.groupBy("__bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for b in range(num_partitions):
        offsets.append((b, acc))
        acc += int(counts.get(b, 0))
    offset_df = local_frame(spark, offsets, "__bucket int, __offset long")

    w = Window.partitionBy("__bucket").orderBy(
        *[F.col(c).asc_nulls_last() for c in order_by]
    )
    return (
        with_b.join(F.broadcast(offset_df), "__bucket")
        .crossJoin(F.broadcast(_max_key_df(new_rows, target, key_col)))
        .withColumn(
            key_col,
            (F.col("__max_key") + F.col("__offset") + F.row_number().over(w)).cast(
                "long"
            ),
        )
        .drop("__bucket", "__offset", "__max_key")
    )
