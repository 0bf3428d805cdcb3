"""Data-quality operators: single-pass column profiling and rule
validation.

The reference's only data-quality machinery is the `rows_ingested > 0`
write gate (`...sales_fact_01.py:169`) and ledger remarks. These
operators are the engine-native upgrade: profile a table or evaluate a
rule set in ONE aggregation job each — at 100 TB the scan dominates, so
everything is folded into one pass (no per-column or per-rule jobs).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.sinks.writers import local_frame


def profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """One row per column: counts, nulls, exact distincts, min/max.

    Single wide aggregate → one scan, one (tiny) result. min/max are
    stringified AFTER aggregation on the native type, so numeric ordering
    is preserved. Exact n_distinct shuffles per column-expand; for quick
    looks at petabyte tables swap in approx_count_distinct upstream.
    """
    names = list(cols) if cols is not None else list(df.columns)
    aggs = []
    for c in names:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    row = df.agg(F.count(F.lit(1)).alias("__n"), *aggs)

    # wide -> long: one stack() expression, still a single job
    parts = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}" for c in names
    )
    return row.selectExpr(
        "__n AS n_rows",
        f"stack({len(names)}, {parts}) AS "
        "(col_name, n_non_null, n_distinct, min_value, max_value)",
    ).select(
        "col_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_non_null")).alias("n_null"),
        "n_distinct",
        "min_value",
        "max_value",
    )


def validate(df: DataFrame, rules: dict[str, str]) -> DataFrame:
    """Evaluate named boolean SQL predicates; return per-rule violation
    counts. One aggregation over one scan regardless of rule count; NULL
    predicate results count as violations (SQL three-valued logic is a
    quality bug, not a pass)."""
    aggs = [
        F.sum(
            F.when(F.expr(pred).eqNullSafe(F.lit(True)), 0).otherwise(1)
        ).alias(f"__v_{i}")
        for i, pred in enumerate(rules.values())
    ]
    row = df.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    parts = ", ".join(
        f"{_sql_str(name)}, __v_{i}" for i, name in enumerate(rules)
    )
    return row.selectExpr(
        "__n AS n_rows",
        f"stack({len(rules)}, {parts}) AS (rule, n_violations)",
    ).select("rule", "n_rows", "n_violations")


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def distribution_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """Snapshot-to-snapshot distribution drift on a numeric column — the
    monitoring primitive a daily ingest runs before publishing: bucket
    both snapshots over a FIXED [lo, hi) grid and emit per-bucket counts,
    shares, and the bucket's Population Stability Index contribution
    (PSI = Σ (p_a − p_b)·ln(p_a / p_b); > 0.2 conventionally flags a
    shift worth blocking on). Values outside the grid clamp into the
    edge buckets, so no row is silently dropped.

    Determinism contract: bucket indexes come from one floor() on a
    single IEEE division; counts are exact integers under any
    partitioning; shares and the one ln() per bucket are µ-unit
    quantized, so the whole report is hash-stable cross-engine.
    ε-smoothing (1/scale) keeps empty buckets finite the same way in
    both engines.

    Scale shape: each side is one scan → one n_buckets-sized grouped
    aggregate (map-side partial); the two tiny histograms full-outer
    join on bucket. The snapshots themselves never join."""
    from pyspark.sql import functions as F

    w = (hi - lo) / n_buckets

    def hist(df: DataFrame, side: str) -> DataFrame:
        b = F.floor((F.col(col).cast("double") - lo) / w).cast("long")
        b = F.least(F.greatest(b, F.lit(0)), F.lit(n_buckets - 1))
        return (
            df.where(F.col(col).isNotNull())
            .select(b.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(f"n_{side}"))
        )

    return _psi_report(hist(df_a, "a"), hist(df_b, "b"), "bucket", scale)


def _psi_report(ha: DataFrame, hb: DataFrame, key: str, scale: int) -> DataFrame:
    """Shared PSI tail for the numeric and categorical gates: full-outer
    join the two histograms on ``key``, ε-smooth the shares, one µ-unit
    ln per row. An EMPTY snapshot must scream, not NULL out: a zero
    total would make every share NULL (n/0) and a blocking rule like
    ``max(psi_u) > threshold`` would never fire on the most important
    failure (a vanished dataset) — so totals floor at 1, giving the
    empty side share ≈ ε and maximal PSI against any real distribution."""
    from pyspark.sql import functions as F

    joined = ha.join(hb, key, "full_outer").select(
        key,
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    tot = joined.agg(
        F.greatest(F.sum("n_a"), F.lit(1)).alias("t_a"),
        F.greatest(F.sum("n_b"), F.lit(1)).alias("t_b"),
    )
    eps = 1.0 / scale
    pa = F.col("n_a") / F.col("t_a") + eps
    pb = F.col("n_b") / F.col("t_b") + eps
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            key,
            "n_a",
            "n_b",
            F.round((pa - pb) * F.log(pa / pb) * scale)
            .cast("bigint")
            .alias("psi_u"),
        )
    )


def categorical_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    scale: int = 1_000_000,
    null_label: str = "<null>",
) -> DataFrame:
    """Categorical companion to ``distribution_drift``: PSI per category
    value (nulls are a category of their own — a sudden null surge is
    exactly the drift this gate exists to catch). Same determinism
    contract; same scale shape — one grouped aggregate per side, the
    two category-sized histograms full-outer join on the value.

    ``null_label`` is the sentinel NULLs report under; if the column can
    legitimately contain that literal string, the two would merge into
    one row — pass a sentinel outside the column's domain."""
    from pyspark.sql import functions as F

    def hist(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(
                F.coalesce(F.col(col).cast("string"), F.lit(null_label))
                .alias("category")
            )
            .groupBy("category")
            .agg(F.count(F.lit(1)).alias(f"n_{side}"))
        )

    return _psi_report(hist(df_a, "a"), hist(df_b, "b"), "category", scale)


def ks_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    scale: int = 1_000_000,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between two
    snapshots of a numeric column — the unbinned companion to
    ``distribution_drift``'s PSI: D = max_v |F_a(v) − F_b(v)| over every
    observed value, so a shift PSI's fixed grid averages away (a spike
    inside one bucket, a subtle quantile slide) still registers.

    Returns ONE row: (n_a, n_b, ks_u) with ks_u = round(D·scale).

    Determinism contract: the maximum is taken over the INTEGER
    cross-products |cum_a·n_b − cum_b·n_a| (exact under any layout); the
    single division + round happens once on the final scalar, in the
    same operation order as the SQL oracle.

    Scale shape — the honest part: an empirical CDF needs a GLOBAL
    cumulative sum, and a naive window (ORDER BY with no PARTITION BY)
    plans as ONE task over every distinct value. This implementation
    runs the classic two-phase distributed prefix sum instead:
      1. per-value counts for both sides (one shuffle, map-side partial);
      2. values land in ``n_buckets`` RANGE buckets over the observed
         [lo, hi] (bucketing only places rows — the result is exact even
         when buckets are unbalanced);
      3. per-bucket subtotals (n_buckets rows) come to the driver and
         become EXCLUSIVE prefix offsets, broadcast-joined back;
      4. the cumulative sum windows WITHIN each bucket, n_buckets-way
         parallel, plus the bucket's offset.
    Only n_buckets scalars touch the driver; no stage sees more than one
    bucket's values in order."""
    from pyspark.sql import Window

    def counts(df: DataFrame, side: str) -> DataFrame:
        return (
            df.where(F.col(col).isNotNull())
            .select(F.col(col).cast("double").alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias(f"c_{side}"))
        )

    g = (
        counts(df_a, "a")
        .join(counts(df_b, "b"), "v", "full_outer")
        .select(
            "v",
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
    )
    stats = g.agg(
        F.sum("c_a").alias("na"),
        F.sum("c_b").alias("nb"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    ).collect()[0]
    na, nb = int(stats["na"] or 0), int(stats["nb"] or 0)
    spark = df_a.sparkSession
    if na == 0 or nb == 0:
        # an empty snapshot must scream (same contract as _psi_report)
        return spark.createDataFrame(
            [(na, nb, int(scale))], "n_a BIGINT, n_b BIGINT, ks_u BIGINT"
        )
    lo, hi = float(stats["lo"]), float(stats["hi"])
    width = (hi - lo) or 1.0
    b = F.floor((F.col("v") - lo) / width * n_buckets).cast("long")
    g = g.withColumn(
        "bucket", F.least(F.greatest(b, F.lit(0)), F.lit(n_buckets - 1))
    )
    # per-bucket subtotals -> exclusive prefix offsets (driver sees
    # n_buckets scalars, never values)
    sub = {
        int(r["bucket"]): (int(r["sa"]), int(r["sb"]))
        for r in g.groupBy("bucket")
        .agg(F.sum("c_a").alias("sa"), F.sum("c_b").alias("sb"))
        .collect()
    }
    offs, run_a, run_b = [], 0, 0
    for i in range(n_buckets):
        offs.append((i, run_a, run_b))
        sa, sb = sub.get(i, (0, 0))
        run_a += sa
        run_b += sb
    off_df = local_frame(spark, offs, "bucket BIGINT, off_a BIGINT, off_b BIGINT")
    w = (
        Window.partitionBy("bucket")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        g.join(F.broadcast(off_df), "bucket")
        .withColumn("cum_a", F.sum("c_a").over(w) + F.col("off_a"))
        .withColumn("cum_b", F.sum("c_b").over(w) + F.col("off_b"))
    )
    return cum.agg(
        F.max(
            F.abs(F.col("cum_a") * F.lit(nb) - F.col("cum_b") * F.lit(na))
        ).alias("dnum")
    ).select(
        F.lit(na).cast("bigint").alias("n_a"),
        F.lit(nb).cast("bigint").alias("n_b"),
        F.round(
            F.col("dnum").cast("double") * scale / (float(na) * float(nb)), 0
        ).cast("bigint").alias("ks_u"),
    )
