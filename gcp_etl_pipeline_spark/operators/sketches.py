"""Mergeable distinct-count sketches: K-Minimum-Values (KMV).

The 100 TB pattern for COUNT(DISTINCT): exact distinct aggregation
shuffles every distinct value; a k-row sketch of the smallest hashes is
bounded regardless of cardinality, merges associatively, and answers
with a ~1/sqrt(k) relative error. KMV is the only sketch in the
package: nothing here wraps or calls Spark 4's Datasketches built-ins
(`hll_sketch_agg`, `kll_sketch_agg_double`, `theta_sketch_agg`). The KMV
sketch is md5-derived integer arithmetic, so a DuckDB oracle reproduces
the estimate and its error bit-for-bit.

Two-level usage mirrors `operators/ivm.py`'s mergeable-partials contract:
build partials per batch/partition-slice, store them, and merge partials
across batches to answer — the merged sketch is IDENTICAL to sketching
the union directly, which makes incremental maintenance of distinct
counts lossless at the sketch level.

The reference has no approximate aggregates (SURVEY §2.5 — "Catalyst's
hash-agg covers A1-A4 outright"); this is a scale extension in the same
spirit as `approx_count_distinct` in streaming/core.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kmv_distinct(values: DataFrame, value_col: str, k: int = 256) -> DataFrame:
    """K-Minimum-Values distinct-count estimate — the GRADABLE twin of
    Spark's Datasketches Theta built-ins (Bar-Yossef et al. 2002; Theta is
    KMV + theta thresholding). The k smallest 48-bit hashes of a column
    determine the estimate ``(k-1) * 2^48 / kth_min``; everything is
    md5-derived integer arithmetic, so a DuckDB oracle reproduces the
    estimate AND its error versus the exact distinct count bit-for-bit —
    the estimator's accuracy is itself a graded quantity (the
    minhash_estimate_error pattern applied to cardinality).

    Scale shape: hashes are distinct-ed (map-side partial collapses
    duplicates; the key space is the 48-bit hash, so the shuffle is
    bounded by min(n_distinct, 2^48)), then a global k-smallest via
    sort+limit = per-partition top-k merge (TakeOrdered), never a full
    sort. The exact count is computed here only to GRADE the estimate;
    the production path returns the sketch row alone. One 1×1 cross join
    assembles the report row.

    Below k the retained set IS the distinct set and the estimate is
    exact by construction (n_retained < k branch).
    """
    exact = (
        values.where(F.col(value_col).isNotNull())
        .select(value_col)
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_distinct"))
    )
    return kmv_report(kmv_sketch(values, value_col, k), exact, k)


def kmv_sketch(values: DataFrame, value_col: str, k: int = 256) -> DataFrame:
    """The mergeable KMV partial: (h) rows of the ≤k smallest distinct
    48-bit hashes. Union is SET-DETERMINISTIC — the k smallest of a
    union are a subset of the per-side retained sets, so
    ``kmv_merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B)`` exactly (the
    Theta-sketch union contract, here over gradable integers). Store
    the k rows per batch/partition-slice and merge across batches; the
    raw corpus is never re-scanned.

    NULL values are excluded (the COUNT(DISTINCT) convention) — and
    necessarily so: a NULL hash would sort FIRST in Spark's orderBy and
    LAST in SQL engines, silently poisoning the k-min set differently
    per engine."""
    h = F.expr(
        f"CAST(conv(substring(md5(concat('kmv|', CAST({value_col} AS STRING))),"
        f" 1, 12), 16, 10) AS BIGINT)"
    )
    return (
        values.where(F.col(value_col).isNotNull())
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_merge(a: DataFrame, b: DataFrame, k: int = 256) -> DataFrame:
    """Merge two KMV partials: distinct union, keep the k smallest."""
    return a.union(b).distinct().orderBy("h").limit(k)


def kmv_report(sketch: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Assemble the graded report row from a KMV partial (``h`` rows) and
    a 1-row exact-count frame (``exact_distinct``)."""
    space = 1 << 48
    agg = sketch.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_retained"),
        F.max("h").alias("kth_min"),
    )
    return (
        agg.crossJoin(exact)
        .select(
            F.lit(k).cast("bigint").alias("k"),
            "n_retained",
            "kth_min",
            F.when(F.col("n_retained") < k, F.col("n_retained"))
            .otherwise(F.expr(f"CAST({k - 1} AS BIGINT) * {space} DIV kth_min"))
            .cast("bigint")
            .alias("est_distinct"),
            "exact_distinct",
        )
        .withColumn(
            "err_u",
            # empty input: est and exact are both 0 — a defined err of 0,
            # not a NULL-vs-division-error engine divergence
            F.expr("CASE WHEN exact_distinct = 0 THEN CAST(0 AS BIGINT) "
                   "ELSE abs(est_distinct - exact_distinct) * 1000000 "
                   "DIV exact_distinct END"),
        )
    )


def kmv_group_set_estimates(
    values: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """KMV set ALGEBRA per group pair — the gradable twin of
    Theta-sketch set expressions: one k-min sketch per group, then for every
    group pair the union estimate comes from the MERGED sketch (k
    smallest of the union — set-deterministic) and the intersection by
    inclusion-exclusion ``max(0, estA + estB − estU)``. Exact
    union/intersection cardinalities ride along so both estimators'
    errors are graded quantities. Everything is md5/integer arithmetic.

    Scale shape: sketches are one distinct + one per-group top-k window
    over 8-byte hashes; pair merging touches only |groups|²·k sketch
    rows — the underlying corpus never pair-joins (the source_overlap
    exact path is run here only to GRADE; production reads the sketch
    columns alone).
    """
    from pyspark.sql import Window

    space = 1 << 48
    h = F.expr(
        f"CAST(conv(substring(md5(concat('kmv|', CAST({value_col} AS STRING))),"
        f" 1, 12), 16, 10) AS BIGINT)"
    )
    gh = (
        values.where(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("g"), h.alias("h"))
        .distinct()
    )
    wg = Window.partitionBy("g").orderBy("h")
    sk = (
        gh.withColumn("__r", F.row_number().over(wg))
        .where(F.col("__r") <= k)
        .select("g", "h")
    )

    def est(n_col: str, kth_col: str) -> F.Column:
        return (
            F.when(F.col(n_col) < k, F.col(n_col))
            .otherwise(F.expr(f"CAST({k - 1} AS BIGINT) * {space} DIV {kth_col}"))
            .cast("bigint")
        )

    per = sk.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.max("h").alias("__kth"),
    ).select("g", est("__n", "__kth").alias("__est"))

    ga = sk.select(F.col("g").alias("src_a"), "h")
    gb = sk.select(F.col("g").alias("src_b"), "h")
    pairs = (
        per.select(F.col("g").alias("src_a"))
        .crossJoin(per.select(F.col("g").alias("src_b")))
        .where(F.col("src_a") < F.col("src_b"))
    )
    merged = pairs.join(ga, "src_a").select("src_a", "src_b", "h").union(
        pairs.join(gb, "src_b").select("src_a", "src_b", "h")
    ).distinct()
    wp = Window.partitionBy("src_a", "src_b").orderBy("h")
    uni = (
        merged.withColumn("__r", F.row_number().over(wp))
        .where(F.col("__r") <= k)
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.max("h").alias("__kth"),
        )
        .select("src_a", "src_b", est("__n", "__kth").alias("est_union"))
    )
    # exact cardinalities (grading arm)
    nn = values.where(F.col(value_col).isNotNull())
    sizes = nn.select(F.col(group_col).alias("g"), value_col).distinct() \
        .groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("__sz"))
    va = nn.select(F.col(group_col).alias("src_a"), F.col(value_col).alias("v")).distinct()
    vb = nn.select(F.col(group_col).alias("src_b"), F.col(value_col).alias("v")).distinct()
    inter = (
        va.join(vb, "v")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__exact_inter"))
    )
    return (
        uni
        .join(F.broadcast(per.select(F.col("g").alias("src_a"),
                                     F.col("__est").alias("__ea"))), "src_a")
        .join(F.broadcast(per.select(F.col("g").alias("src_b"),
                                     F.col("__est").alias("__eb"))), "src_b")
        .join(F.broadcast(sizes.select(F.col("g").alias("src_a"),
                                       F.col("__sz").alias("__sza"))), "src_a")
        .join(F.broadcast(sizes.select(F.col("g").alias("src_b"),
                                       F.col("__sz").alias("__szb"))), "src_b")
        .join(inter, ["src_a", "src_b"], "left")
        .withColumn("__exact_inter",
                    F.coalesce(F.col("__exact_inter"), F.lit(0).cast("bigint")))
        .select(
            "src_a", "src_b",
            "est_union",
            F.greatest(
                F.lit(0).cast("bigint"),
                (F.col("__ea") + F.col("__eb") - F.col("est_union")),
            ).cast("bigint").alias("est_inter"),
            (F.col("__sza") + F.col("__szb") - F.col("__exact_inter"))
            .cast("bigint").alias("exact_union"),
            F.col("__exact_inter").alias("exact_inter"),
        )
    )
