"""Declarative data-quality expectations (Deequ / dbt-tests / Delta
CHECK-constraint analogue — the reference's only quality control is its
``rows_ingested > 0`` write gate, `...sales_fact_01.py:169`; a real
lakehouse engine needs row-level contracts).

An expectation is (name, boolean Column over one row). The operator
evaluates ALL expectations in one scan:

  - ``check(df, expectations)`` → per-rule violation counts + pass flag
    (one aggregate job; no per-rule passes);
  - ``enforce(df, expectations)`` → (good, bad) split, where ``bad``
    carries a ``failed_rules`` array naming every rule the row broke —
    the quarantine-table pattern (bad rows route to a review sink
    instead of poisoning the target);
  - ``with enforce_to_quarantine(df, expectations, path) as good:`` →
    the bad split is appended to the quarantine table (only when it has
    a row) and the block writes the good split; the input is persisted
    for the block only, so nothing it caches outlives the write.

Scale notes: everything is JVM-side boolean algebra fused into the scan
(one WholeStageCodegen span over the batch); ``enforce`` evaluates the
rule array ONCE via a shared projection, and both splits filter on it —
no second scan of the rule expressions, no UDFs, no shuffle at all.

Builders cover the reference-relevant constraint classes: not_null,
unique_key (the only one needing a shuffle — a groupBy on the key),
in_range, one_of, matches (regex), custom SQL predicate.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Expectations = Mapping[str, Column]


def not_null(col: str) -> Column:
    return F.col(col).isNotNull()


def in_range(col: str, lo, hi) -> Column:
    c = F.col(col)
    return c.isNotNull() & (c >= F.lit(lo)) & (c <= F.lit(hi))


def one_of(col: str, allowed: list) -> Column:
    return F.col(col).isin(allowed)


def matches(col: str, regex: str) -> Column:
    return F.col(col).rlike(regex)


def predicate(sql: str) -> Column:
    """Arbitrary row-level SQL predicate, e.g. ``predicate("a < b")``."""
    return F.expr(sql)


def from_spec(spec) -> dict[str, Column]:
    """Derive the contract-implied rule set from a TableSpec (spec.py):
    merge-key columns must be present, date-like columns (stringified at
    ingestion per the reference's CAST-AS-CHAR ladder) must parse back as
    ``yyyy-MM-dd``, and the watermark column must be present. Merge-key
    UNIQUENESS is the shuffle-needing check — run it separately via
    ``unique_key_violations(df, spec.merge_columns)``."""
    rules: dict[str, Column] = {}
    for k in spec.merge_columns:
        rules[f"{k}_not_null"] = not_null(k)
    if spec.watermark_column and spec.watermark_column not in spec.merge_columns:
        rules[f"{spec.watermark_column}_not_null"] = not_null(
            spec.watermark_column
        )
    for c in spec.columns:
        if c.is_datelike:
            rules[f"{c.name}_date_parseable"] = F.col(c.name).isNull() | (
                F.try_to_timestamp(
                    F.col(c.name).cast("string"), F.lit("yyyy-MM-dd")
                ).isNotNull()
            )
    return rules


def check(df: DataFrame, expectations: Expectations) -> DataFrame:
    """One row per rule: (rule, violations, total, passed). A single
    aggregate over one scan regardless of rule count."""
    if not expectations:
        raise ValueError("check() needs at least one expectation")
    aggs = [
        F.sum(F.when(~cond, 1).otherwise(0)).cast("bigint").alias(name)
        for name, cond in expectations.items()
    ]
    totals = df.agg(F.count(F.lit(1)).alias("__total"), *aggs)
    names = list(expectations)
    stacked = totals.select(
        F.col("__total"),
        F.explode(
            F.array(*[
                F.struct(F.lit(n).alias("rule"), F.col(n).alias("violations"))
                for n in names
            ])
        ).alias("r"),
    )
    return stacked.select(
        F.col("r.rule").alias("rule"),
        F.col("r.violations").alias("violations"),
        F.col("__total").cast("bigint").alias("total"),
        (F.col("r.violations") == 0).alias("passed"),
    )


def unique_key_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keys appearing more than once (the one constraint that needs a
    shuffle): (key columns..., n_rows). Empty result = constraint holds."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(F.col("n_rows") > 1)
    )


@contextmanager
def enforce_to_quarantine(
    df: DataFrame,
    expectations: Expectations,
    quarantine_path: str,
    batch_id: str | None = None,
) -> Iterator[DataFrame]:
    """Pipeline form of ``enforce``, as a context manager: bad rows (with
    their ``failed_rules`` provenance, plus ``batch_id`` when given) are
    APPENDED to the quarantine table at ``quarantine_path`` — the review
    sink pattern — and the ``with`` block receives the good split for the
    main write.

    Single-scan contract: the flagged projection is persisted for the
    block, so the input source (a JDBC extraction in the gosales ingest
    wiring) is scanned once across the quarantine check, the quarantine
    write and the main write — the reference's R1 persist-before-dual-
    actions pattern (`...sales_fact_01.py:156`). Whether the bad split
    has a row is one job over the persisted frame; a clean batch appends
    nothing (Spark writes an empty part file for an empty append), so a
    fresh path stays absent. The persisted frame is released when the
    block exits, raised or not: consume the good split inside it."""
    if not expectations:
        raise ValueError("enforce_to_quarantine() needs at least one expectation")
    tagged = _tag(df, expectations).persist()
    try:
        bad = tagged.where(F.size("failed_rules") > 0)
        if not bad.isEmpty():
            if batch_id is not None:
                bad = bad.withColumn("batch_id", F.lit(batch_id))
            bad.write.mode("append").parquet(quarantine_path)
        yield tagged.where(F.size("failed_rules") == 0).drop("failed_rules")
    finally:
        tagged.unpersist()


def _tag(df: DataFrame, expectations: Expectations) -> DataFrame:
    """The shared one-scan projection: every rule evaluated once into a
    ``failed_rules`` array; both splits filter on it."""
    fails = F.array_compact(
        F.array(*[
            F.when(~cond, F.lit(name)) for name, cond in expectations.items()
        ])
    )
    return df.withColumn("failed_rules", fails)


def enforce(
    df: DataFrame, expectations: Expectations
) -> tuple[DataFrame, DataFrame]:
    """Split into (good, bad). ``bad`` rows gain ``failed_rules``
    (array<string>, the rules they broke, in declaration order); ``good``
    keeps the original schema."""
    if not expectations:
        raise ValueError("enforce() needs at least one expectation")
    tagged = _tag(df, expectations)
    good = tagged.where(F.size("failed_rules") == 0).drop("failed_rules")
    bad = tagged.where(F.size("failed_rules") > 0)
    return good, bad
