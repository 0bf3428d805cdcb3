"""Graded queries for connected components, column profiling, and rule
validation.

The components oracle UNROLLS the same accelerated min-label update the
Spark loop runs (neighbor-min + hash-to-min pointer jump) as a fixed
chain of linear CTE rounds — each round is one edges⋈labels join plus
one labels⋈labels jump and a GROUP BY min, so the oracle scales like
the engine (O(rounds·E)) instead of enumerating the quadratic
(node, reachable-label) closure a RECURSIVE walk produces (at sf0.1 the small-vocabulary simhash graph has 3.5M pairs
and a half-corpus component; the walk ran for tens of minutes while the
unrolled chain takes seconds).

Correctness does not rest on "enough rounds" silently: a final
fixpoint CTE re-runs one neighbor-min round, and if ANY label would
still move, the oracle emits a poison row ((-1, -1)) that hash-breaks
the comparison loudly. The fixpoint of the min-update IS the exact
component assignment (at fixpoint both ends of every edge carry equal
labels ⇒ labels constant per component ⇒ the component min keeps its
own id), so a clean fixpoint certifies the closure with no recursion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators import dedup
from gcp_etl_pipeline_spark.operators.components import connected_components
from gcp_etl_pipeline_spark.operators.dedup_queries import _SIMHASH_CTES
from gcp_etl_pipeline_spark.operators.quality import profile, validate
from gcp_etl_pipeline_spark.queries_relational import ensure_views
from gcp_etl_pipeline_spark.operators.parallel import spread_scan
from gcp_etl_pipeline_spark.registry import register
from gcp_etl_pipeline_spark.sources.files import read_parquet


# ------------------------------------------------- dedup cluster closure

def _q_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(read_parquet(spark, f"{sf_dir}/documents.parquet"), f"{sf_dir}/documents.parquet")
    pairs = dedup.simhash_neardup_pairs(docs, max_hamming=3)
    nodes = docs.select(F.col("doc_id").alias("node"))
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    comp = connected_components(nodes, edges)
    return comp.select(F.col("node").alias("doc_id"), "component")


_CC_ROUNDS = 8  # pointer jumping converges in ~log2(diameter) rounds;
# the sf0.1 graph needs 5 (plain propagation needed 8) — 8 is headroom,
# and the fixpoint poison row makes "not enough rounds" loud, not wrong


def _cc_with_body(rounds: int) -> str:
    """Shared WITH-chain for the components oracles: simhash near-dup
    graph -> ``rounds`` unrolled accelerated min-label updates ->
    one-round fixpoint check, without a final SELECT (each oracle
    projects the converged labels `l{rounds}` differently and unions the
    poison row from `fix`). Each round is linear in |edges|:

        l{k}(n) = min(l{k-1}(n),                 -- keep
                      l{k-1}(m) for m ~ n,       -- neighbor min
                      l{k-1}(l{k-1}(n)))         -- pointer jump

    Every round CTE is MATERIALIZED: DuckDB inlines multiply-referenced
    CTEs by default, and with three references per round the inlined
    plan re-expands the whole prefix 3^rounds times (the first attempt
    exhausted file handles re-opening the parquet scan). Materialization
    pins each round to one execution — the linear cost the unrolling is
    for."""

    def rnd(i: int) -> str:
        p = f"l{i - 1}"
        return f"""
    l{i} AS MATERIALIZED (
      SELECT node, MIN(label) AS label FROM (
        SELECT node, label FROM {p}
        UNION ALL
        SELECT e.d AS node, w.label FROM edges e JOIN {p} w ON e.s = w.node
        UNION ALL
        SELECT x.node, y.label FROM {p} x JOIN {p} y ON x.label = y.node
      ) u GROUP BY node
    )"""

    chain = ",".join(rnd(i) for i in range(1, rounds + 1))
    fin = f"l{rounds}"
    return f"""
    WITH {_SIMHASH_CTES},
    bands AS (
      SELECT doc_id, simhash, b.b AS band_id,
             (simhash >> CAST(b.b * 8 AS INT)) & 255 AS band_val
      FROM simh CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_val = y.band_val
           AND x.doc_id < y.doc_id
      WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
    ),
    edges AS MATERIALIZED (
      SELECT a AS s, b AS d FROM pairs
      UNION ALL SELECT b AS s, a AS d FROM pairs
    ),
    l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS label
                        FROM documents),{chain},
    fix AS (
      SELECT node, MIN(label) AS label FROM (
        SELECT node, label FROM {fin}
        UNION ALL
        SELECT e.d AS node, w.label FROM edges e JOIN {fin} w ON e.s = w.node
      ) u GROUP BY node
    )
    """


def _unrolled_cc_sql(rounds: int) -> str:
    """dedup_components oracle: every (node, converged label) pair, plus
    the poison row when the fixpoint check fails (see _cc_with_body)."""
    fin = f"l{rounds}"
    return _cc_with_body(rounds) + f"""
    SELECT node AS doc_id, label AS component FROM {fin}
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
    FROM (SELECT COUNT(*) AS moved FROM fix f JOIN {fin} z USING (node)
          WHERE f.label <> z.label) nc
    WHERE nc.moved > 0
    """


register("dedup_components", _q_components, _unrolled_cc_sql(_CC_ROUNDS))


# --------------------------------------- transitive near-dup dedup (keep)
# operators/dedup.py:dedup_neardup_transitive — the production
# composition: pairs -> transitive closure -> keep only the minimum-id
# representative of every cluster (pairwise dropping over-keeps chains).
# The oracle projects the shared converged labels: kept <=> node == label,
# joined back to the corpus; the poison row carries the output schema.

def _q_neardup_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(read_parquet(spark, f"{sf_dir}/documents.parquet"), f"{sf_dir}/documents.parquet")
    return dedup.dedup_neardup_transitive(docs).select(
        "doc_id", "lang", "n_chars"
    )


def _transitive_keep_oracle() -> str:
    fin = f"l{_CC_ROUNDS}"
    return _cc_with_body(_CC_ROUNDS) + f"""
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d JOIN {fin} c ON d.doc_id = c.node
    WHERE c.node = c.label
    UNION ALL
    SELECT CAST(-1 AS BIGINT), 'NOT-CONVERGED', CAST(-1 AS INTEGER)
    FROM (SELECT COUNT(*) AS moved FROM fix f JOIN {fin} z USING (node)
          WHERE f.label <> z.label) nc
    WHERE nc.moved > 0
    """


register(
    "neardup_transitive_keep", _q_neardup_transitive,
    _transitive_keep_oracle(),
)


# ------------------------------------------------------ column profiling

_PROFILE_COLS = ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]


def _q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    return profile(spark.table("customer"), _PROFILE_COLS)


def _profile_oracle() -> str:
    arms = []
    for c in _PROFILE_COLS:
        arms.append(
            f"""
            SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
                   COUNT(*) - COUNT({c}) AS n_null,
                   COUNT(DISTINCT {c}) AS n_distinct,
                   CAST(MIN({c}) AS VARCHAR) AS min_value,
                   CAST(MAX({c}) AS VARCHAR) AS max_value
            FROM customer
            """
        )
    return " UNION ALL ".join(arms)


register("profile_customer", _q_profile, _profile_oracle())


# ------------------------------------------------------- rule validation

_RULES = {
    "qty_in_1_50": "l_quantity BETWEEN 1 AND 50",
    "price_positive": "l_extendedprice > 0",
    "shipdate_present": "l_shipdate IS NOT NULL",
    "linestatus_domain": "l_linestatus IN ('O', 'F')",
    "discount_in_0_01": "l_discount BETWEEN 0 AND 0.1",
    "returnflag_domain": "l_returnflag IN ('A', 'N', 'R')",
}


def _q_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    return validate(spark.table("lineitem"), _RULES)


def _validate_oracle() -> str:
    arms = []
    for name, pred in _RULES.items():
        arms.append(
            f"""
            SELECT '{name}' AS rule, COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN ({pred}) THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_violations
            FROM lineitem
            """
        )
    return " UNION ALL ".join(arms)


register("validate_lineitem_rules", _q_validate, _validate_oracle())


# --------------------------------------------------- z-score outliers
# Per-priority z-score on o_totalprice in exact integer arithmetic:
# milli-unit prices, floor-div mean, centered squared deviations summed
# as bigints (whole units, so Σd² stays < 2^63 up to ~1e9-row groups —
# beyond that, pre-aggregate per partition or widen to DECIMAL(38,0)),
# then ONE double division + sqrt + division + µ-round per row. sqrt is
# IEEE-correctly-rounded in both engines, so hashes match exactly.
# Plan: one shuffle for the per-group stats, broadcast join back onto
# the rows (stats table is |groups| rows).

def _q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from gcp_etl_pipeline_spark.sources.files import read_parquet

    orders = spread_scan(read_parquet(spark, f"{sf_dir}/orders.parquet"), f"{sf_dir}/orders.parquet")
    x = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice").cast("double") * 1000)
        .cast("bigint")
        .alias("x_m"),
    )
    means = x.groupBy("o_orderpriority").agg(
        F.expr("sum(x_m) DIV count(*)").alias("mean_m"),
        F.count(F.lit(1)).alias("n"),
    )
    centered = x.join(F.broadcast(means), "o_orderpriority").withColumn(
        "d_m", F.col("x_m") - F.col("mean_m")
    )
    ssd = centered.groupBy("o_orderpriority").agg(
        F.expr("sum((d_m DIV 1000) * (d_m DIV 1000))").alias("ssd_1")
    )
    return (
        centered.join(F.broadcast(ssd), "o_orderpriority")
        .withColumn(
            "z_u",
            F.expr(
                "cast(round((cast(d_m as double) / 1000.0)"
                " / sqrt(cast(ssd_1 as double) / n) * 1000000, 0) as bigint)"
            ),
        )
        .filter(F.abs(F.col("z_u")) > 1_500_000)
        .select("o_orderkey", "o_orderpriority", "z_u")
    )


def _zscore_oracle() -> str:
    return """
    WITH x AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 1000, 0) AS BIGINT)
               AS x_m
      FROM orders
    ),
    m AS (
      SELECT o_orderpriority,
             CAST(SUM(x_m) AS BIGINT) // COUNT(*) AS mean_m,
             COUNT(*) AS n
      FROM x GROUP BY 1
    ),
    c AS (
      SELECT x.*, x.x_m - m.mean_m AS d_m, m.n
      FROM x JOIN m USING (o_orderpriority)
    ),
    v AS (
      SELECT o_orderpriority,
             CAST(SUM((d_m // 1000) * (d_m // 1000)) AS BIGINT) AS ssd_1
      FROM c GROUP BY 1
    )
    SELECT c.o_orderkey, c.o_orderpriority,
           CAST(ROUND((CAST(c.d_m AS DOUBLE) / 1000.0)
                 / sqrt(CAST(v.ssd_1 AS DOUBLE) / c.n) * 1000000, 0)
                AS BIGINT) AS z_u
    FROM c JOIN v USING (o_orderpriority)
    WHERE abs(CAST(ROUND((CAST(c.d_m AS DOUBLE) / 1000.0)
                 / sqrt(CAST(v.ssd_1 AS DOUBLE) / c.n) * 1000000, 0)
               AS BIGINT)) > 1500000
    """


register("outlier_zscore_orders", _q_zscore, _zscore_oracle())
