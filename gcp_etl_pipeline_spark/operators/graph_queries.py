"""Graph queries: integer-deterministic PageRank over the customer–supplier
bipartite graph and HITS over a lineitem key graph, each full and
warm-started, differentially tested against the same algorithms
unrolled as DuckDB CTEs.

The Spark side is genuinely iterative (a Python loop over DataFrame
joins in ``operators/pagerank.py``); the oracle is the same integer
recurrence written declaratively — if any iteration's shuffle order,
join, division semantics or stop decision diverged, the hash would
catch it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators.pagerank import SCALE, hits, pagerank
from gcp_etl_pipeline_spark.registry import register
from gcp_etl_pipeline_spark.sources.files import read_parquet

_ITER = 3
_DAMP = 85


def _pr_edges(spark: SparkSession, sf_dir: str, hi: str) -> DataFrame:
    """Bidirected customer-supplier edges for the md5-sampled customer
    slice below ``hi`` — the shared fixture of the full-recompute and
    warm-start queries. The md5 sample (the hash_sample_orders recipe)
    keeps the gate's graph small; the operator itself is size-agnostic."""
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    lineitem = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    orders = orders.filter(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 2) < hi
    )
    fwd = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    return fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank(
        _pr_edges(spark, sf_dir, "40"), iterations=_ITER, damping_pct=_DAMP
    )


def _oracle() -> str:
    iters = []
    prev = "r0"
    for i in range(1, _ITER + 1):
        iters.append(
            f"""
    c{i} AS (
      SELECT e.dst AS node, SUM(r.pr_u // d.outdeg) AS in_u
      FROM edges e
      JOIN {prev} r ON e.src = r.node
      JOIN deg d ON e.src = d.src
      GROUP BY 1
    ),
    r{i} AS (
      SELECT nd.node,
             CAST((SELECT base FROM consts)
                  + (COALESCE(c.in_u, 0) * {_DAMP}) // 100 AS BIGINT) AS pr_u
      FROM nodes nd LEFT JOIN c{i} c ON nd.node = c.node
    )"""
        )
        prev = f"r{i}"
    return f"""
    WITH e0 AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS STRING) AS src,
                      's' || CAST(l_suppkey AS STRING) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE substring(md5(CAST(o_custkey AS STRING)), 1, 2) < '40'
    ),
    edges AS (
      SELECT src, dst FROM e0
      UNION ALL
      SELECT dst AS src, src AS dst FROM e0
    ),
    nodes AS (
      SELECT src AS node FROM edges
      UNION
      SELECT dst AS node FROM edges
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
    consts AS (
      SELECT CAST({SCALE} // COUNT(*) AS BIGINT) AS pr0,
             CAST(({SCALE} * (100 - {_DAMP})) // 100 // COUNT(*) AS BIGINT)
               AS base
      FROM nodes
    ),
    r0 AS (
      SELECT node, (SELECT pr0 FROM consts) AS pr_u FROM nodes
    ),{",".join(iters)}
    SELECT node, pr_u FROM {prev}
    """


register("graph_pagerank", _q_pagerank, _oracle())


# --------------- incremental PageRank (delta-edges warm start)

_INC_HI = "46"  # base graph < '40'; the full graph adds the 40..45 slice
_INC_MAX = 4
# the tolerance is a DIAL; this fixture value deliberately lands the
# gate differently per scale factor (measured): at
# sf0.001 it never fires (all 4 rounds live), at sf0.01 it fires on
# the final round, at sf0.1 it fires after round 1 — so the sweeps
# exercise the no-fire, fire-at-last, and fire-early + carry-forward
# paths of BOTH the engine's break and the oracle's done-flag unroll
_INC_TOL = 2_000_000_000


def _q_pagerank_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental link-graph maintenance (the ledger twin the graph
    tier lacked): yesterday's scores (a 3-iteration full run on the
    base slice) warm-start the recurrence on the GROWN graph (a ~15%
    customer-slice delta), gated at an integer tolerance instead of a
    fixed round count. The oracle unrolls the SAME gated recurrence
    with a converged-flag carry-forward, so a divergence in the stop
    decision — not just in scores — breaks the hash."""
    base = _pr_edges(spark, sf_dir, "40")
    full = _pr_edges(spark, sf_dir, _INC_HI)
    prev = pagerank(base, iterations=_ITER, damping_pct=_DAMP)
    return pagerank(
        full,
        iterations=_INC_MAX,
        damping_pct=_DAMP,
        prior=prev,
        tol_u=_INC_TOL,
    )


def _edges_ctes(tag: str, hi: str) -> str:
    return f"""
    e0{tag} AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o_custkey AS STRING) AS src,
                      's' || CAST(l_suppkey AS STRING) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE substring(md5(CAST(o_custkey AS STRING)), 1, 2) < '{hi}'
    ),
    e{tag} AS MATERIALIZED (
      SELECT src, dst FROM e0{tag}
      UNION ALL
      SELECT dst AS src, src AS dst FROM e0{tag}
    ),
    n{tag} AS MATERIALIZED (
      SELECT src AS node FROM e{tag}
      UNION
      SELECT dst AS node FROM e{tag}
    ),
    deg{tag} AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM e{tag} GROUP BY 1),
    c{tag} AS MATERIALIZED (
      SELECT CAST({SCALE} // COUNT(*) AS BIGINT) AS pr0,
             CAST(({SCALE} * (100 - {_DAMP})) // 100 // COUNT(*)
               AS BIGINT) AS base
      FROM n{tag}
    )"""


def _inc_oracle() -> str:
    parts = [_edges_ctes("b", "40"), _edges_ctes("f", _INC_HI)]
    parts.append(
        "rb0 AS MATERIALIZED (SELECT node, (SELECT pr0 FROM cb) AS pr_u FROM nb)"
    )
    prev = "rb0"
    for i in range(1, _ITER + 1):
        parts.append(
            f"""
    cbi{i} AS MATERIALIZED (
      SELECT e.dst AS node, SUM(r.pr_u // d.outdeg) AS in_u
      FROM eb e
      JOIN {prev} r ON e.src = r.node
      JOIN degb d ON e.src = d.src
      GROUP BY 1
    ),
    rb{i} AS MATERIALIZED (
      SELECT nd.node,
             CAST((SELECT base FROM cb)
                  + (COALESCE(c.in_u, 0) * {_DAMP}) // 100 AS BIGINT)
               AS pr_u
      FROM nb nd LEFT JOIN cbi{i} c ON nd.node = c.node
    )"""
        )
        prev = f"rb{i}"
    # warm start over the full graph + the converged-flag gated unroll
    parts.append(
        f"""
    s0 AS MATERIALIZED (
      SELECT nd.node,
             CAST(COALESCE(p.pr_u, (SELECT pr0 FROM cf)) AS BIGINT)
               AS pr_u
      FROM nf nd LEFT JOIN {prev} p ON nd.node = p.node
    ),
    done0 AS MATERIALIZED (SELECT FALSE AS done)"""
    )
    for i in range(1, _INC_MAX + 1):
        parts.append(
            f"""
    cfi{i} AS MATERIALIZED (
      SELECT e.dst AS node, SUM(r.pr_u // d.outdeg) AS in_u
      FROM ef e
      JOIN s{i - 1} r ON e.src = r.node
      JOIN degf d ON e.src = d.src
      GROUP BY 1
    ),
    x{i} AS MATERIALIZED (
      SELECT nd.node,
             CAST((SELECT base FROM cf)
                  + (COALESCE(c.in_u, 0) * {_DAMP}) // 100 AS BIGINT)
               AS pr_u
      FROM nf nd LEFT JOIN cfi{i} c ON nd.node = c.node
    ),
    d{i} AS MATERIALIZED (SELECT MAX(ABS(x.pr_u - s.pr_u)) AS mx
             FROM x{i} x JOIN s{i - 1} s ON x.node = s.node),
    done{i} AS MATERIALIZED (SELECT (SELECT done FROM done{i - 1})
                  OR (SELECT mx FROM d{i}) <= {_INC_TOL} AS done),
    s{i} AS MATERIALIZED (
      SELECT s.node,
             CASE WHEN (SELECT done FROM done{i - 1}) THEN s.pr_u
                  ELSE x.pr_u END AS pr_u
      FROM s{i - 1} s JOIN x{i} x ON s.node = x.node
    )"""
        )
    body = ",".join(parts)
    return f"WITH {body}\n    SELECT node, pr_u FROM s{_INC_MAX}"


register("graph_pagerank_incremental", _q_pagerank_inc, _inc_oracle())


# ------------------------- HITS hubs/authorities (link-graph analysis)

_HITS_ITER = 2


def _hits_edges(lineitem: DataFrame) -> DataFrame:
    """The HITS graph over lineitem rows: order key -> part key, both
    mod 97, self-loops and multi-edges dropped — the shared fixture of
    the full and warm-start queries."""
    return (
        lineitem.select(
            F.concat(F.lit("n"), (F.col("l_orderkey") % 97).cast("string"))
            .alias("src"),
            F.concat(F.lit("n"), (F.col("l_partkey") % 97).cast("string"))
            .alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS over a dense directed graph built from lineitem
    keys (97 nodes, multi-edges deduped): per-round exact-integer
    max-normalization, so the scores are bit-identical under any
    partitioning — the oracle unrolls the same recurrence as CTEs."""
    lineitem = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return hits(_hits_edges(lineitem), iterations=_HITS_ITER)


def _hits_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.pagerank import HITS_SCALE

    rounds = []
    prev_h = "h0"
    prev_a = None
    for i in range(1, _HITS_ITER + 1):
        rounds.append(
            f"""
    ar{i} AS (
      SELECT e.dst AS node, SUM(h.hub_u) AS raw
      FROM edges e JOIN {prev_h} h ON e.src = h.node
      GROUP BY 1
    ),
    a{i} AS (
      SELECT node,
             CAST(CAST(raw AS HUGEINT) * {HITS_SCALE}
                  // (SELECT MAX(raw) FROM ar{i})
                  AS BIGINT) AS auth_u
      FROM ar{i}
    ),
    hr{i} AS (
      SELECT e.src AS node, SUM(a.auth_u) AS raw
      FROM edges e JOIN a{i} a ON e.dst = a.node
      GROUP BY 1
    ),
    h{i} AS (
      SELECT node,
             CAST(CAST(raw AS HUGEINT) * {HITS_SCALE}
                  // (SELECT MAX(raw) FROM hr{i})
                  AS BIGINT) AS hub_u
      FROM hr{i}
    )"""
        )
        prev_h, prev_a = f"h{i}", f"a{i}"
    return f"""
    WITH edges AS (
      SELECT DISTINCT 'n' || CAST(l_orderkey % 97 AS VARCHAR) AS src,
                      'n' || CAST(l_partkey % 97 AS VARCHAR) AS dst
      FROM lineitem
      WHERE 'n' || CAST(l_orderkey % 97 AS VARCHAR)
            <> 'n' || CAST(l_partkey % 97 AS VARCHAR)
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    h0 AS (SELECT node, CAST({HITS_SCALE} AS BIGINT) AS hub_u
           FROM nodes),{",".join(rounds)}
    SELECT n.node,
           CAST(COALESCE(h.hub_u, 0) AS BIGINT) AS hub_u,
           CAST(COALESCE(a.auth_u, 0) AS BIGINT) AS auth_u
    FROM nodes n
    LEFT JOIN {prev_h} h ON n.node = h.node
    LEFT JOIN {prev_a} a ON n.node = a.node
    """


register("graph_hits_scores", _q_hits, _hits_oracle())


# ----------------------- link reciprocity / link-farm detection

# organic edges from lineitem keys (53 hosts, quasi-random direction —
# moderate reciprocity) plus a PLANTED 6-host exchange ring (f0..f5,
# every ordered pair in both directions -> ratio exactly 1e6) and one
# low-degree mutual pair (m0<->m1: fully reciprocal but out_n = 1 —
# the min_out guard must keep it out of the farm verdict)
_FARM_N = 6


def _q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators.pagerank import reciprocity

    lineitem = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    organic = lineitem.select(
        F.concat(F.lit("h"), (F.col("l_orderkey") % 53).cast("string"))
        .alias("src"),
        F.concat(F.lit("h"), (F.col("l_partkey") % 53).cast("string"))
        .alias("dst"),
    )
    farm = spark.range(_FARM_N * _FARM_N).select(
        F.concat(F.lit("f"), (F.col("id") % _FARM_N).cast("string"))
        .alias("src"),
        F.concat(F.lit("f"), F.expr(f"id DIV {_FARM_N}")
                 .cast("string")).alias("dst"),
    )
    mutual = spark.createDataFrame(
        [("m0", "m1"), ("m1", "m0")], "src STRING, dst STRING"
    )
    return reciprocity(organic.union(farm).union(mutual))


def _reciprocity_oracle() -> str:
    return f"""
    WITH organic AS (
      SELECT 'h' || CAST(l_orderkey % 53 AS VARCHAR) AS src,
             'h' || CAST(l_partkey % 53 AS VARCHAR) AS dst
      FROM lineitem
    ),
    farm AS (
      SELECT 'f' || CAST(i % {_FARM_N} AS VARCHAR) AS src,
             'f' || CAST(i // {_FARM_N} AS VARCHAR) AS dst
      FROM (SELECT unnest(range({_FARM_N * _FARM_N})) AS i)
    ),
    mutual AS (SELECT * FROM (VALUES ('m0', 'm1'), ('m1', 'm0'))
               AS t(src, dst)),
    e AS (SELECT DISTINCT src, dst FROM
            (SELECT * FROM organic UNION ALL SELECT * FROM farm
             UNION ALL SELECT * FROM mutual)
          WHERE src <> dst),
    r AS (SELECT e.src, COUNT(*) AS recip_n
          FROM e JOIN e x ON e.src = x.dst AND e.dst = x.src
          GROUP BY 1),
    o AS (SELECT src, COUNT(*) AS out_n FROM e GROUP BY 1)
    SELECT o.src AS node,
           CAST(o.out_n AS BIGINT) AS out_n,
           CAST(COALESCE(r.recip_n, 0) AS BIGINT) AS recip_n,
           CAST(COALESCE(r.recip_n, 0) * 1000000 // o.out_n AS BIGINT)
             AS recip_ratio_u,
           (COALESCE(r.recip_n, 0) * 1000000 // o.out_n >= 800000
            AND o.out_n >= 5) AS is_farm
    FROM o LEFT JOIN r ON o.src = r.src
    """


register("link_reciprocity_farms", _q_reciprocity, _reciprocity_oracle())


# ------------- incremental HITS (warm-start link-graph maintenance)

_HITS_INC_MAX = 4
_HITS_INC_TOL = 100


def _hits_edges_sql(tag: str, where: str) -> str:
    return f"""
    e{tag} AS MATERIALIZED (
      SELECT DISTINCT 'n' || CAST(l_orderkey % 97 AS VARCHAR) AS src,
                      'n' || CAST(l_partkey % 97 AS VARCHAR) AS dst
      FROM lineitem
      WHERE 'n' || CAST(l_orderkey % 97 AS VARCHAR)
            <> 'n' || CAST(l_partkey % 97 AS VARCHAR) {where}
    ),
    n{tag} AS MATERIALIZED (
      SELECT src AS node FROM e{tag} UNION SELECT dst FROM e{tag}
    )"""


def _q_hits_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental HITS — the warm start graph_pagerank_incremental gives
    the PageRank half of the graph tier: yesterday's hub scores (a full
    2-round run on the base edge slice) warm-start the renormalized
    power iteration on the GROWN graph, gated at an integer tolerance.
    The oracle unrolls the same gated recurrence with converged-flag
    carry-forward for BOTH hub and auth, so a divergence in the stop
    decision breaks the hash."""
    lineitem = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    base = _hits_edges(
        lineitem.filter(
            F.substring(
                F.md5(F.col("l_orderkey").cast("string")), 1, 2
            ) < "40"
        )
    )
    prev = hits(base, iterations=_HITS_ITER).select("node", "hub_u")
    return hits(
        _hits_edges(lineitem),
        iterations=_HITS_INC_MAX,
        prior=prev,
        tol_u=_HITS_INC_TOL,
    )


def _hits_inc_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.pagerank import HITS_SCALE

    parts = [
        _hits_edges_sql(
            "b",
            "AND substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 2) < '40'",
        ),
        _hits_edges_sql("f", ""),
    ]
    # base full run: hits()'s sparse per-round frames, _HITS_ITER rounds
    parts.append(
        f"bh0 AS MATERIALIZED (SELECT node, CAST({HITS_SCALE} AS BIGINT)"
        " AS hub_u FROM nb)"
    )
    prev_h = "bh0"
    for i in range(1, _HITS_ITER + 1):
        parts.append(
            f"""
    bar{i} AS MATERIALIZED (
      SELECT e.dst AS node, SUM(h.hub_u) AS raw
      FROM eb e JOIN {prev_h} h ON e.src = h.node GROUP BY 1
    ),
    ba{i} AS MATERIALIZED (
      SELECT node, CAST(CAST(raw AS HUGEINT) * {HITS_SCALE}
                        // (SELECT MAX(raw) FROM bar{i}) AS BIGINT)
               AS auth_u
      FROM bar{i}
    ),
    bhr{i} AS MATERIALIZED (
      SELECT e.src AS node, SUM(a.auth_u) AS raw
      FROM eb e JOIN ba{i} a ON e.dst = a.node GROUP BY 1
    ),
    bh{i} AS MATERIALIZED (
      SELECT node, CAST(CAST(raw AS HUGEINT) * {HITS_SCALE}
                        // (SELECT MAX(raw) FROM bhr{i}) AS BIGINT)
               AS hub_u
      FROM bhr{i}
    )"""
        )
        prev_h = f"bh{i}"
    # warm start on the full node set + converged-flag gated unroll;
    # score frames are FULL node tables (missing -> 0 / seed), the
    # hits() value contract. The engine's prev is hits(base)'s FULL
    # output, where a base pure-sink node carries hub_u=0 — so the
    # seed must coalesce over the full BASE node table first (0 for
    # base nodes missing from the sparse bh{{N}} frame), and only
    # nodes absent from the base graph entirely seed at HITS_SCALE
    # (seeding straight off sparse bh{{N}} would silently give base
    # sinks 1,000,000 instead of the engine's 0).
    parts.append(
        f"""
    bprev AS MATERIALIZED (
      SELECT nd.node, CAST(COALESCE(p.hub_u, 0) AS BIGINT) AS hub_u
      FROM nb nd LEFT JOIN {prev_h} p ON nd.node = p.node
    ),
    s0 AS MATERIALIZED (
      SELECT nd.node,
             CAST(COALESCE(p.hub_u, {HITS_SCALE}) AS BIGINT) AS hub_u
      FROM nf nd LEFT JOIN bprev p ON nd.node = p.node
    ),
    au0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS auth_u FROM nf),
    done0 AS MATERIALIZED (SELECT FALSE AS done)"""
    )
    for i in range(1, _HITS_INC_MAX + 1):
        parts.append(
            f"""
    war{i} AS MATERIALIZED (
      SELECT e.dst AS node, SUM(h.hub_u) AS raw
      FROM ef e JOIN s{i - 1} h ON e.src = h.node GROUP BY 1
    ),
    wa{i} AS MATERIALIZED (
      SELECT nd.node,
             CAST(COALESCE(CAST(r.raw AS HUGEINT) * {HITS_SCALE}
                           // (SELECT MAX(raw) FROM war{i}), 0) AS BIGINT)
               AS auth_u
      FROM nf nd LEFT JOIN war{i} r ON nd.node = r.node
    ),
    whr{i} AS MATERIALIZED (
      SELECT e.src AS node, SUM(a.auth_u) AS raw
      FROM ef e JOIN wa{i} a ON e.dst = a.node GROUP BY 1
    ),
    wx{i} AS MATERIALIZED (
      SELECT nd.node,
             CAST(COALESCE(CAST(r.raw AS HUGEINT) * {HITS_SCALE}
                           // (SELECT MAX(raw) FROM whr{i}), 0) AS BIGINT)
               AS hub_u
      FROM nf nd LEFT JOIN whr{i} r ON nd.node = r.node
    ),
    wd{i} AS MATERIALIZED (SELECT MAX(ABS(x.hub_u - s.hub_u)) AS mx
             FROM wx{i} x JOIN s{i - 1} s ON x.node = s.node),
    done{i} AS MATERIALIZED (SELECT (SELECT done FROM done{i - 1})
                  OR (SELECT mx FROM wd{i}) <= {_HITS_INC_TOL} AS done),
    s{i} AS MATERIALIZED (
      SELECT s.node,
             CASE WHEN (SELECT done FROM done{i - 1}) THEN s.hub_u
                  ELSE x.hub_u END AS hub_u
      FROM s{i - 1} s JOIN wx{i} x ON s.node = x.node
    ),
    au{i} AS MATERIALIZED (
      SELECT a.node,
             CASE WHEN (SELECT done FROM done{i - 1}) THEN a.auth_u
                  ELSE w.auth_u END AS auth_u
      FROM au{i - 1} a JOIN wa{i} w ON a.node = w.node
    )"""
        )
    body = ",".join(parts)
    return (
        f"WITH {body}\n    SELECT s.node, s.hub_u, a.auth_u"
        f" FROM s{_HITS_INC_MAX} s JOIN au{_HITS_INC_MAX} a"
        " ON s.node = a.node"
    )


register("graph_hits_incremental", _q_hits_inc, _hits_inc_oracle())
