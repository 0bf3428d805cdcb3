"""Link analysis over a DataFrame edge list (src, dst): PageRank and
HITS in exact integer arithmetic, so every round is deterministic under
any partitioning and differentially testable against an unrolled SQL
oracle; plus per-node link reciprocity.

Floating-point PageRank sums contributions in shuffle order — last-ulp
nondeterminism that compounds per round. Here rank mass is held in
integer "rank units" (scale 1e12); per-edge contributions use floor
division by out-degree and the damping mix uses integer div by 100, so
every operation is associative/commutative integer math. The cost is a
sub-ulp systematic underestimate per hop (bounded by out_degree·N per
round over the whole graph) — irrelevant for ranking, decisive for
reproducibility at 1000-executor scale.

Each algorithm is ONE recurrence with two dials:

- ``prior``: a previous score table (the last run before a small edge
  delta) to warm-start from. Both recurrences converge to the same
  fixed point from any start, so a start near the old scores needs
  fewer rounds; nodes absent from the prior get the cold seed, and
  without a prior every node does.
- ``tol_u``: an integer convergence gate — stop once max |new - old|
  <= ``tol_u`` units, checked per round by a node-sized 1-row aggregate.
  The stop rule is an integer compare, so the round count, and with it
  the result, is bit-identical under any partitioning; a SQL oracle
  reproduces it by unrolling the round budget with a converged-flag
  carry-forward. Without ``tol_u`` the round count is fixed.

Generations: an ungated loop starts no Spark job per round — it
returns one lazy plan that the caller's action computes once, each
generation referenced once by the next (AQE exchange reuse runs the
repeated edge legs once). A gated loop acts once per round, so each
generation is pinned by a LAZY ``localCheckpoint``: the logical plan is
truncated at creation (a LogicalRDD leaf, so plan size stays constant
per round), the checkpoint runs the generation's shuffle stages (AQE
executes a plan stage by stage), and the round's gate aggregate
materializes the blocks — one driver round trip per round. The node
table every round joins, with each node's out-degree, is pinned the
same way in both modes. The ContextCleaner frees checkpointed blocks
when they are GC'd, so nothing here needs an unpersist. The trade: a
local checkpoint keeps no lineage, so losing an executor that holds a
block (a preempted worker) fails the job instead of recomputing the
block — for the node table in an ungated run too, where a persisted
table would have been recomputed.

The reference has no graph operators; this extends the engine the same
way operators/components.py (connected components) does, with the
iterative-algorithm pattern the streaming/batch suite otherwise lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000_000  # rank units per unit of probability mass
HITS_SCALE = 1_000_000  # score units after per-round max-normalization

# L∞ renormalization of a HITS half-round's raw sums to HITS_SCALE
# units. Integer DIV, not float division: raw * HITS_SCALE passes double's
# 2^53 exact range, so a float floor could differ from the oracle's
# exact // in the last unit. The multiply is widened to DECIMAL(38,0)
# (oracle twin: HUGEINT) — a raw score is <= HITS_SCALE · max_degree,
# and in int64 the product overflows once a node's weighted in-degree
# passes ~9.2e6 in-links; the quotient is <= HITS_SCALE (raw <= max),
# so the BIGINT result is safe. ``{mx}`` is the half-round's max raw
# score: in a gated loop, a cross join with a 1-row max aggregate (map-
# side partial maxes, one row per partition moves); the half-round is
# referenced twice, which costs nothing because it reads a checkpointed
# generation. An ungated loop has no checkpoint to read, and there the
# double reference doubles the lazy plan per half-round (4^8 leaves at 8
# rounds — the analyzer ran out of driver heap before any job started),
# so it takes the max as a window over the whole half-round, which moves
# the node-sized frame through one partition.
_RENORM = (
    f"CAST(CAST(raw AS DECIMAL(38,0)) * {HITS_SCALE} DIV {{mx}} AS BIGINT)"
)


def _nodes(edges: DataFrame) -> DataFrame:
    """(node, outdeg): every endpoint once with its out-edge count, 0
    for a pure sink — one aggregation, pinned: each round joins it."""
    return (
        edges.select(F.col("src").alias("node"), F.lit(1).alias("__out"))
        .union(edges.select(F.col("dst").alias("node"), F.lit(0)))
        .groupBy("node")
        .agg(F.sum("__out").alias("outdeg"))
        .localCheckpoint(eager=False)
    )


def _seed(
    nodes: DataFrame, prior: DataFrame | None, col: str, cold: int
) -> DataFrame:
    """Round-0 scores beside the node table's columns: the prior's where
    it has the node, else ``cold``."""
    if prior is None:
        return nodes.select("*", F.lit(cold).cast("bigint").alias(col))
    return nodes.join(
        prior.select("node", F.col(col).alias("__prev")), "node", "left"
    ).select(
        *nodes.columns,
        F.coalesce("__prev", F.lit(cold)).cast("bigint").alias(col),
    )


def _generation(df: DataFrame, tol_u: int | None) -> DataFrame:
    """A gated loop's generations are pinned (see the module docstring);
    an ungated loop's stay lazy."""
    return df if tol_u is None else df.localCheckpoint(eager=False)


def _converged(
    new: DataFrame, old: DataFrame, col: str, tol_u: int | None
) -> bool:
    """The integer gate: max |new - old| <= ``tol_u`` over the nodes both
    hold — one node-sized 1-row aggregate, map-side combined, so the
    edges never re-shuffle for it. Never true without a gate."""
    if tol_u is None:
        return False
    diff = (
        new.select("node", F.col(col).alias("__new"))
        .join(old, "node")
        .agg(F.max(F.abs(F.col("__new") - F.col(col))))
        .collect()[0][0]
    )
    return diff is not None and diff <= tol_u


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    prior: DataFrame | None = None,
    tol_u: int | None = None,
) -> DataFrame:
    """Integer-deterministic PageRank; returns (node, pr_u) in rank units.

    ``edges`` is a directed edge list; dangling nodes (no out-edges)
    contribute nothing (their mass evaporates, as in the classic
    formulation without dangling redistribution). ``prior`` is a
    (node, pr_u) table; the cold seed is SCALE/n over the CURRENT node
    count, and base_u is computed for that n, so a warm start converges
    to exactly the cold run's fixed point. ``iterations`` is the round
    count, or the round budget under ``tol_u``.

    Plan shape per round: one shuffle (groupBy dst) + one broadcast-able
    join of ranks onto edges keyed by src — each generation carries its
    nodes' out-degrees, so there is no separate degree join. Ranks are
    node-sized (≪ edges); Spark broadcasts them when small and AQE
    handles the rest."""
    nodes = _nodes(edges)
    n = nodes.count()
    base_u = (SCALE * (100 - damping_pct)) // 100 // n
    ranks = _generation(_seed(nodes, prior, "pr_u", SCALE // n), tol_u)
    for _ in range(iterations):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                # integer DIV, not float `/`: double division of bigints
                # can round across an integer boundary before the cast
                F.expr("pr_u DIV outdeg").alias("contrib_u"),
            )
            .groupBy("node")
            .agg(F.sum("contrib_u").alias("in_u"))
        )
        new_ranks = _generation(
            nodes.join(contribs, "node", "left").select(
                "node",
                "outdeg",
                F.expr(
                    f"{base_u} + (coalesce(in_u, 0L) * {damping_pct}) DIV 100"
                ).alias("pr_u"),
            ),
            tol_u,
        )
        done = _converged(new_ranks, ranks, "pr_u", tol_u)
        ranks = new_ranks
        if done:
            break
    return ranks.select("node", "pr_u")


def _half_round(
    edges: DataFrame,
    nodes: DataFrame,
    scores: DataFrame,
    frm: str,
    to: str,
    col: str,
    out: str,
    tol_u: int | None,
) -> DataFrame:
    """One HITS half-round: each node's ``out`` is the sum of ``col``
    over its edges' ``frm`` ends, renormalized (``_RENORM``). An ungated
    generation holds only the nodes some edge reaches — the others score
    0 and add nothing to the next half-round; every node has an out-edge
    (a hub row) or an in-edge (an auth row), so ``hits``' final full
    join fills the zeros. A gated generation is the full node table,
    zeros included, so the gate compares every node."""
    raw = (
        edges.join(scores, edges[frm] == scores["node"])
        .groupBy(F.col(to).alias("node"))
        .agg(F.sum(col).alias("raw"))
    )
    if tol_u is None:
        mx = "max(raw) OVER ()"
        return raw.select("node", F.expr(_RENORM.format(mx=mx)).alias(out))
    raw = raw.crossJoin(raw.agg(F.max("raw").alias("mx"))).select(
        "node", F.expr(_RENORM.format(mx="mx")).alias(out)
    )
    return nodes.join(raw, "node", "left").select(
        "node", F.coalesce(out, F.lit(0)).cast("bigint").alias(out)
    )


def hits(
    edges: DataFrame,
    iterations: int = 2,
    prior: DataFrame | None = None,
    tol_u: int | None = None,
) -> DataFrame:
    """Integer-deterministic HITS (Kleinberg hubs/authorities) over a
    directed edge list: a(v) = Σ h(u) over in-edges, h(u) = Σ a(v) over
    out-edges, each half-round max-normalized to HITS_SCALE units with
    floor division (the classic L∞ normalization — same ranking as the
    L2 form, but exact integer arithmetic, so every shuffle order yields
    the same scores). Returns (node, hub_u, auth_u).

    ``prior`` is a (node, hub_u) table; the cold seed is HITS_SCALE.
    L∞-renormalized power iteration converges to the principal
    hub/authority eigenvectors from any positive start. ``tol_u`` gates
    on the hub scores after each full round.

    Plan shape per half-round: one groupBy shuffle over edges joined
    with node-sized scores (broadcast-able) and the max (``_RENORM``);
    a gated half-round adds one node-sized join that fills the zeros."""
    if iterations < 1:
        raise ValueError(f"hits: iterations must be >= 1, got {iterations}")
    nodes = _nodes(edges)
    hub = _generation(_seed(nodes, prior, "hub_u", HITS_SCALE), tol_u)
    for _ in range(iterations):
        auth = _generation(
            _half_round(
                edges, nodes, hub, "src", "dst", "hub_u", "auth_u", tol_u
            ),
            tol_u,
        )
        new_hub = _generation(
            _half_round(
                edges, nodes, auth, "dst", "src", "auth_u", "hub_u", tol_u
            ),
            tol_u,
        )
        done = _converged(new_hub, hub, "hub_u", tol_u)
        hub = new_hub
        if done:
            break
    return hub.join(auth, "node", "full").select(
        "node",
        F.coalesce("hub_u", F.lit(0)).cast("bigint").alias("hub_u"),
        F.coalesce("auth_u", F.lit(0)).cast("bigint").alias("auth_u"),
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """Per-node link reciprocity — the classic link-farm signal: organic
    linking is largely one-directional (pages cite authorities), while
    exchange schemes produce near-total reciprocity. For each node:
    out-degree, reciprocated out-degree (the reverse edge exists), the
    exact µ-unit ratio, and the farm verdict (ratio above threshold AND
    enough out-edges to mean something — a 1-for-1 mutual link between
    two blogs is not a farm).

    Plan shape: edges deduplicate once, then ONE left-semi self-join on
    the flipped key pair marks reciprocated edges — id pairs only, one
    shuffle each side — and a node-sized aggregate. No vectors, no
    payloads, no iteration."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi").groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("recip_n")
    )
    out = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("out_n")
    )
    j = out.join(recip, "src", "left").select(
        F.col("src").alias("node"),
        "out_n",
        F.coalesce("recip_n", F.lit(0)).cast("bigint").alias("recip_n"),
    )
    ratio = F.expr("CAST(recip_n * 1000000 DIV out_n AS BIGINT)")
    return j.select(
        "node",
        "out_n",
        "recip_n",
        ratio.alias("recip_ratio_u"),
        (
            (ratio >= F.lit(800_000))
            & (F.col("out_n") >= F.lit(5))
        ).alias("is_farm"),
    )
