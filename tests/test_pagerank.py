"""PageRank: known-graph sanity, partitioning-invariance of the integer
recurrence (the property that motivates it), and mass conservation."""

from __future__ import annotations

from gcp_etl_pipeline_spark.operators.pagerank import SCALE, pagerank


def _ranks(spark, edges, parts, iterations=3):
    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(parts)
    return {
        r.node: r.pr_u for r in pagerank(df, iterations=iterations).collect()
    }


def test_symmetric_pair_equal_ranks(spark):
    got = _ranks(spark, [("a", "b"), ("b", "a")], parts=2)
    assert got["a"] == got["b"]


def test_star_hub_dominates(spark):
    leaves = [f"l{i}" for i in range(6)]
    edges = [("hub", l) for l in leaves] + [(l, "hub") for l in leaves]
    got = _ranks(spark, edges, parts=3)
    assert all(got["hub"] > got[l] for l in leaves)
    assert len(set(got[l] for l in leaves)) == 1  # leaves symmetric


def test_partitioning_invariant(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("c", "b")]
    assert _ranks(spark, edges, parts=1) == _ranks(spark, edges, parts=5)


def test_mass_bounded(spark):
    # floor divisions only ever drop mass: total stays within N·ulp of
    # SCALE from below, never above
    edges = [("a", "b"), ("b", "c"), ("c", "a")]
    got = _ranks(spark, edges, parts=2)
    assert sum(got.values()) <= SCALE
    assert sum(got.values()) > SCALE - 100 * len(got)


def test_hits_star_graph(spark):
    from gcp_etl_pipeline_spark.operators.pagerank import HITS_SCALE, hits

    # u1, u2, u3 all point at v (pure authority); u1 also points at w.
    edges = spark.createDataFrame(
        [("u1", "v"), ("u2", "v"), ("u3", "v"), ("u1", "w")],
        "src STRING, dst STRING",
    )
    out = {r["node"]: r for r in hits(edges, iterations=2).collect()}
    # v collects every hub -> max authority; w collects only u1
    assert out["v"]["auth_u"] == HITS_SCALE
    assert 0 < out["w"]["auth_u"] < HITS_SCALE
    # u1 links both authorities -> strictly the best hub
    assert out["u1"]["hub_u"] == HITS_SCALE
    assert out["u2"]["hub_u"] == out["u3"]["hub_u"]
    assert 0 < out["u2"]["hub_u"] < HITS_SCALE
    # pure-authority / pure-hub nodes score 0 on the other axis
    assert out["v"]["hub_u"] == 0 and out["u1"]["auth_u"] == 0


def test_reciprocity_farm_and_guard(spark):
    from gcp_etl_pipeline_spark.operators.pagerank import reciprocity

    edges = spark.createDataFrame(
        # a<->b<->c<->a ... 6-clique both directions = farm
        [(f"f{i}", f"f{j}") for i in range(6) for j in range(6) if i != j]
        # organic: one-directional citations into an authority
        + [("o1", "auth"), ("o2", "auth"), ("o3", "auth")]
        # tiny mutual pair: fully reciprocal, out_n too small to flag
        + [("m0", "m1"), ("m1", "m0")]
        # duplicate edge must not double-count
        + [("o1", "auth")],
        "src STRING, dst STRING",
    )
    out = {r["node"]: r for r in reciprocity(edges).collect()}
    assert out["f0"]["is_farm"] and out["f0"]["recip_ratio_u"] == 1_000_000
    assert out["f0"]["out_n"] == 5 and out["f0"]["recip_n"] == 5
    assert out["o1"]["out_n"] == 1 and out["o1"]["recip_n"] == 0
    assert not out["o1"]["is_farm"]
    assert out["m0"]["recip_ratio_u"] == 1_000_000
    assert not out["m0"]["is_farm"]  # min_out guard
    assert "auth" not in out  # no out-edges -> no row (out-degree table)


def test_pagerank_warm_gate_fires_at_fixed_point(spark):
    """The a<->b cycle's exact integer fixed point is SCALE/2 per node
    (base + 0.85*SCALE/2 == SCALE/2 with no floor loss). Warm-starting
    FROM the fixed point, round 1 reproduces it bit-exactly, the gate
    fires at diff=0 even with tol_u=0, and the result is unchanged —
    the stop rule and the recurrence agree."""
    from gcp_etl_pipeline_spark.operators.pagerank import SCALE as PR_SCALE

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src STRING, dst STRING"
    )
    fp = PR_SCALE // 2
    prev = spark.createDataFrame(
        [("a", fp), ("b", fp)], "node STRING, pr_u BIGINT"
    )
    got = {
        r["node"]: r["pr_u"]
        for r in pagerank(
            edges, iterations=10, prior=prev, tol_u=0
        ).collect()
    }
    assert got == {"a": fp, "b": fp}, got


def test_pagerank_warm_cold_start_equals_pagerank(spark):
    """An EMPTY prior seeds every node at SCALE/n, the cold seed: the
    warm start IS the cold run, bit-identical round for round."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")],
        "src STRING, dst STRING",
    )
    empty = spark.createDataFrame([], "node STRING, pr_u BIGINT")
    warm = pagerank(edges, iterations=3, prior=empty)
    cold = pagerank(edges, iterations=3)
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_pagerank_warm_new_nodes_seed_uniform(spark):
    """Nodes absent from the prior seed at SCALE/n over the NEW node
    count; present nodes keep their old score (checked via a 1-round
    run whose input seeding is recoverable from the contributions)."""
    from gcp_etl_pipeline_spark.operators.pagerank import SCALE as PR_SCALE

    # two isolated pairs: a<->b (in prev), x<->y (new)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")],
        "src STRING, dst STRING",
    )
    prev = spark.createDataFrame(
        [("a", 7_000_000_000_000), ("b", 3_000_000_000_000)],
        "node STRING, pr_u BIGINT",
    )
    got = {
        r["node"]: r["pr_u"]
        for r in pagerank(
            edges, iterations=1, prior=prev, tol_u=0
        ).collect()
    }
    n = 4
    base = (PR_SCALE * 15) // 100 // n
    # one round: pr(dst) = base + 0.85 * seed(src) (out-degree 1)
    assert got["b"] == base + 7_000_000_000_000 * 85 // 100
    assert got["a"] == base + 3_000_000_000_000 * 85 // 100
    assert got["x"] == got["y"] == base + (PR_SCALE // n) * 85 // 100


def test_ungated_rounds_start_no_spark_jobs(spark):
    """Without a tolerance neither recurrence acts per round: building
    pagerank, then hits, starts as many Spark jobs at 6 rounds as at 2
    (the node and degree pins only), and the caller's action runs the
    rounds."""
    from gcp_etl_pipeline_spark.operators.pagerank import hits

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        "src STRING, dst STRING",
    )

    def jobs_to_build(fn, rounds):
        group = f"build:{fn.__name__}:{rounds}"
        sc.setJobGroup(group, group)
        try:
            fn(edges, iterations=rounds)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for fn in (pagerank, hits):
        assert jobs_to_build(fn, 2) == jobs_to_build(fn, 6), fn.__name__
