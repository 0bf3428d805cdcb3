"""Round-12 batch-2 operators: HTML table extraction, robots Sitemap
discovery, BM25 retrieval, product quantization."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators import curation, similarity, text


# ------------------------------------------------- parse_html_tables

_DOC = (
    '<html><body><TABLE class="a"><thead><TR><TH>H1</TH>'
    "<th> H2 </th></TR></thead><tbody>"
    "<tr><td><b>bold</b> x</td><td></td></tr></tbody></TABLE>"
    "<p>prose</p>"
    "<table><tr><td>a</td><td>b</td><td>c</td></tr>"
    "<tr><td>ragged</td></tr></table></body></html>"
)


def test_html_tables_structure(spark):
    df = spark.createDataFrame([(1, _DOC)], ["doc_id", "html"])
    rows = {
        (r.table_no, r.row_no, r.col_no): (r.is_header, r.cell)
        for r in text.parse_html_tables(df, "html").collect()
    }
    # table 0: thead/tbody wrappers pass through; header flags from <th>
    assert rows[(0, 0, 0)] == (True, "H1")
    assert rows[(0, 0, 1)] == (True, "H2")  # padding collapsed+trimmed
    assert rows[(0, 1, 0)] == (False, "bold x")  # inline markup stripped
    assert rows[(0, 1, 1)] == (False, "")  # empty cell survives
    # table 1: ragged second row keeps per-row column numbering
    assert rows[(1, 0, 2)] == (False, "c")
    assert rows[(1, 1, 0)] == (False, "ragged")
    assert len(rows) == 8


def test_html_tables_no_table(spark):
    df = spark.createDataFrame([(1, "<p>no tables here</p>")], ["doc_id", "html"])
    assert text.parse_html_tables(df, "html").count() == 0


# ------------------------------------------------- robots_sitemaps

_ROBOTS = (
    "User-agent: *\nDisallow: /x\n"
    "Sitemap: HTTPS://Host.Example.test/maps/a.xml\n"
    "sitemap: https://host.example.test/b.xml  # weekly\n"
    "SITEMAP: https://host.example.test/b.xml/\n"  # slash twin of b.xml
    "Sitemap: /relative.xml\n"  # no base -> drops
)


def test_robots_sitemaps(spark):
    docs = spark.createDataFrame([("h1", _ROBOTS)], ["host", "robots_txt"])
    got = sorted(
        r.sitemap_url for r in curation.robots_sitemaps(docs).collect()
    )
    assert got == [
        "https://host.example.test/b.xml",  # case + comment + slash dedup
        "https://host.example.test/maps/a.xml",  # scheme/host lowercased
    ]


def test_robots_sitemaps_none(spark):
    docs = spark.createDataFrame(
        [("h1", "User-agent: *\nDisallow: /")], ["host", "robots_txt"]
    )
    assert curation.robots_sitemaps(docs).count() == 0


# ------------------------------------------------------ bm25_topk

def test_bm25_ranking_and_zero_hit(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "apple cherry cherry cherry"),
            (3, "durian elderberry fig"),
        ],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame(
        [("qa", "apple"), ("qz", "zebra")], ["query_id", "query_text"]
    )
    out = curation.bm25_topk(docs, queries, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    # zero-hit query absent, not zero-scored
    assert "qz" not in by_q
    qa = sorted(by_q["qa"], key=lambda r: r.rk)
    # doc 1 has higher tf AND is shorter than doc 2 -> ranks first
    assert [r.doc_id for r in qa] == [1, 2]
    assert qa[0].score_u > qa[1].score_u > 0
    assert all(r.n_terms == 1 for r in qa)


def test_bm25_sum_is_integer_exact(spark):
    # two-term query: score is the BIGINT sum of per-term µ-units, so
    # re-running under a different partitioning must be bit-identical
    docs = spark.createDataFrame(
        [(i, "alpha beta " + "pad " * (i % 5)) for i in range(1, 21)],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame(
        [("q", "alpha beta")], ["query_id", "query_text"]
    )
    a = {
        (r.doc_id, r.score_u)
        for r in curation.bm25_topk(docs, queries, k=20).collect()
    }
    b = {
        (r.doc_id, r.score_u)
        for r in curation.bm25_topk(
            docs.repartition(7), queries, k=20
        ).collect()
    }
    assert a == b


# --------------------------------------------------------- PQ / ADC

def _toy_vectors(spark, n=64, dim=16):
    # two well-separated integer clusters so PQ recall is exact
    rows = []
    for i in range(n):
        base = 1.0 if i % 2 == 0 else -1.0
        vec = [base * (1.0 + 0.001 * ((i * 7 + d) % 5)) for d in range(dim)]
        rows.append((i, vec))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_pq_codes_partitioning_invariant(spark):
    embs = _toy_vectors(spark)
    cb = similarity.pq_codebook(embs, m=4, ksub=4, iters=1)
    assert cb.count() == 16  # m * ksub
    c1 = {
        (r.vec_id, r.sub): r.code
        for r in similarity.pq_codes(embs, cb, m=4, dsub=4).collect()
    }
    c2 = {
        (r.vec_id, r.sub): r.code
        for r in similarity.pq_codes(
            embs.repartition(5), cb, m=4, dsub=4
        ).collect()
    }
    assert c1 == c2
    assert len(c1) == 64 * 4


def test_pq_knn_separated_clusters(spark):
    embs = _toy_vectors(spark)
    queries = embs.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.knn_pq(embs, queries, k=5, m=4, ksub=4)
    got = out.collect()
    assert len(got) == 10
    for r in got:
        # neighbors come from the query's own cluster (same parity)
        assert r.neighbor_id % 2 == r.query_id % 2
        assert r.neighbor_id != r.query_id
        assert r.adc >= 0


# -------------------------------------------- robots_crawl_delays

def test_crawl_delay_binds_to_its_group(spark):
    txt = (
        "User-agent: a\nCrawl-delay: 7\n"
        "User-agent: *\nDisallow: /y\n"
    )
    docs = spark.createDataFrame([("h", txt)], ["host", "robots_txt"])
    # the delay closed agent a's run; the '*' group carries none
    assert curation.robots_crawl_delays(docs).count() == 0


def test_crawl_delay_max_and_validation(spark):
    txt = (
        "User-agent: *\nCrawl-delay: 1\n\n"
        "User-agent: *\nCrawl-delay: 5\nCrawl-delay: nope\n"
        "Crawl-delay: -3\n"
    )
    docs = spark.createDataFrame([("h", txt)], ["host", "robots_txt"])
    got = curation.robots_crawl_delays(docs).collect()
    assert [(r.host, r.crawl_delay_s) for r in got] == [("h", 5)]


# ------------------------------------------------------ hits_warm

def test_hits_warm_matches_full_hits_when_gate_disabled(spark):
    from gcp_etl_pipeline_spark.operators.pagerank import hits, hits_warm

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        ["src", "dst"],
    )
    # empty prev -> every node seeds at HITS_SCALE = the cold start;
    # tol -1 never fires -> round-for-round identical to hits()
    prev = spark.createDataFrame([], "node string, hub_u bigint")
    warm = {
        (r.node): (r.hub_u, r.auth_u)
        for r in hits_warm(
            edges, prev, max_iterations=2, tol_u=-1
        ).collect()
    }
    full = {
        (r.node): (r.hub_u, r.auth_u)
        for r in hits(edges, iterations=2).collect()
    }
    assert warm == full


def test_hits_warm_gate_stops_iteration(spark):
    # NOTE: hits() re-expands its a_raw subtree twice per half-round
    # (crossJoin with its own agg), so its lazy persist-form plan is
    # exponential in the round count (a 42 GB analyzer incident at
    # iterations=8 in r12). Since r13, counts above
    # _HITS_CHECKPOINT_MIN_ITER localCheckpoint every generation like
    # hits_warm, so any round count is bounded (test_round13_ops).
    from gcp_etl_pipeline_spark.operators.pagerank import hits, hits_warm

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        ["src", "dst"],
    )
    prev = hits(edges, iterations=2).select("node", "hub_u")
    # scores live in [0, HITS_SCALE], so tol_u = HITS_SCALE makes the
    # gate fire after round 1 unconditionally: a 4-round budget must
    # return exactly the 1-round result (the break is real)
    gated = {
        (r.node): (r.hub_u, r.auth_u)
        for r in hits_warm(
            edges, prev, max_iterations=4, tol_u=1_000_000
        ).collect()
    }
    one = {
        (r.node): (r.hub_u, r.auth_u)
        for r in hits_warm(
            edges, prev, max_iterations=1, tol_u=-1
        ).collect()
    }
    assert gated == one
