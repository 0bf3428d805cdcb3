"""LLM-data operator unit tests: dedup, similarity, text analysis
(project north-star extension; SURVEY §7 step 9)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),   # near dup of 1
        (4, "completely different text about spark engines"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_keeps_min_id(docs):
    kept = {r.doc_id for r in dedup.dedup_exact(docs).select("doc_id").collect()}
    assert kept == {1, 3, 4, 5}  # doc 2 collapses into doc 1


def test_jaccard_pairs_finds_near_dup(docs):
    shingles = dedup.shingle_sets(docs.filter("text <> ''"), n=3)
    # one word changed of 9 -> 4 of 10 trigrams shared -> jaccard 0.4
    pairs = dedup.jaccard_pairs(shingles, threshold=0.35)
    got = {(r.a, r.b): r.jaccard for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert abs(got[(1, 3)] - 0.4) < 1e-12 and (2, 3) in got
    assert not any(4 in p for p in got)


def test_jaccard_pairs_max_df_drops_hot_shingles(docs):
    shingles = dedup.shingle_sets(docs.filter("text <> ''"), n=3)
    # no broadcast HINT on the per-doc sizes table: with auto-broadcast
    # disabled the plan must contain no BroadcastHashJoin at all
    spark = docs.sparkSession
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = dedup.jaccard_pairs(shingles, threshold=0.35)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_minhash_lsh_candidates_superset_of_true_dups(docs):
    pairs = dedup.minhash_dedup_pairs(
        docs.filter("text <> ''"), num_hashes=32, bands=8, threshold=0.5
    )
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (1, 2) in got  # identical docs always collide in every band
    assert not any(4 in p for p in got)


def test_simhash_identical_docs_distance_zero(docs):
    sh = dedup.simhash32(docs.filter("text <> ''")).collect()
    by_id = {r.doc_id: r.simhash for r in sh}
    assert by_id[1] == by_id[2]
    pairs = dedup.simhash_neardup_pairs(docs.filter("text <> ''"), max_hamming=3)
    got = {(r.a, r.b): r.hamming for r in pairs.collect()}
    assert got[(1, 2)] == 0


def test_text_stats_and_lang_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog were friends"),
         (2, "el gato y el perro eran amigos de la casa")],
        ["doc_id", "text"],
    )
    out = df.select("doc_id", text.lang_id("text").alias("lang"),
                    text.token_count("text").alias("n"))
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].lang == "en"
    assert rows[2].lang == "es"
    assert rows[1].n == 7


def test_fingerprint_stable_under_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")],
        ["doc_id", "text"],
    )
    fp = df.select("doc_id", text.fingerprint("text").alias("fp")).collect()
    by_id = {r.doc_id: r.fp for r in fp}
    assert by_id[1] == by_id[2] != by_id[3]


def test_quality_features_empty_doc_is_zero(spark):
    df = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    row = text.quality_features(df).first()
    assert row.n_tokens == 0 and row.avg_token_len == 0.0
    assert row.alpha_ratio == 0.0 and row.uniq_token_ratio == 0.0


def test_knn_bruteforce_excludes_self_and_ranks(spark):
    rows = [(i, [float(i), 1.0]) for i in range(1, 6)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = base.filter("vec_id = 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.knn_bruteforce(base, queries, k=2).collect()
    # cos((3,1),·): id4 0.9971 > id5 0.9923 > id2 0.9899 > id1 0.8944
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rn)] == [4, 5]


def test_knn_query_set_guard_fires(spark, monkeypatch):
    """The broadcast-queries contract is enforced: above MAX_QUERY_VECTORS
    the collect refuses instead of OOMing the driver."""
    import pytest

    monkeypatch.setattr(similarity, "MAX_QUERY_VECTORS", 10)
    base = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 6)], ["vec_id", "embedding"]
    )
    queries = spark.range(1, 13).select(
        F.col("id").alias("query_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="MAX_QUERY_VECTORS"):
        similarity.knn_bruteforce(base, queries, k=2)
    with pytest.raises(ValueError, match="MAX_QUERY_VECTORS"):
        similarity.knn_ivf(base, queries, k=2, n_lists=2, n_probe=1)


def test_knn_ivf_full_probe_equals_bruteforce(spark):
    """Probing every list degenerates IVF to exact search — results must
    equal knn_bruteforce row for row."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(1, 41)
    ]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = base.filter("vec_id IN (5, 17)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.knn_bruteforce(base, queries, k=3).collect()
    ivf = similarity.knn_ivf(
        base, queries, k=3, n_lists=4, n_probe=4
    ).collect()
    key = lambda r: (r.query_id, r.rn)
    assert sorted(map(tuple, sorted(exact, key=key))) == sorted(
        map(tuple, sorted(ivf, key=key))
    )


def test_neardup_bucketed_identical_vectors_found(spark):
    rows = [
        (1, [1.0, 2.0, 3.0]),
        (2, [1.0, 2.0, 3.0]),       # identical -> same bucket, cos 1.0
        (3, [-5.0, 0.5, -2.0]),
    ]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {(r.a, r.b) for r in similarity.neardup_pairs_bucketed(base).collect()}
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_semantic_dedup_drops_higher_id_list_mates(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [1.0, 0.001, 0.0]),   # near-dup of 1 -> dropped
        (4, [0.0, 0.999, 0.01]),  # near-dup of 2 -> dropped
        (5, [-1.0, -1.0, 0.0]),   # far from everything -> kept
    ]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = similarity.semantic_dedup(base, threshold=0.95, n_lists=2)
    assert {r.vec_id for r in kept.collect()} == {1, 2, 5}


def test_similarity_ops_leave_no_sql_cache(spark):
    """``persist()`` without ``unpersist()`` pins an InMemoryRelation in
    the session CacheManager forever (the ContextCleaner never frees
    SQL-layer caches), so the similarity ops tie the release of their
    persisted self-join legs to GC of the operator RESULT
    (``_release_on_gc``). While the result is alive its lineage stays
    re-executable (cache present); once the caller drops it, the SQL
    cache must hold nothing."""
    import gc

    jcm = spark._jsparkSession.sharedState().cacheManager()
    jcm.clearCache()
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [1.0, 0.001, 0.0]),
        (4, [-1.0, -1.0, 0.5]),
    ]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = similarity.semantic_dedup(base, threshold=0.95, n_lists=2)
    kept.collect()
    assert not jcm.isEmpty()  # result alive -> cache intentionally held
    pairs = similarity.neardup_pairs_bucketed(base)
    pairs.collect()
    del kept, pairs
    gc.collect()
    assert jcm.isEmpty()


def test_stratified_take_quotas_and_determinism(spark):
    from gcp_etl_pipeline_spark.operators.curation import stratified_take

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(100)], ["k", "s"]
    )
    out = stratified_take(df, "s", {"a": 7}, "k", default_quota=3)
    counts = {r.s: r.n for r in out.groupBy("s").count()
              .withColumnRenamed("count", "n").collect()}
    assert counts == {"a": 7, "b": 3}
    again = stratified_take(
        df.repartition(13), "s", {"a": 7}, "k", default_quota=3
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_kmeans_centroids_improve_ivf_recall_and_are_deterministic(spark):
    """3 well-separated clusters, but the 3 lowest-id seed vectors all sit
    in cluster 0 — lowest-id lists misroute probes; Lloyd centroids must
    recover the true clusters (n_probe=1 IVF == exact brute force) and be
    invariant to physical layout."""
    import random

    rng = random.Random(11)
    anchors = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]]
    rows = []
    vid = 1
    for _ in range(3):  # ids 1..3: all near anchor 0 (degenerate seeds)
        rows.append((vid, [a + rng.uniform(-0.3, 0.3) for a in anchors[0]]))
        vid += 1
    for c in (0, 1, 2):
        for _ in range(20):
            rows.append(
                (vid, [a + rng.uniform(-0.3, 0.3) for a in anchors[c]])
            )
            vid += 1
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = base.filter("vec_id IN (10, 30, 50)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.rn): r.neighbor_id
             for r in similarity.knn_bruteforce(base, queries, k=3).collect()}
    km = {(r.query_id, r.rn): r.neighbor_id
          for r in similarity.knn_bucketed(
              base, queries, k=3, n_lists=3, n_probe=1, centroids="kmeans"
          ).collect()}
    assert km == exact  # density-following lists: full recall at n_probe=1

    a = similarity.kmeans_centroids(base, 3)
    b = similarity.kmeans_centroids(base.repartition(7), 3)
    assert (a[1] == b[1]).all()  # centroid matrix is layout-invariant


def test_paragraph_dedup_keeps_first_occurrence_and_order(spark):
    d = spark.createDataFrame(
        [
            (1, "alpha\n\nbeta\n\ngamma"),
            (2, "beta\n\ndelta"),          # beta repeats -> dropped here
            (3, "gamma\n\nbeta"),          # both repeats -> doc drops out
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.text for r in dedup.paragraph_dedup(d).collect()}
    assert out == {1: "alpha\n\nbeta\n\ngamma", 2: "delta"}
    # layout invariance
    again = {r.doc_id: r.text
             for r in dedup.paragraph_dedup(d.repartition(5)).collect()}
    assert again == out


def test_dedup_canonical_keeps_best_scored_member(spark):
    d = spark.createDataFrame(
        [
            (1, "same text", 5),
            (2, "same text", 9),   # best of the dup group -> kept
            (3, "same text", 9),   # tie on score -> higher id wins? no: 3
            (4, "other", 1),
        ],
        ["doc_id", "text", "q"],
    )
    kept = {r.doc_id for r in dedup.dedup_canonical(d, "q").collect()}
    assert kept == {3, 4}  # max (q, id): 3 beats 2 on the id tie-break


def test_dedup_incremental_ledger_drops_cross_batch_dups(spark, tmp_path):
    """Cross-run exact dedup against the fingerprint store: batch 2 rows
    whose (normalized) text already passed in batch 1 are dropped, new
    texts are accepted and appended to the ledger — including a batch-3
    replay of an already-ledgered text (idempotent accept-nothing)."""
    from pyspark.sql import functions as F  # noqa: F401

    from gcp_etl_pipeline_spark.operators.dedup import dedup_incremental

    store = str(tmp_path / "fp")
    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha   TEXT")],
        "doc_id BIGINT, text STRING",
    )
    acc1 = {r.doc_id for r in dedup_incremental(b1, store).collect()}
    assert acc1 == {1, 2}  # 3 is an in-batch dup of 1 (normalization)

    b2 = spark.createDataFrame(
        [(10, "ALPHA text"), (11, "gamma text"), (12, "gamma text")],
        "doc_id BIGINT, text STRING",
    )
    acc2 = {r.doc_id for r in dedup_incremental(b2, store).collect()}
    assert acc2 == {11}  # 10 hits the ledger; 12 is an in-batch dup

    b3 = spark.createDataFrame(
        [(20, "gamma text")], "doc_id BIGINT, text STRING"
    )
    assert dedup_incremental(b3, store).count() == 0
    # ledger grew by exactly the accepted fingerprints
    assert spark.read.parquet(store).count() == 3


def test_neardup_incremental_ledger(spark, tmp_path):
    """Band-ledger near-dup across runs: a batch-2 doc whose text matches
    a batch-1 ACCEPTED doc is dropped via the ledger; in-batch lower-id
    wins; sub-shingle-length docs are always accepted and never
    ledgered."""
    from gcp_etl_pipeline_spark.operators.dedup import neardup_incremental

    store = str(tmp_path / "bands")
    long_a = "the quick brown fox jumps over the lazy dog today"
    long_b = "completely different content about distributed query engines"
    b1 = spark.createDataFrame(
        [(1, long_a), (2, long_a), (3, long_b), (4, "too short")],
        "doc_id BIGINT, text STRING",
    )
    acc1 = {r.doc_id for r in neardup_incremental(b1, store).collect()}
    assert acc1 == {1, 3, 4}  # 2 is an in-batch band collision of 1

    b2 = spark.createDataFrame(
        [(10, long_b), (11, "yet another unrelated string of words"),
         (12, "tiny doc")],
        "doc_id BIGINT, text STRING",
    )
    acc2 = {r.doc_id for r in neardup_incremental(b2, store).collect()}
    assert acc2 == {11, 12}  # 10 hits the ledger (3's bands); 12 short

    # replay of a ledgered text accepts nothing
    b3 = spark.createDataFrame([(20, long_a)], "doc_id BIGINT, text STRING")
    assert neardup_incremental(b3, store).count() == 0


def test_dedup_incremental_attempt_retry_idempotent(spark, tmp_path):
    """A crashed-and-retried batch with a stable attempt_id must accept
    the SAME rows (the plain append path would anti-join the retry
    against its own first attempt and lose the whole batch) and leave
    the ledger without duplicate fingerprints."""
    from gcp_etl_pipeline_spark.operators.dedup import dedup_incremental

    store = str(tmp_path / "fp")
    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id BIGINT, text STRING"
    )
    assert {
        r.doc_id for r in dedup_incremental(b1, store, attempt_id="d1").collect()
    } == {1, 2}
    # replay of the SAME attempt (crash after ledger write, before the
    # caller consumed the output): identical accept set, no ledger dupes
    assert {
        r.doc_id for r in dedup_incremental(b1, store, attempt_id="d1").collect()
    } == {1, 2}
    assert spark.read.parquet(f"{store}/attempt=d1").count() == 2

    # next attempt sees attempt-d1's fingerprints normally
    b2 = spark.createDataFrame(
        [(10, "ALPHA text"), (11, "gamma text")], "doc_id BIGINT, text STRING"
    )
    assert {
        r.doc_id for r in dedup_incremental(b2, store, attempt_id="d2").collect()
    } == {11}


def test_neardup_incremental_attempt_retry_idempotent(spark, tmp_path):
    from gcp_etl_pipeline_spark.operators.dedup import neardup_incremental

    store = str(tmp_path / "bands")
    long_a = "the quick brown fox jumps over the lazy dog today"
    long_b = "completely different content about distributed query engines"
    b1 = spark.createDataFrame(
        [(1, long_a), (2, long_b)], "doc_id BIGINT, text STRING"
    )
    assert {
        r.doc_id
        for r in neardup_incremental(b1, store, attempt_id="d1").collect()
    } == {1, 2}
    assert {
        r.doc_id
        for r in neardup_incremental(b1, store, attempt_id="d1").collect()
    } == {1, 2}  # retry: identical accepts, partition overwritten
    b2 = spark.createDataFrame([(10, long_a)], "doc_id BIGINT, text STRING")
    assert neardup_incremental(b2, store, attempt_id="d2").count() == 0


def test_compact_ledger_preserves_decisions(spark, tmp_path):
    """Compacting a mixed flat+attempt ledger tree into flat files must
    shrink the file count without changing any subsequent accept/reject
    decision, and must NOT leak the attempt directory name in as a data
    column."""
    from gcp_etl_pipeline_spark.operators.dedup import (
        _ledger_files,
        compact_ledger,
        dedup_incremental,
    )

    store = str(tmp_path / "fp")
    texts = [(i, f"document number {i}") for i in range(8)]
    # four increments: two plain appends, two attempt-scoped
    dedup_incremental(spark.createDataFrame(texts[:2], "doc_id BIGINT, text STRING"), store)
    dedup_incremental(spark.createDataFrame(texts[2:4], "doc_id BIGINT, text STRING"), store)
    dedup_incremental(
        spark.createDataFrame(texts[4:6], "doc_id BIGINT, text STRING"),
        store, attempt_id="a3",
    )
    dedup_incremental(
        spark.createDataFrame(texts[6:8], "doc_id BIGINT, text STRING"),
        store, attempt_id="a4",
    )
    before, after = compact_ledger(spark, store)
    assert after < before
    files = _ledger_files(store, spark)
    compacted = spark.read.parquet(*files)
    assert compacted.columns == ["__fp"]  # no attempt column leaked
    assert compacted.count() == 8
    assert compacted.distinct().count() == 8
    # decisions unchanged: replays of ledgered texts accept nothing,
    # a genuinely new text is accepted
    replay = spark.createDataFrame(
        [(100, "document number 0"), (101, "document number 7"),
         (102, "a brand new document")],
        "doc_id BIGINT, text STRING",
    )
    acc = {r.doc_id for r in dedup_incremental(replay, store, attempt_id="a5").collect()}
    assert acc == {102}


def test_auto_n_lists_sqrt_heuristic():
    from gcp_etl_pipeline_spark.operators.similarity import auto_n_lists

    assert auto_n_lists(0) == 16 and auto_n_lists(100) == 16
    assert auto_n_lists(1_000_000) == 1000
    assert auto_n_lists(10**9) == 31622


def test_dedup_incremental_ledger_uri_scheme(spark, tmp_path):
    """URI-schemed ledger paths list through the Hadoop FileSystem API
    (file:// locally stands in for gs://): the pinned pre-append read
    still works and cross-batch dups still drop."""
    from gcp_etl_pipeline_spark.operators.dedup import dedup_incremental

    store = f"file://{tmp_path}/fp"
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id BIGINT, text STRING",
    )
    assert dedup_incremental(b1, store).count() == 2
    b2 = spark.createDataFrame(
        [(10, "ALPHA beta GAMMA"), (11, "brand new text")],
        "doc_id BIGINT, text STRING",
    )
    acc = {r.doc_id for r in dedup_incremental(b2, store).collect()}
    assert acc == {11}


def test_bucketed_kmeans_recall_floor(spark, sf_dir):
    """Quality regression guard, not just parity: the kmeans+auto-lists
    bucketed search must keep recall@5 above a floor at the fixture
    scale (measured 0.53 at sf0.01 with n_probe=4 — probing ~18% of the
    lists). A centroid/assignment/probe regression that silently halves
    recall would still hash-match its own oracle; this catches it."""
    from gcp_etl_pipeline_spark.operators.dedup_queries import (
        _q_bucketed_recall,
    )

    rows = _q_bucketed_recall(spark, sf_dir).collect()
    recall = sum(r.n_hit for r in rows) / sum(r.n_exact for r in rows)
    assert recall >= 0.4, recall


def test_pinned_scope_keeps_cache_and_releases_at_exit(spark):
    """The chaining-safe API for GC-released operators: inside a
    pinned() block, chained actions that never hold the result reuse
    the operator's persisted legs; at block exit the caches are
    released deterministically (no GC pass needed). The unheld chained
    pattern outside pinned() stays correct with at most one recompute
    per action (Spark executes a plan once per action), measured here
    via an input-scan accumulator."""
    import gc

    jcm = spark._jsparkSession.sharedState().cacheManager()
    jcm.clearCache()
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [1.0, 0.001, 0.0]),
        (4, [-1.0, -1.0, 0.5]),
    ]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])

    acc = spark.sparkContext.accumulator(0)

    def count_scans(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    counted = base.mapInPandas(count_scans, base.schema)

    # pinned chained use: every action inside the block is cache-backed
    with similarity.pinned(
        similarity.semantic_dedup(counted, threshold=0.95, n_lists=2)
    ) as kept:
        n1 = kept.where("vec_id >= 0").count()  # intermediate not held
        scans_after_first = acc.value
        assert not jcm.isEmpty()  # caches held for the block
        n2 = kept.count()
        assert n1 == n2 == 3
        # the second action re-reads the persisted leg, not the input
        assert acc.value == scans_after_first
    gc.collect()
    assert jcm.isEmpty()  # released at exit, deterministically

    # unpinned chained use (the documented footgun): correct, bounded —
    # ONE action => at most one recompute of the unpersisted legs
    acc2 = spark.sparkContext.accumulator(0)

    def count_scans2(it):
        for pdf in it:
            acc2.add(len(pdf))
            yield pdf

    counted2 = base.mapInPandas(count_scans2, base.schema)
    n3 = similarity.semantic_dedup(counted2, threshold=0.95, n_lists=2).where(
        "vec_id >= 0"
    ).count()
    assert n3 == 3
    # bounded: the chained action scanned the input no more than the
    # operator's own build (pinned path's first action) plus one full
    # re-derivation of the released leg
    assert acc2.value <= 2 * scans_after_first
    gc.collect()
    assert jcm.isEmpty()


def test_bitext_margin_mine_planted_pair(spark):
    from gcp_etl_pipeline_spark.operators.similarity import bitext_margin_mine

    # src = even ids, tgt = odd ids. (0,1) is a true translation pair;
    # 3 is a hub (moderate cosine to every src); 2/5 are unrelated.
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.5, 0.5, 0.5, 0.5]),
        (4, [0.0, 0.0, 0.0, 1.0]),
        (5, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    src = df.where("vec_id % 2 = 0")
    tgt = df.where("vec_id % 2 = 1")
    out = {
        (r["src_id"], r["tgt_id"]): r["margin_u"]
        for r in bitext_margin_mine(src, tgt, k=2).collect()
    }
    # exact-integer margins, hand-computed from the quantized cosines
    assert set(out) == {(0, 1), (4, 3)}
    assert out[(0, 1)] == 1593545
    assert out[(4, 3)] == 1333333
    # src 2's best candidate is the hub, but the hub's best src is 4 —
    # the mutual-best rule is what keeps 2 out
    assert all(m >= 1_050_000 for m in out.values())


def test_doc_bigram_surprisal_exact(spark):
    from gcp_etl_pipeline_spark.operators.curation import doc_bigram_surprisal

    # corpus bigram counts: "a b" x3, "b a" x2, "a c" x1
    # prefix counts: a-> 4, b-> 2
    docs = [
        (1, "a b a b"),     # bigrams: a b, b a, a b
        (2, "a b a c"),     # bigrams: a b, b a, a c
        (3, "x"),           # single token: no bigrams, no row
    ]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    out = {r["doc_id"]: r for r in doc_bigram_surprisal(df).collect()}
    # s(a b) = floor(log2(4/3)) = 0; s(b a) = floor(log2(2/2)) = 0;
    # s(a c) = floor(log2(4/1)) = 2
    assert out[1]["n_bigrams"] == 3 and out[1]["surprisal_sum"] == 0
    assert out[2]["n_bigrams"] == 3 and out[2]["surprisal_sum"] == 2
    assert out[2]["mean_surprisal_u"] == 2 * 1_000_000 // 3
    assert 3 not in out


def test_triplet_mine_hard_negative(spark):
    from gcp_etl_pipeline_spark.operators.similarity import triplet_mine

    rows = [
        # anchor 0 (label 1): 1 is the near positive, 2 the nearer
        # WRONG-label vector -> hard negative with negative margin
        (0, [1.0, 0.0, 0.0], 1),
        (1, [0.9, 0.1, 0.0], 1),
        (2, [0.95, 0.05, 0.0], 2),
        (3, [0.0, 1.0, 0.0], 2),
        # anchor 4 (label 3): no same-label vector in the corpus -> no
        # positive in top-k -> anchor dropped
        (4, [0.0, 0.0, 1.0], 3),
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT")
    anchors = df.where("vec_id IN (0, 4)")
    out = {r["anchor_id"]: r for r in triplet_mine(df, anchors, k=4).collect()}
    assert set(out) == {0}
    t = out[0]
    assert t["positive_id"] == 1 and t["negative_id"] == 2
    assert t["margin_u"] < 0  # the wrong-label vector outranks the positive


def test_bitext_margin_mine_overlapping_id_spaces(spark):
    """Parallel corpora number sides independently: equal ids must not
    trigger the kNN self-exclusion (the internal namespace shift)."""
    from gcp_etl_pipeline_spark.operators.similarity import bitext_margin_mine

    src = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    tgt = spark.createDataFrame(
        # tgt id 0 IS src id 0's translation (near-identical vector)
        [(0, [0.99, 0.01, 0.0]), (1, [0.0, 0.95, 0.05])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    out = {
        (r["src_id"], r["tgt_id"])
        for r in bitext_margin_mine(src, tgt, k=2, margin_thr_u=1_000_000).collect()
    }
    assert out == {(0, 0), (1, 1)}
