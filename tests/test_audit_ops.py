"""Edge-contract tests for the round-6 corpus-audit operators: KMV
cardinality sketch, weighted priority sampling, mutual-kNN graph,
source overlap, shingle novelty."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators.curation import weighted_priority_sample
from gcp_etl_pipeline_spark.operators.dedup import shingle_novelty, source_overlap
from gcp_etl_pipeline_spark.operators.similarity import mutual_knn
from gcp_etl_pipeline_spark.operators.sketches import kmv_distinct


# ----------------------------------------------------------- kmv_distinct

def test_kmv_exact_below_k(spark):
    vals = spark.createDataFrame([(f"v{i}",) for i in range(10)] * 3, ["v"])
    row = kmv_distinct(vals, "v", k=64).collect()[0]
    assert row.n_retained == 10
    assert row.est_distinct == 10 == row.exact_distinct
    assert row.err_u == 0


def test_kmv_estimates_above_k(spark):
    vals = spark.createDataFrame([(f"v{i}",) for i in range(2000)], ["v"])
    row = kmv_distinct(vals, "v", k=128).collect()[0]
    assert row.n_retained == 128
    assert row.exact_distinct == 2000
    # KMV standard error ~ 1/sqrt(k-2) ≈ 9%; assert a loose 3-sigma band
    assert abs(row.est_distinct - 2000) < 2000 * 0.3
    assert row.err_u == abs(row.est_distinct - 2000) * 1_000_000 // 2000


def test_kmv_insensitive_to_duplication(spark):
    base = [(f"v{i}",) for i in range(500)]
    once = spark.createDataFrame(base, ["v"])
    many = spark.createDataFrame(base * 7, ["v"])
    assert (
        kmv_distinct(once, "v", k=64).collect()[0].est_distinct
        == kmv_distinct(many, "v", k=64).collect()[0].est_distinct
    )


# ---------------------------------------------- weighted_priority_sample

def _wps_input(spark, n=400):
    # half weight 1, half weight 8, one stratum
    rows = [("s", i, 1 if i % 2 == 0 else 8) for i in range(n)]
    return spark.createDataFrame(rows, ["g", "k", "w"])


def test_wps_heavier_rows_overrepresented(spark):
    out = weighted_priority_sample(
        _wps_input(spark), "g", "k", "w", k=50
    ).collect()
    assert len(out) == 50
    heavy = sum(1 for r in out if r.w == 8)
    # E[heavy] ≈ 50·8/9 ≈ 44; the draw is deterministic, assert a wide band
    assert heavy > 30


def test_wps_deterministic_and_layout_invariant(spark):
    df = _wps_input(spark)
    a = {(r.g, r.k) for r in weighted_priority_sample(df, "g", "k", "w", k=20).collect()}
    b = {
        (r.g, r.k)
        for r in weighted_priority_sample(
            df.repartition(13, "w"), "g", "k", "w", k=20
        ).collect()
    }
    assert a == b


def test_wps_rejects_non_divisor_weight(spark):
    bad = spark.createDataFrame([("s", 1, 11)], ["g", "k", "w"])
    with pytest.raises(Exception, match="divisor"):
        weighted_priority_sample(bad, "g", "k", "w", k=5).collect()


# ------------------------------------------------------------- mutual_knn

def test_mutual_knn_requires_both_directions(spark):
    # three tight vectors + one outlier whose nearest is the cluster but
    # not vice versa at k=1: outlier edges must be dropped
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.98, 0.2]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r.a, r.b) for r in mutual_knn(df, k=1).collect()}
    assert pairs == {(1, 2), (3, 4)}


def test_mutual_knn_pairs_are_ordered(spark):
    rows = [(i, [float(i % 3 == j) for j in range(3)]) for i in range(9)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = mutual_knn(df, k=3).collect()
    assert all(r.a < r.b for r in out)


# ---------------------------------------------------------- source_overlap

def test_source_overlap_identical_sources_full_jaccard(spark):
    rows = [
        (1, "alpha beta gamma delta", "A"),
        (2, "alpha beta gamma delta", "B"),
        (3, "zeta eta theta iota", "C"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {(r.src_a, r.src_b): r for r in source_overlap(df).collect()}
    assert set(out) == {("A", "B")}  # C shares nothing → absent
    r = out[("A", "B")]
    assert r.inter == r.n_a == r.n_b == 2  # two 3-gram shingles each
    assert r.jaccard_u == 1_000_000


# --------------------------------------------------------- shingle_novelty

def test_shingle_novelty_first_doc_fully_novel(spark):
    rows = [
        (1, "a b c d"),          # shingles: "a b c", "b c d" — all novel
        (2, "a b c d"),          # exact repeat — nothing novel
        (3, "a b c x y z"),      # "a b c" seen; 3 of 4 novel
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in shingle_novelty(df).collect()}
    assert out[1].n_novel == out[1].n_shingles == 2
    assert out[1].novelty_u == 1_000_000
    assert out[2].n_novel == 0 and out[2].novelty_u == 0
    assert (out[3].n_shingles, out[3].n_novel) == (4, 3)
    assert out[3].novelty_u == 750_000


def test_shingle_novelty_short_docs_absent(spark):
    df = spark.createDataFrame([(1, "only two"), (2, "a b c")], ["doc_id", "text"])
    out = {r.doc_id for r in shingle_novelty(df).collect()}
    assert out == {2}


# ------------------------------------------------- kmv mergeable partials

def test_kmv_merge_equals_direct_sketch(spark):
    from gcp_etl_pipeline_spark.operators.sketches import kmv_merge, kmv_sketch

    vals = spark.createDataFrame([(f"v{i}",) for i in range(1200)], ["v"])
    a = kmv_sketch(spark.createDataFrame([(f"v{i}",) for i in range(600)], ["v"]), "v", k=64)
    b = kmv_sketch(spark.createDataFrame([(f"v{i}",) for i in range(600, 1200)], ["v"]), "v", k=64)
    merged = sorted(r.h for r in kmv_merge(a, b, k=64).collect())
    direct = sorted(r.h for r in kmv_sketch(vals, "v", k=64).collect())
    assert merged == direct


# --------------------------------------------- source_minhash_overlap

def test_source_minhash_identical_sources_agree_fully(spark):
    from gcp_etl_pipeline_spark.operators.dedup import source_minhash_overlap

    rows = [
        (1, "alpha beta gamma delta epsilon", "A"),
        (2, "alpha beta gamma delta epsilon", "B"),
        (3, "completely different words here now", "C"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {(r.src_a, r.src_b): r for r in source_minhash_overlap(df).collect()}
    assert len(out) == 3  # every pair emitted, overlapping or not
    ab = out[("A", "B")]
    assert ab.agree == 16 and ab.est_j_u == 1_000_000 == ab.exact_j_u
    assert ab.err_u == 0
    ac = out[("A", "C")]
    assert ac.exact_j_u == 0 and ac.err_u == ac.est_j_u


# ------------------------------------------------------- vocab_coverage

def test_vocab_coverage_oov_fraction(spark):
    from gcp_etl_pipeline_spark.operators.curation import vocab_coverage

    rows = [(1, "a a a b"), (2, "a b zz")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # vocab_size=2 → vocab {a, b}; zz is OOV
    out = {r.doc_id: r for r in vocab_coverage(df, vocab_size=2).collect()}
    assert out[1].n_oov == 0 and out[1].oov_u == 0
    assert (out[2].n_tokens, out[2].n_oov) == (3, 1)
    assert out[2].oov_u == 333_333


def test_vocab_coverage_boundary_tie_is_deterministic(spark):
    from gcp_etl_pipeline_spark.operators.curation import vocab_coverage

    # b and c tie on count at the boundary; 'b' < 'c' wins the last slot
    df = spark.createDataFrame([(1, "a a b c")], ["doc_id", "text"])
    out = vocab_coverage(df, vocab_size=2).collect()[0]
    assert out.n_oov == 1  # c is out


# ------------------------------------------------------ char_pair_merges

def test_char_pair_merges_counts_and_rank(spark):
    from gcp_etl_pipeline_spark.operators.text import char_pair_merges

    df = spark.createDataFrame([(1, "abab ab x")], ["doc_id", "text"])
    # token "abab": pairs ab, ba, ab; token "ab": ab; "x" too short
    out = {r.pair: r for r in char_pair_merges(df, k=10).collect()}
    assert out["ab"].pair_count == 3 and out["ab"].merge_rank == 1
    assert out["ba"].pair_count == 1
    assert "x" not in out and len(out) == 2


# ---------------------------------------------------- knn_graph_triangles

def test_triangles_on_a_tight_triple(spark):
    from gcp_etl_pipeline_spark.operators.similarity import knn_graph_triangles

    rows = [
        (1, [1.0, 0.0, 0.05]),
        (2, [1.0, 0.02, 0.0]),
        (3, [0.98, 0.01, 0.02]),
        (4, [0.0, 1.0, 0.0]),   # far away, no triangle
        (5, [0.0, 0.97, 0.1]),
        (6, [-1.0, 0.2, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    tris = {(r.a, r.b, r.c) for r in knn_graph_triangles(df, k=2).collect()}
    assert (1, 2, 3) in tris
    assert all(a < b < c for a, b, c in tris)


# ---------------------------------------------- halflife_decay_engagement

def test_decay_weights_halve_per_halflife(spark):
    import datetime as dt

    from gcp_etl_pipeline_spark.operators.curation import halflife_decay_engagement

    base = dt.datetime(2024, 1, 29, 12, 0, 0)
    rows = [
        (1, base),                               # age 0  → 1_000_000
        (1, base - dt.timedelta(days=7)),        # age 7  → 500_000
        (2, base - dt.timedelta(days=14)),       # age 14 → 250_000
        (3, base - dt.timedelta(days=7 * 40)),   # ancient → floor 1<<19
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {r.user_id: r for r in halflife_decay_engagement(df).collect()}
    assert out[1].engagement_u == 1_500_000 and out[1].n_events == 2
    assert out[2].engagement_u == 250_000
    assert out[3].engagement_u == 1_000_000 // (1 << 19)


# --------------------------------------------- rare_ngram_cosine_pairs

def test_rare_cosine_blocks_and_scores(spark):
    from gcp_etl_pipeline_spark.operators.dedup import rare_ngram_cosine_pairs

    rows = [
        (1, "unique marker alpha shared tail words here"),
        (2, "unique marker alpha different middle words here"),
        (3, "totally unrelated text about other things"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.a, r.b): r.cos_sim for r in
           rare_ngram_cosine_pairs(df, threshold=0.1).collect()}
    assert (1, 2) in out and out[(1, 2)] > 0.3
    assert all(p != (1, 3) for p in out) or out.get((1, 3), 0) < 0.3


def test_rare_cosine_hot_shingle_excluded(spark):
    from gcp_etl_pipeline_spark.operators.dedup import rare_ngram_cosine_pairs

    # the same shingle in every doc: with max_block_df=2 it cannot block,
    # so no candidates at all
    rows = [(i, "common three gram") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert rare_ngram_cosine_pairs(df, max_block_df=2).count() == 0


# --------------------------------------------- content_defined_chunks

def test_cdc_chunks_partition_token_stream(spark):
    from gcp_etl_pipeline_spark.operators.text import content_defined_chunks

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "single")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in content_defined_chunks(df).collect()}
    r1 = out[1]
    assert r1.n_tokens == 6 and r1.n_chunks >= 1
    assert r1.max_chunk_tokens <= r1.n_tokens
    assert out[2].n_chunks == 1 and out[2].max_chunk_tokens == 1


def test_cdc_insertion_shifts_locally(spark):
    from gcp_etl_pipeline_spark.operators.text import content_defined_chunks

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, "inserted " + base)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in content_defined_chunks(df).collect()}
    # boundaries are content-local: chunk count differs by at most 1
    assert abs(out[1].n_chunks - out[2].n_chunks) <= 1


# --------------------------------------------- kmv_group_set_estimates

def test_kmv_set_algebra_exact_below_k(spark):
    from gcp_etl_pipeline_spark.operators.sketches import kmv_group_set_estimates

    rows = [("A", f"v{i}") for i in range(30)] + [
        ("B", f"v{i}") for i in range(20, 50)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = kmv_group_set_estimates(df, "g", "v", k=64).collect()[0]
    # below k both sketches are exact: estimates equal exact cardinalities
    assert (r.src_a, r.src_b) == ("A", "B")
    assert r.est_union == r.exact_union == 50
    assert r.est_inter == r.exact_inter == 10


# ---------------------------------------------- winnowing_fingerprints

def test_winnowing_shared_substring_shares_fingerprint(spark):
    from gcp_etl_pipeline_spark.operators.dedup import winnowing_fingerprints

    shared = "one two three four five six"
    rows = [
        (1, f"prefix words here {shared}"),
        (2, f"{shared} and a different tail"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = winnowing_fingerprints(df).collect()
    fps = {1: set(), 2: set()}
    for r in out:
        fps[r.doc_id].add(r.fp)
    # guarantee: a shared run of >= n+w-1 = 6 tokens shares a fingerprint
    assert fps[1] & fps[2]


def test_winnowing_density_and_short_doc_contract(spark):
    from gcp_etl_pipeline_spark.operators.dedup import winnowing_fingerprints

    rows = [(1, "a b c d e"), (2, " ".join(f"t{i}" for i in range(30)))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = winnowing_fingerprints(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 1 not in by_doc            # 5 tokens < n+w-1
    # selected fingerprints are a strict subsample of the 28 hashes
    assert 0 < len(by_doc[2]) < 28
    assert all(1 <= r.pos <= 28 for r in by_doc[2])


# ------------------------------------------------ winnow_match_spans

def test_winnow_spans_localize_copy(spark):
    from gcp_etl_pipeline_spark.operators.dedup import winnow_match_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, f"{shared} completely original ending words go right here"),
        (2, f"different opening material sits here {shared}"),
        (3, "nothing in common with either of the other documents at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.a, r.b): r for r in winnow_match_spans(df).collect()}
    assert (1, 2) in out and (1, 3) not in out and (2, 3) not in out
    m = out[(1, 2)]
    # the copied block sits at the START of doc 1 and the END of doc 2
    assert m.a_from < 8 and m.b_from > 5 and m.n_shared >= 2


def test_winnow_spans_max_fp_df_drops_boilerplate(spark):
    """Adversarial boilerplate: a license-header block shared by EVERY
    doc would fan the fp self-join out |docs|² on its fingerprints.
    max_fp_df must drop those fingerprints before the join — killing
    the boilerplate-only pairs — while a genuine low-df copy between
    two docs survives untouched."""
    from gcp_etl_pipeline_spark.operators.dedup import winnow_match_spans

    boiler = "licensed under the apache license version two point zero"
    copy = "unique stolen passage reproduced verbatim across both docs"
    rows = [(i, f"{boiler} filler{i} pad{i} body{i} tail{i}") for i in range(1, 7)]
    rows += [
        (7, f"{boiler} {copy} seven closing words here"),
        (8, f"other opening material {copy} {boiler}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = {(r.a, r.b) for r in winnow_match_spans(df).collect()}
    # boilerplate alone links everything: far more pairs than the 1 copy
    assert len(uncapped) > 10 and (7, 8) in uncapped

    capped = {
        (r.a, r.b)
        for r in winnow_match_spans(df, max_fp_df=4).collect()
    }
    # boilerplate fps (df=8 > 4) are gone; the genuine df=2 copy stays
    assert (7, 8) in capped
    assert all(p == (7, 8) for p in capped), capped


# ------------------------------------------------ source_containment

def test_containment_detects_subset_feed(spark):
    from gcp_etl_pipeline_spark.operators.dedup import source_containment

    sub = "one two three four five"
    rows = [
        (1, sub, "SUB"),
        (2, f"{sub} six seven eight nine ten eleven twelve", "SUPER"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {(r.src_from, r.src_to): r for r in source_containment(df).collect()}
    assert out[("SUB", "SUPER")].containment_u == 1_000_000  # SUB ⊆ SUPER
    assert out[("SUPER", "SUB")].containment_u < 1_000_000


def test_wps_rejects_null_weight(spark):
    bad = spark.createDataFrame([("s", 1, None)], "g string, k int, w int")
    with pytest.raises(Exception, match="divisor"):
        weighted_priority_sample(bad, "g", "k", "w", k=5).collect()


def test_kmv_ignores_null_values(spark):
    vals = spark.createDataFrame(
        [("a",), (None,), ("b",), (None,)], "v string"
    )
    row = kmv_distinct(vals, "v", k=8).collect()[0]
    assert row.exact_distinct == 2 == row.est_distinct == row.n_retained


def test_wps_rejects_fractional_weight(spark):
    bad = spark.createDataFrame([("s", 1, 2.5)], "g string, k int, w double")
    with pytest.raises(Exception, match="divisor"):
        weighted_priority_sample(bad, "g", "k", "w", k=5).collect()


def test_decay_rejects_null_timestamp(spark):
    import datetime as dt

    from gcp_etl_pipeline_spark.operators.curation import halflife_decay_engagement

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1)), (2, None)],
        "user_id long, ts timestamp",
    )
    with pytest.raises(Exception, match="NULL timestamp"):
        halflife_decay_engagement(df).collect()


# ------------------------------------------------ dedup_substring_excise

def test_substring_excise_removes_shared_chunks_only(spark):
    """A doc duplicated verbatim loses ALL its chunks on both copies
    (every chunk fingerprint appears in 2 docs); a unique doc keeps its
    full normalized text. Counts are consistent: kept + excised =
    n_chunks, kept_tokens = tokens of clean_text."""
    from gcp_etl_pipeline_spark.operators.dedup import dedup_substring_excise

    dup = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
           "lambda mu nu xi omicron pi rho sigma tau upsilon") * 2
    uniq = "completely original content nothing shared anywhere at all"
    df = spark.createDataFrame(
        [(1, dup), (2, dup), (3, uniq)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in dedup_substring_excise(df).collect()}
    assert out[1].excised_chunks == out[1].n_chunks
    assert out[1].clean_text == "" and out[1].kept_tokens == 0
    assert out[2].clean_text == ""
    assert out[3].excised_chunks == 0
    assert out[3].clean_text == uniq  # already-normalized tokens
    assert out[3].kept_tokens == len(uniq.split())


def test_substring_excise_is_locally_scoped(spark):
    """The Lee-et-al property the CDC composition buys: excising a
    shared region from an otherwise-unique doc keeps the unique
    remainder — whole docs are NOT dropped."""
    from gcp_etl_pipeline_spark.operators.dedup import dedup_substring_excise

    shared = " ".join(f"boiler{i}" for i in range(120))
    rows = [
        (1, f"{shared}"),
        (2, f"{shared} unique2 tail2 words2 here2 now2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup_substring_excise(df).collect()}
    # doc 2 keeps at least its unique tail (interior shared chunks are
    # identical across docs; only border chunks may differ)
    assert out[2].excised_chunks > 0
    assert "unique2" in out[2].clean_text
    assert out[2].kept_tokens < 120 + 5


# ---------------------------------------------------- bpe_train_merges

def test_bpe_merges_are_greedy_and_iterated(spark):
    """Round 1 must pick the globally most frequent char pair; the
    merge application must be greedy left-to-right ('aaaa' + (a,a) ->
    [aa, aa], so round 2 can pick (aa, aa)); later rounds must count
    over MERGED symbols, not raw chars."""
    from gcp_etl_pipeline_spark.operators.text import bpe_train_merges

    df = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa xy xy xz")], ["doc_id", "text"]
    )
    rows = {r["round"]: r for r in bpe_train_merges(df, rounds=3).collect()}
    # 'aaaa' x3 -> pair (a,a) appears 3*3=9 times; (x,y) 2; (x,z) 1
    assert (rows[1].x, rows[1].y, rows[1].pair_count) == ("a", "a", 9)
    # greedy: aaaa -> [aa, aa] (x3) -> (aa, aa) count 3 beats (x,y) 2
    assert (rows[2].x, rows[2].y, rows[2].merged) == ("aa", "aa", "aaaa")
    assert rows[2].pair_count == 3
    # round 3: aaaa now one symbol; (x,y) 2 wins over (x,z) 1
    assert (rows[3].x, rows[3].y) == ("x", "y")


# ------------------------------------------- bucketed mutual-kNN graph

def test_mutual_knn_bucketed_exhaustive_probe_equals_exact(spark):
    """With n_probe >= n_lists every query scans every list, so the
    bucketed mutual graph must equal the exact one — the same
    exhaustive-probe ≡ brute invariant the 500k smoke asserts for
    knn_bucketed, here for the graph composition."""
    from gcp_etl_pipeline_spark.operators.similarity import (
        mutual_knn,
        mutual_knn_bucketed,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(4)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {(r.a, r.b) for r in mutual_knn(df, k=3).collect()}
    bucketed = {
        (r.a, r.b)
        for r in mutual_knn_bucketed(df, k=3, n_lists=4).collect()
    }
    assert bucketed == exact and len(exact) > 0


def test_knn_triangles_bucketed_close_under_edges(spark):
    """Every reported triangle's three edges must all be mutual edges,
    and orientation is a<b<c."""
    from gcp_etl_pipeline_spark.operators.similarity import (
        knn_triangles_bucketed,
        mutual_knn_bucketed,
    )

    rows = [
        (i, [1.0 + 0.01 * i, 0.0]) for i in range(5)
    ] + [
        (10 + i, [0.0, 1.0 + 0.01 * i]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    edges = {(r.a, r.b) for r in mutual_knn_bucketed(df, k=3).collect()}
    tris = knn_triangles_bucketed(df, k=3).collect()
    assert tris
    for t in tris:
        assert t.a < t.b < t.c
        assert {(t.a, t.b), (t.b, t.c), (t.a, t.c)} <= edges


# ---------------------------------------------------- doc_surprisal

def test_doc_surprisal_rare_tokens_score_higher(spark):
    from gcp_etl_pipeline_spark.operators.curation import doc_surprisal

    rows = [(1, "common common common common"), (2, "common rareword")]
    # corpus: common cf=5, rareword cf=1, N=6
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in doc_surprisal(df).collect()}
    # surprisal(common) = len(bin(6//5))-1 = 0; surprisal(rareword) =
    # len(bin(6//1))-1 = 2
    assert out[1].surprisal_sum == 0 and out[1].mean_surprisal_u == 0
    assert out[2].surprisal_sum == 2
    assert out[2].mean_surprisal_u == 1_000_000  # 2*1e6 div 2


# ------------------------------------------- dup_cluster_histogram

def test_dup_cluster_histogram_counts_clusters(spark):
    from gcp_etl_pipeline_spark.operators.dedup import dup_cluster_histogram

    rows = [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "c"), (6, "c")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.cluster_size: r for r in dup_cluster_histogram(df).collect()}
    assert out[3].n_clusters == 1 and out[3].n_docs == 3
    assert out[2].n_clusters == 1 and out[2].n_docs == 2
    assert out[1].n_clusters == 1 and out[1].n_docs == 1


# ------------------------------------------- knn_label_agreement

def test_knn_label_agreement_flags_mislabel(spark):
    from gcp_etl_pipeline_spark.operators.similarity import knn_label_agreement

    # two tight clusters of 4; vector 13 sits in cluster B but carries
    # label 0 -> its neighbors all disagree, and it poisons exactly one
    # neighbor slot of the true-B points
    rows = [(i, [1.0 + 0.01 * i, 0.0], 0) for i in range(4)]
    rows += [(10 + i, [0.0, 1.0 + 0.01 * i], 1) for i in range(4)]
    rows[7] = (13, [0.0, 1.03], 0)  # mislabeled B point
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r.query_id: r for r in knn_label_agreement(df, k=3).collect()}
    assert out[13].n_same == 0 and out[13].agree_u == 0
    for i in (0, 1, 2, 3):  # pure cluster A: all 3 neighbors agree
        assert out[i].agree_u == 1_000_000
    for i in (10, 11, 12):  # true-B: 2 of 3 neighbors agree (13 lies)
        assert out[i].n_same == 2 and out[i].agree_u == 666_666


# --------------------------- substring excise ledger x compact_ledger

def test_excise_incremental_survives_ledger_compaction(spark, tmp_path):
    """compact_ledger between excise increments must change file layout
    only, never excision decisions: increment 2 sees the same ledger
    fingerprint SET after compaction, and chunks repeated from increment
    1 are still excised."""
    from gcp_etl_pipeline_spark.operators.dedup import (
        compact_ledger,
        substring_excise_incremental,
    )

    store = str(tmp_path / "chunk_fps")
    shared = " ".join(f"w{i}" for i in range(80))
    b1 = spark.createDataFrame([(1, shared)], ["doc_id", "text"])
    out1 = substring_excise_incremental(b1, store, attempt_id="b1").collect()
    assert out1[0].excised_chunks == 0  # nothing prior

    files_before, files_after = compact_ledger(spark, store)
    assert files_after <= files_before

    b2 = spark.createDataFrame(
        [(2, shared), (3, "totally fresh words only here")],
        ["doc_id", "text"],
    )
    out2 = {
        r.doc_id: r
        for r in substring_excise_incremental(
            b2, store, attempt_id="b2"
        ).collect()
    }
    assert out2[2].excised_chunks == out2[2].n_chunks  # fully ledgered
    assert out2[2].clean_text == ""
    assert out2[3].excised_chunks == 0  # fresh doc untouched


# ------------------------------------------------------- shard_assign

def test_shard_assign_balanced_and_layout_invariant(spark):
    from gcp_etl_pipeline_spark.operators.curation import shard_assign

    rows = [(i, " ".join(["w"] * (10 + i % 7))) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = shard_assign(df, tokens_per_shard=100).collect()
    by_doc = {r.doc_id: r for r in out}
    # exclusive cumsum in id order: doc 0 starts at 0; monotone
    assert by_doc[0].tokens_before == 0 and by_doc[0].shard == 0
    ordered = sorted(out, key=lambda r: r.doc_id)
    for prev, cur in zip(ordered, ordered[1:]):
        assert cur.tokens_before == prev.tokens_before + prev.n_tokens
    # every shard except the last is within one max-doc of the budget
    # (a boundary-straddling doc shifts a shard's start by < max_doc)
    import collections
    per = collections.Counter()
    for r in out:
        per[r.shard] += r.n_tokens
    last = max(per)
    for s, tot in per.items():
        if s != last:
            assert 100 - 16 <= tot <= 100 + 16
    # layout invariance: same assignment after repartition(13)
    out2 = {
        r.doc_id: (r.tokens_before, r.shard)
        for r in shard_assign(
            df.repartition(13), tokens_per_shard=100
        ).collect()
    }
    assert out2 == {d: (r.tokens_before, r.shard) for d, r in by_doc.items()}


def test_bpe_exhausted_merges_are_noops(spark):
    """When rounds exceed available merges (single-char tokens after
    round 1), later rounds must be NO-OPS — not a vocab-emptying cross
    join with an empty pair frame. Train emits only the achievable
    merges; apply returns the correct compression, never NULLs."""
    from gcp_etl_pipeline_spark.operators.text import (
        bpe_apply_merges_stats,
        bpe_train_merges,
    )

    df = spark.createDataFrame([(1, "ab ab c d e")], ["doc_id", "text"])
    rows = bpe_train_merges(df, rounds=3).collect()
    # only one mergeable pair exists: (a,b) x2; rounds 2-3 have none
    assert [(r["round"], r.x, r.y) for r in rows] == [(1, "a", "b")]
    stats = bpe_apply_merges_stats(df, rounds=3).collect()[0]
    # chars 2+2+1+1+1 = 7; after merging (a,b): 1+1+1+1+1 = 5
    assert (stats.chars_total, stats.symbols_total) == (7, 5)
    assert stats.compression_u == 5 * 1_000_000 // 7
