"""Corpus-audit queries: gradable cardinality sketching, weighted
priority sampling, mutual-kNN graph edges, source-overlap and novelty
audits. Every oracle replays the engine's md5-derived integer arithmetic
bit-for-bit (the dedup_queries convention); hex→int folding uses a
Horner list_reduce (DuckDB has no conv())."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators import curation, dedup, sketches, similarity
from gcp_etl_pipeline_spark.operators.parallel import spread_scan
from gcp_etl_pipeline_spark.registry import register
from gcp_etl_pipeline_spark.sources.files import read_parquet

from gcp_etl_pipeline_spark.operators.dedup_queries import (  # shared CTEs
    _SH_CTE,
    _TOK_CTE,
    _qcos,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # not spread: heavy consumers use the dedup operators' internal
    # Arrow-stage spread; see dedup_queries._docs
    return read_parquet(spark, f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread_scan(read_parquet(spark, f"{sf_dir}/embeddings.parquet"), f"{sf_dir}/embeddings.parquet")


def _hex12(expr: str) -> str:
    """DuckDB twin of Spark's CAST(conv(<12 hex chars>, 16, 10) AS BIGINT):
    Horner fold of the nibbles — exact BIGINT, no pow(), no conv().

    The fold's lambda variable is deliberately obscure (``__hx``): this
    snippet gets interpolated INSIDE callers' own list lambdas
    (winnowing's ``i -> ...``), and DuckDB resolves the innermost
    binding — a plain ``i`` here once captured the caller's loop
    variable and silently hashed the wrong slice."""
    return (
        "list_reduce(list_transform(range(1, 13), __hx -> CAST("
        f"strpos('0123456789abcdef', substring({expr}, __hx, 1)) - 1 AS BIGINT)),"
        " (a, b) -> a * 16 + b)"
    )


# ------------------------------------------------- KMV distinct estimate
# sketches.kmv_distinct over the corpus 3-gram shingle vocabulary: the
# estimator's ERROR versus the exact distinct count is the graded output
# (~16k distinct shingles vs k=256 → a real estimation regime).

_KMV_K = 256
_KMV_SPACE = 1 << 48


def _q_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = dedup.shingle_sets(_docs(spark, sf_dir)).select("shingle")
    return sketches.kmv_distinct(sh, "shingle", k=_KMV_K)


# exported: stream_kmv_distinct (streaming/queries.py) grades against the
# IDENTICAL one-shot SQL — the merged streaming sketch must equal the
# direct sketch of the union (KMV merge is set-deterministic)
KMV_ORACLE_SQL = f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    hs AS (SELECT DISTINCT
             {_hex12("substring(md5('kmv|' || shingle), 1, 12)")} AS h
           FROM sh),
    topk AS (SELECT h FROM hs ORDER BY h LIMIT {_KMV_K}),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_retained,
                   CAST(MAX(h) AS BIGINT) AS kth_min FROM topk),
    ex AS (SELECT CAST(COUNT(DISTINCT shingle) AS BIGINT) AS exact_distinct
           FROM sh),
    est AS (SELECT CAST({_KMV_K} AS BIGINT) AS k, n_retained, kth_min,
                   CAST(CASE WHEN n_retained < {_KMV_K} THEN n_retained
                        ELSE ({_KMV_K - 1} * CAST({_KMV_SPACE} AS BIGINT))
                             // kth_min END AS BIGINT) AS est_distinct,
                   exact_distinct
            FROM agg CROSS JOIN ex)
    SELECT k, n_retained, kth_min, est_distinct, exact_distinct,
           CAST(CASE WHEN exact_distinct = 0 THEN 0
                ELSE abs(est_distinct - exact_distinct) * 1000000
                     // exact_distinct END AS BIGINT) AS err_u
    FROM est
    """

register("kmv_distinct_estimate", _q_kmv, KMV_ORACLE_SQL)


# -------------------------------------------- weighted priority sampling
# curation.weighted_priority_sample: per-lang top-25 by exact-integer
# priority key h·(840/w), weight = length bucket in 1..8 (every value
# divides 840 = lcm(1..8)).

_WPS_K = 25


def _q_wps(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn(
        "w_in", F.expr("least(CAST(8 AS BIGINT), 1 + n_chars DIV 200)")
    )
    return curation.weighted_priority_sample(
        docs, "lang", "doc_id", "w_in", k=_WPS_K
    )


register(
    "weighted_priority_sample",
    _q_wps,
    f"""
    WITH base AS (SELECT lang, doc_id,
                         LEAST(CAST(8 AS BIGINT), 1 + n_chars // 200) AS w
                  FROM documents),
    h AS (SELECT lang, doc_id, w,
                 {_hex12("substring(md5('wps|' || CAST(doc_id AS VARCHAR)), 1, 12)")}
                   AS hh
          FROM base),
    p AS (SELECT lang, doc_id, CAST(w AS BIGINT) AS w,
                 CAST(hh * (840 // w) AS BIGINT) AS priority_key
          FROM h),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY priority_key, doc_id) AS BIGINT) AS rn FROM p)
    SELECT lang, doc_id, w, priority_key, rn FROM r WHERE rn <= {_WPS_K}
    """,
)


# ------------------------------------------------------ mutual-kNN graph
# similarity.mutual_knn on the vec_id%2=0 half of the corpus (bounds the
# oracle's quadratic arm; the engine path is identical semantics).

def _q_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    sub = _embs(spark, sf_dir).where(F.col("vec_id") % 2 == 0)
    return similarity.mutual_knn(sub, k=5)


register(
    "mutual_knn_pairs",
    _q_mutual_knn,
    f"""
    WITH sub AS (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 2 = 0),
    s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 {_qcos('q.embedding', 'e.embedding')} AS cos_sim
          FROM sub e CROSS JOIN sub q WHERE e.vec_id <> q.vec_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s),
    nn AS (SELECT query_id, neighbor_id, cos_sim FROM r WHERE rn <= 5)
    SELECT n1.query_id AS a, n1.neighbor_id AS b, n1.cos_sim
    FROM nn n1 JOIN nn n2
      ON n1.query_id = n2.neighbor_id AND n1.neighbor_id = n2.query_id
    WHERE n1.query_id < n1.neighbor_id
    """,
)


# ------------------------------------------------- source overlap matrix

def _q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.source_overlap(_docs(spark, sf_dir))


register(
    "source_overlap_jaccard",
    _q_source_overlap,
    f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    gs AS (SELECT DISTINCT d.source, s.shingle
           FROM sh s JOIN documents d USING (doc_id)),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM gs GROUP BY source),
    inter AS (SELECT a.source AS src_a, b.source AS src_b,
                     CAST(COUNT(*) AS BIGINT) AS inter
              FROM gs a JOIN gs b
                ON a.shingle = b.shingle AND a.source < b.source
              GROUP BY 1, 2)
    SELECT i.src_a, i.src_b, i.inter,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(i.inter * 1000000
                // (sa.n_sh + sb.n_sh - i.inter) AS BIGINT) AS jaccard_u
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
)


# ---------------------------------------------------- shingle novelty

def _q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.shingle_novelty(_docs(spark, sf_dir))


register(
    "shingle_novelty_curve",
    _q_novelty,
    f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    first AS (SELECT shingle, MIN(doc_id) AS first_doc
              FROM sh GROUP BY shingle),
    per AS (SELECT s.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   CAST(SUM(CASE WHEN f.first_doc = s.doc_id
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
            FROM sh s JOIN first f USING (shingle)
            GROUP BY s.doc_id)
    SELECT doc_id, n_shingles, n_novel,
           CAST(n_novel * 1000000 // n_shingles AS BIGINT) AS novelty_u
    FROM per
    """,
)


# ------------------------------------- MinHash source overlap (scale path)
# dedup.source_minhash_overlap: the signature-agreement estimate of the
# source-pair Jaccard, with its error vs the exact value graded (group-
# level minhash_estimate_error). 1e6/16 divides evenly → est = agree·62500.

def _q_source_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.source_minhash_overlap(_docs(spark, sf_dir))


register(
    "source_minhash_overlap",
    _q_source_minhash,
    f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    gs AS (SELECT DISTINCT d.source, s.shingle
           FROM sh s JOIN documents d USING (doc_id)),
    sig AS (SELECT source, k,
                   MIN(substring(md5(CAST(k AS VARCHAR) || '|' || shingle),
                       1, 16)) AS mh
            FROM gs CROSS JOIN (SELECT unnest(range(0, 16)) AS k) t
            GROUP BY source, k),
    agree AS (SELECT a.source AS src_a, b.source AS src_b,
                     CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                          AS BIGINT) AS agree
              FROM sig a JOIN sig b ON a.k = b.k AND a.source < b.source
              GROUP BY 1, 2),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM gs GROUP BY source),
    inter AS (SELECT a.source AS src_a, b.source AS src_b,
                     CAST(COUNT(*) AS BIGINT) AS inter
              FROM gs a JOIN gs b
                ON a.shingle = b.shingle AND a.source < b.source
              GROUP BY 1, 2),
    exact AS (SELECT i.src_a, i.src_b,
                     CAST(i.inter * 1000000
                          // (sa.n_sh + sb.n_sh - i.inter) AS BIGINT)
                       AS exact_j_u
              FROM inter i
              JOIN sizes sa ON sa.source = i.src_a
              JOIN sizes sb ON sb.source = i.src_b)
    SELECT g.src_a, g.src_b, g.agree,
           CAST(g.agree * 62500 AS BIGINT) AS est_j_u,
           COALESCE(e.exact_j_u, 0) AS exact_j_u,
           CAST(abs(g.agree * 62500 - COALESCE(e.exact_j_u, 0)) AS BIGINT)
             AS err_u
    FROM agree g LEFT JOIN exact e USING (src_a, src_b)
    """,
)


# --------------------------------------------- tokenizer vocab coverage

def _q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.vocab_coverage(_docs(spark, sf_dir), vocab_size=200)


register(
    "tokenizer_vocab_coverage",
    _q_vocab_coverage,
    f"""
    WITH {_TOK_CTE},
    t AS (SELECT doc_id, unnest(toks) AS t FROM tok),
    c AS (SELECT t, COUNT(*) AS c FROM t GROUP BY t),
    vocab AS (SELECT t FROM c ORDER BY c DESC, t LIMIT 200),
    per AS (SELECT tt.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov
            FROM t tt LEFT JOIN vocab v USING (t)
            GROUP BY tt.doc_id)
    SELECT doc_id, n_tokens, n_oov,
           CAST(n_oov * 1000000 // n_tokens AS BIGINT) AS oov_u
    FROM per
    """,
)


# --------------------------------------------- BPE first-merge induction

def _q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators.text import char_pair_merges

    return char_pair_merges(_docs(spark, sf_dir), k=50)


register(
    "bpe_merge_pairs",
    _q_bpe_pairs,
    f"""
    WITH {_TOK_CTE},
    t AS (SELECT unnest(toks) AS t FROM tok),
    p AS (SELECT unnest(list_transform(range(1, length(t)),
                        i -> substring(t, i, 2))) AS pair
          FROM t WHERE length(t) >= 2),
    c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS pair_count
          FROM p GROUP BY pair),
    r AS (SELECT pair, pair_count,
                 CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair)
                      AS BIGINT) AS merge_rank
          FROM c)
    SELECT pair, pair_count, merge_rank FROM r WHERE merge_rank <= 50
    """,
)


# --------------------------------------------- kNN-graph triangle census
# similarity.knn_graph_triangles over the same vec_id%2=0 half as
# mutual_knn_pairs: oriented-edge join, each triangle found once.

def _q_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    sub = _embs(spark, sf_dir).where(F.col("vec_id") % 2 == 0)
    return similarity.knn_graph_triangles(sub, k=5)


register(
    "knn_graph_triangles",
    _q_knn_triangles,
    f"""
    WITH sub AS (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 2 = 0),
    s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 {_qcos('q.embedding', 'e.embedding')} AS cos_sim
          FROM sub e CROSS JOIN sub q WHERE e.vec_id <> q.vec_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s),
    nn AS (SELECT query_id, neighbor_id FROM r WHERE rn <= 5),
    e AS (SELECT n1.query_id AS a, n1.neighbor_id AS b
          FROM nn n1 JOIN nn n2
            ON n1.query_id = n2.neighbor_id AND n1.neighbor_id = n2.query_id
          WHERE n1.query_id < n1.neighbor_id)
    SELECT ab.a, ab.b, bc.c
    FROM e ab
    JOIN (SELECT a AS b, b AS c FROM e) bc USING (b)
    WHERE EXISTS (SELECT 1 FROM e ac WHERE ac.a = ab.a AND ac.b = bc.c)
    """,
)


# --------------------------------------- half-life decayed engagement
# curation.halflife_decay_engagement over events: integer-shift decay,
# no float exp anywhere.

def _q_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread_scan(read_parquet(spark, f"{sf_dir}/events.parquet"), f"{sf_dir}/events.parquet")
    return curation.halflife_decay_engagement(ev)


register(
    "halflife_decay_engagement",
    _q_decay,
    """
    WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS r FROM events),
    w AS (SELECT user_id,
                 1000000 // (CAST(1 AS BIGINT) << CAST(LEAST(
                     date_diff('day', CAST(ts AS DATE), ref.r) // 7,
                     19) AS INT)) AS w
          FROM events CROSS JOIN ref)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(w) AS BIGINT) AS engagement_u
    FROM w GROUP BY user_id
    """,
)


# --------------------------------- sparse TF-cosine near-dup (rare-blocked)
# dedup.rare_ngram_cosine_pairs: rare-shingle inverted-index blocking +
# exact integer-dot tf-cosine verify — the sparse complement to Jaccard
# and dense KNN; per-shingle fan-out hard-capped at max_block_df².

def _q_rare_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.rare_ngram_cosine_pairs(
        _docs(spark, sf_dir), max_block_df=5, threshold=0.8
    )


register(
    "rare_ngram_cosine_pairs",
    _q_rare_cosine,
    f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    rare AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS c
                                  FROM sh GROUP BY shingle) WHERE c <= 5),
    rsh AS (SELECT s.doc_id, s.shingle FROM sh s JOIN rare USING (shingle)),
    cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
             FROM rsh a JOIN rsh b
               ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
    t AS (SELECT doc_id, unnest(toks) AS t FROM tok),
    tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM t GROUP BY 1, 2),
    nrm AS (SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm
            FROM tf GROUP BY doc_id),
    dots AS (SELECT c.a, c.b, SUM(ta.tf * tb.tf) AS dot
             FROM cand c
             JOIN tf ta ON ta.doc_id = c.a
             JOIN tf tb ON tb.doc_id = c.b AND tb.t = ta.t
             GROUP BY c.a, c.b)
    SELECT d.a, d.b,
           CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos_sim
    FROM dots d
    JOIN nrm na ON na.doc_id = d.a
    JOIN nrm nb ON nb.doc_id = d.b
    WHERE CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm) >= 0.8
    """,
)


# --------------------------------------------- content-defined chunking

def _q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators.text import content_defined_chunks

    return content_defined_chunks(_docs(spark, sf_dir))


register(
    "content_defined_chunks",
    _q_cdc_chunks,
    f"""
    WITH {_TOK_CTE},
    b AS (SELECT doc_id, len(toks) AS n_tokens,
                 list_filter(range(1, len(toks)),
                             i -> substring(md5(toks[i]), 1, 1) = '0') AS bounds
          FROM tok WHERE len(toks) >= 1),
    a AS (SELECT doc_id, n_tokens,
                 list_concat(list_concat([0], bounds), [n_tokens]) AS allb
          FROM b),
    s AS (SELECT doc_id, n_tokens,
                 list_transform(range(1, len(allb)),
                                j -> allb[j + 1] - allb[j]) AS sizes
          FROM a)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(len(sizes) AS BIGINT) AS n_chunks,
           CAST(list_aggregate(sizes, 'max') AS BIGINT) AS max_chunk_tokens
    FROM s
    """,
)


# ------------------------------------------------ KMV set algebra per pair
# sketches.kmv_group_set_estimates over source shingle sets: union from
# the merged sketch, intersection by inclusion-exclusion, both errors
# gradable against the exact cardinalities riding along.

_KSA_K = 64
_KSA_EST = (
    f"CAST(CASE WHEN {{n}} < {_KSA_K} THEN {{n}} "
    f"ELSE ({_KSA_K - 1} * CAST({1 << 48} AS BIGINT)) // {{kth}} END AS BIGINT)"
)


def _q_kmv_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    gs = (
        dedup.shingle_sets(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
    )
    return sketches.kmv_group_set_estimates(gs, "source", "shingle", k=_KSA_K)


register(
    "kmv_source_set_algebra",
    _q_kmv_set,
    f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    gs AS (SELECT DISTINCT d.source AS g, s.shingle
           FROM sh s JOIN documents d USING (doc_id)),
    gh AS (SELECT DISTINCT g,
             {_hex12("substring(md5('kmv|' || shingle), 1, 12)")} AS h
           FROM gs),
    sk AS (SELECT g, h FROM (SELECT g, h, ROW_NUMBER() OVER
             (PARTITION BY g ORDER BY h) AS r FROM gh) WHERE r <= {_KSA_K}),
    pere AS (SELECT g, {_KSA_EST.format(n="COUNT(*)", kth="MAX(h)")} AS est
             FROM sk GROUP BY g),
    pairs AS (SELECT a.g AS src_a, b.g AS src_b
              FROM pere a JOIN pere b ON a.g < b.g),
    merged AS (SELECT DISTINCT p.src_a, p.src_b, s.h
               FROM pairs p JOIN sk s ON s.g = p.src_a OR s.g = p.src_b),
    um AS (SELECT src_a, src_b, h, ROW_NUMBER() OVER
             (PARTITION BY src_a, src_b ORDER BY h) AS r FROM merged),
    unie AS (SELECT src_a, src_b,
                    {_KSA_EST.format(n="COUNT(*)", kth="MAX(h)")} AS est_union
             FROM um WHERE r <= {_KSA_K} GROUP BY src_a, src_b),
    sizes AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS sz FROM gs GROUP BY g),
    inter AS (SELECT a.g AS src_a, b.g AS src_b,
                     CAST(COUNT(*) AS BIGINT) AS xinter
              FROM gs a JOIN gs b ON a.shingle = b.shingle AND a.g < b.g
              GROUP BY 1, 2)
    SELECT u.src_a, u.src_b, u.est_union,
           CAST(GREATEST(0, ea.est + eb.est - u.est_union) AS BIGINT)
             AS est_inter,
           CAST(sa.sz + sb.sz - COALESCE(i.xinter, 0) AS BIGINT)
             AS exact_union,
           COALESCE(i.xinter, 0) AS exact_inter
    FROM unie u
    JOIN pere ea ON ea.g = u.src_a
    JOIN pere eb ON eb.g = u.src_b
    JOIN sizes sa ON sa.g = u.src_a
    JOIN sizes sb ON sb.g = u.src_b
    LEFT JOIN inter i ON i.src_a = u.src_a AND i.src_b = u.src_b
    """,
)


# ------------------------------------------------ winnowing fingerprints
# dedup.winnowing_fingerprints: MOSS local fingerprints — sliding-window
# minima over n-gram hashes, rightmost tie-break, positions kept so
# matches are alignable. Window w=4, n=3 (shared substrings ≥ 6 tokens
# guaranteed to share a fingerprint).

def _q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.winnowing_fingerprints(_docs(spark, sf_dir))


# Shared winnowing CTE chain ending in a MATERIALIZED fps(doc_id, pos, fp)
# — reused by winnow_match_spans, whose self-join references fps twice
# (the multiply-referenced-CTE inlining gotcha).
_WINNOW_CTES = f"""{_TOK_CTE},
    base AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 6),
    h AS MATERIALIZED (SELECT doc_id,
            list_transform(range(1, len(toks) - 1), i ->
              {_hex12("substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 12)")}
            ) AS hs
          FROM base),
    m AS MATERIALIZED (SELECT doc_id, hs,
            list_transform(range(1, len(hs) - 2),
                           j -> list_aggregate(hs[j:j+3], 'min')) AS mins
          FROM h),
    sel AS (SELECT doc_id,
              list_transform(range(1, len(hs) - 2), j -> {{
                'pos': list_aggregate(list_filter(range(j, j + 4),
                         i -> hs[i] = mins[j]), 'max'),
                'fp': mins[j]
              }}) AS sels
            FROM m),
    x AS (SELECT doc_id, unnest(sels) AS s FROM sel),
    fps AS MATERIALIZED (SELECT DISTINCT doc_id, CAST(s.pos AS BIGINT) AS pos,
           CAST(s.fp AS BIGINT) AS fp
    FROM x)"""

register(
    "winnowing_fingerprints",
    _q_winnow,
    f"WITH {_WINNOW_CTES} SELECT doc_id, pos, fp FROM fps",
)


# --------------------------------------------- winnowing match spans
# dedup.winnow_match_spans: what MOSS reports — pairs sharing >= 2
# fingerprints with positional extents on both sides.

def _q_winnow_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.winnow_match_spans(_docs(spark, sf_dir))


register(
    "winnow_match_spans",
    _q_winnow_spans,
    f"""
    WITH {_WINNOW_CTES}
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(COUNT(DISTINCT a.fp) AS BIGINT) AS n_shared,
           CAST(MIN(a.pos) AS BIGINT) AS a_from,
           CAST(MAX(a.pos) AS BIGINT) AS a_to,
           CAST(MIN(b.pos) AS BIGINT) AS b_from,
           CAST(MAX(b.pos) AS BIGINT) AS b_to
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(DISTINCT a.fp) >= 2
    """,
)


# --------------------------------------------- source containment
# dedup.source_containment: directed |A∩B|/|A| — the asymmetric signal
# (subset feeds) Jaccard hides; both directions of each overlapping pair.

def _q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.source_containment(_docs(spark, sf_dir))


register(
    "source_containment",
    _q_containment,
    f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    gs AS (SELECT DISTINCT d.source, s.shingle
           FROM sh s JOIN documents d USING (doc_id)),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM gs GROUP BY source),
    inter AS (SELECT a.source AS src_a, b.source AS src_b,
                     CAST(COUNT(*) AS BIGINT) AS inter
              FROM gs a JOIN gs b
                ON a.shingle = b.shingle AND a.source < b.source
              GROUP BY 1, 2),
    dirs AS (
      SELECT src_a AS src_from, src_b AS src_to, inter FROM inter
      UNION ALL
      SELECT src_b AS src_from, src_a AS src_to, inter FROM inter)
    SELECT d.src_from, d.src_to, d.inter, s.n_sh AS n_from,
           CAST(d.inter * 1000000 // s.n_sh AS BIGINT) AS containment_u
    FROM dirs d JOIN sizes s ON s.source = d.src_from
    """,
)


# -------------------------------- percent_rank / cume_dist (integer-exact)
# The rank-ratio window surface computed as exact integer µ-units from
# rank() and the tie-inclusive running count (RANGE frame), instead of
# the engines' float percent_rank/cume_dist built-ins.

def _q_pr_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = spread_scan(read_parquet(spark, f"{sf_dir}/orders.parquet"), f"{sf_dir}/orders.parquet")
    wp = Window.partitionBy("o_orderpriority")
    w_rank = wp.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    w_range = wp.orderBy(F.col("o_totalprice").asc()).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        orders.select(
            "o_orderkey", "o_orderpriority",
            F.rank().over(w_rank).alias("__rk"),
            F.count(F.lit(1)).over(w_range).alias("__le"),
            F.count(F.lit(1)).over(wp).alias("__n"),
        )
        .where(F.col("o_orderkey") % 20 == 0)
        .select(
            "o_orderkey", "o_orderpriority",
            # single-row partition: percent_rank is 0 by definition (both
            # engines otherwise diverge - Spark DIV by 0 yields NULL,
            # DuckDB // raises)
            F.expr("CAST(CASE WHEN __n = 1 THEN 0 ELSE "
                   "(CAST(__rk AS BIGINT) - 1) * 1000000 DIV (__n - 1) "
                   "END AS BIGINT)").alias("pr_u"),
            F.expr("CAST(__le * 1000000 DIV __n AS BIGINT)").alias("cd_u"),
        )
    )


register(
    "window_percent_rank_cume",
    _q_pr_cume,
    """
    WITH w AS (SELECT o_orderkey, o_orderpriority,
                 RANK() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey) AS rk,
                 COUNT(*) OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice
                   RANGE UNBOUNDED PRECEDING) AS le,
                 COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
               FROM orders)
    SELECT o_orderkey, o_orderpriority,
           CAST(CASE WHEN n = 1 THEN 0
                ELSE (rk - 1) * 1000000 // (n - 1) END AS BIGINT) AS pr_u,
           CAST(le * 1000000 // n AS BIGINT) AS cd_u
    FROM w WHERE o_orderkey % 20 = 0
    """,
)


# ------------------------------------------- substring duplicate excision
# dedup.dedup_substring_excise — Lee et al. 2022's substring-level REMOVAL
# (not just detection): CDC-chunk the token stream, excise chunks whose
# fingerprint occurs in >= 2 distinct docs, reassemble. The oracle replays
# the chunking (content_defined_chunks' rule), the md5 chunk fingerprints,
# the hot-fp set, and the in-order reassembly exactly.

def _q_substr_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_substring_excise(_docs(spark, sf_dir))


register(
    "dedup_substring_excise",
    _q_substr_excise,
    f"""
    WITH {_TOK_CTE},
    b AS (SELECT doc_id, toks, len(toks) AS n_tokens,
                 list_filter(range(1, len(toks)),
                             i -> substring(md5(toks[i]), 1, 1) = '0') AS bounds
          FROM tok WHERE len(toks) >= 1),
    a AS (SELECT doc_id, toks,
                 list_concat(list_concat([0], bounds), [n_tokens]) AS allb
          FROM b),
    ch AS (SELECT doc_id,
                  list_transform(range(1, len(allb)),
                      j -> array_to_string(
                             list_slice(toks, allb[j] + 1, allb[j + 1]),
                             ' ')) AS chunks
           FROM a),
    e AS (SELECT doc_id, unnest(chunks) AS chunk,
                 unnest(range(1, len(chunks) + 1)) AS idx
          FROM ch),
    hot AS (SELECT md5(chunk) AS fp FROM e
            GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
    m AS (SELECT e.doc_id, e.idx, e.chunk, (h.fp IS NOT NULL) AS dup
          FROM e LEFT JOIN hot h ON md5(e.chunk) = h.fp)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
             AS excised_chunks,
           CAST(SUM(CASE WHEN dup THEN 0
                    ELSE len(string_split(chunk, ' ')) END) AS BIGINT)
             AS kept_tokens,
           COALESCE(string_agg(CASE WHEN NOT dup THEN chunk END,
                               ' ' ORDER BY idx), '') AS clean_text
    FROM m GROUP BY doc_id
    """,
)


# ---------------------------------------------- multi-round BPE training
# text.bpe_train_merges at rounds=3: the oracle unrolls the iterated
# count → top-pair → apply-merge loop as MATERIALIZED CTEs (the Lloyd
# precedent — without MATERIALIZED DuckDB re-inlines each round 3^r
# times). The merge fold replays greedy left-to-right via list_reduce
# over singleton-wrapped symbols (acc type must equal element type).

_BPE_PAIRS = """
  SELECT x, y, CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM (SELECT unnest(list_slice(syms, 1, len(syms) - 1)) AS x,
               unnest(list_slice(syms, 2, len(syms))) AS y,
               cnt
        FROM {src} WHERE len(syms) >= 2)
  GROUP BY x, y
  ORDER BY pair_count DESC, x ASC, y ASC LIMIT 1
"""

# LEFT JOIN ON TRUE, not a comma cross join: a round with no mergeable
# pair must be a no-op (NULL p.x fails the CASE equality -> append
# branch); a cross join with an empty pair CTE would empty the vocab.
_BPE_APPLY = """
  SELECT list_reduce(list_transform(syms, s -> [s]),
           (acc, e) -> CASE WHEN acc[-1] = p.x AND e[1] = p.y
                  THEN list_concat(list_slice(acc, 1, len(acc) - 1),
                                   [p.x || p.y])
                  ELSE list_concat(acc, e) END) AS syms,
         cnt
  FROM {src} LEFT JOIN {pair} p ON TRUE
"""


def _bpe_train_oracle(rounds: int) -> str:
    """The k-round trainer oracle, generated programmatically: the
    count -> top-pair -> apply-merge loop unrolled as MATERIALIZED CTE
    pairs (p_r, v_r) to any depth — without MATERIALIZED DuckDB
    re-inlines each round 3^r times (the Lloyd precedent)."""
    ctes = [
        """v0 AS MATERIALIZED (
      SELECT list_transform(range(1, length(t) + 1),
                            i -> substring(t, i, 1)) AS syms,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(toks) AS t FROM tok) GROUP BY t)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"p{r} AS MATERIALIZED ({_BPE_PAIRS.format(src=f'v{r - 1}')})"
        )
        if r < rounds:
            ctes.append(
                f"v{r} AS MATERIALIZED "
                f"({_BPE_APPLY.format(src=f'v{r - 1}', pair=f'p{r}')})"
            )
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, x, y, x || y AS merged,"
        f" pair_count FROM p{r}"
        for r in range(1, rounds + 1)
    )
    return (
        f"\n    WITH {_TOK_CTE},\n    "
        + ",\n    ".join(ctes)
        + "\n    "
        + selects
        + "\n    "
    )


def _q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators.text import bpe_train_merges

    return bpe_train_merges(_docs(spark, sf_dir), rounds=3)


register("bpe_train_merges", _q_bpe_train, _bpe_train_oracle(3))


def _q_bpe_train_k8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight trainer rounds — the depth where merge INTERACTIONS stress
    the fold: later rounds pick pairs whose x or y is itself an earlier
    round's merged symbol (a round-5 merge consuming a round-2 output),
    so the greedy left-to-right replay must track the evolving symbol
    alphabet, not just character bigrams. Shares the _bpe_* helpers and
    the programmatic k-round oracle with the rounds=3 query."""
    from gcp_etl_pipeline_spark.operators.text import bpe_train_merges

    return bpe_train_merges(_docs(spark, sf_dir), rounds=8)


register("bpe_train_merges_k8", _q_bpe_train_k8, _bpe_train_oracle(8))


# --------------------------------- bucketed-ANN mutual kNN graph + triangles
# The at-scale kNN-graph feed, GRADED: the oracle
# replays the identical Lloyd/auto-lists/probe arithmetic as
# similarity_bucketed_recall, then the mutualization join and the
# oriented-edge triangle closure.

from gcp_etl_pipeline_spark.operators.dedup_queries import (  # noqa: E402
    _AUTO_LISTS_SQL,
    _KM_ITERS,
    _KM_PROBE,
    _lloyd_lists_ctes,
    _qvcos as _qvc,
)

_BANN_EDGES = f"""
    {_lloyd_lists_ctes(_KM_ITERS, _AUTO_LISTS_SQL)},
    q AS (SELECT vec_id AS query_id, qv FROM base),
    qp AS (SELECT query_id, qv, lid AS list_id FROM (
             SELECT q.query_id, q.qv, c.lid,
                    ROW_NUMBER() OVER (PARTITION BY q.query_id
                      ORDER BY {_qvc('q.qv', 'c.cv')} DESC, c.lid) AS rk
             FROM q CROSS JOIN c{_KM_ITERS} c) t WHERE rk <= {_KM_PROBE}),
    s AS (SELECT p.query_id, l.vec_id AS neighbor_id,
                 {_qvc('p.qv', 'l.qv')} AS cos_sim
          FROM qp p JOIN lists l
            ON l.list_id = p.list_id AND l.vec_id <> p.query_id),
    r AS (SELECT query_id, neighbor_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s),
    d AS MATERIALIZED (SELECT query_id, neighbor_id, cos_sim
                       FROM r WHERE rn <= 5),
    e AS MATERIALIZED (
      SELECT d.query_id AS a, d.neighbor_id AS b, d.cos_sim
      FROM d JOIN d d2 ON d2.query_id = d.neighbor_id
                      AND d2.neighbor_id = d.query_id
      WHERE d.query_id < d.neighbor_id)
"""


def _q_mutual_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.mutual_knn_bucketed(_embs(spark, sf_dir), k=5)


register(
    "mutual_knn_bucketed",
    _q_mutual_bucketed,
    f"WITH {_BANN_EDGES} SELECT a, b, cos_sim FROM e",
)


def _q_triangles_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.knn_triangles_bucketed(_embs(spark, sf_dir), k=5)


register(
    "knn_triangles_bucketed",
    _q_triangles_bucketed,
    f"""WITH {_BANN_EDGES}
    SELECT e1.a, e1.b, e2.b AS c
    FROM e e1 JOIN e e2 ON e2.a = e1.b
    WHERE EXISTS (SELECT 1 FROM e e3
                  WHERE e3.a = e1.a AND e3.b = e2.b)
    """,
)


# ------------------------------------- winnow spans with the hot-fp cap
# The max_fp_df guard, GRADED: fingerprints
# selected in more than 3 distinct documents are dropped before the
# self-join. The oracle replays the cap as a distinct-doc-count filter
# over the same fps table.

def _q_winnow_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.winnow_match_spans(_docs(spark, sf_dir), max_fp_df=3)


register(
    "winnow_spans_capped",
    _q_winnow_capped,
    f"""
    WITH {_WINNOW_CTES},
    capped AS MATERIALIZED (
      SELECT * FROM fps WHERE fp NOT IN (
        SELECT fp FROM fps GROUP BY fp
        HAVING COUNT(DISTINCT doc_id) > 3))
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(COUNT(DISTINCT a.fp) AS BIGINT) AS n_shared,
           CAST(MIN(a.pos) AS BIGINT) AS a_from,
           CAST(MAX(a.pos) AS BIGINT) AS a_to,
           CAST(MIN(b.pos) AS BIGINT) AS b_from,
           CAST(MAX(b.pos) AS BIGINT) AS b_to
    FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(DISTINCT a.fp) >= 2
    """,
)


# ------------------------------- substring-excision per-source rollup
# What a curation run reports after excision: per source, how much text
# the substring-dedup pass removed — total/kept tokens and the excised
# fraction (µ-unit exact). Composes dedup_substring_excise with a
# source-keyed aggregate; the oracle replays excision then rolls up.

def _q_excise_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    ex = dedup.dedup_substring_excise(docs)
    return (
        ex.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chunks").cast("bigint").alias("chunks"),
            F.sum("excised_chunks").cast("bigint").alias("excised"),
            F.sum("kept_tokens").cast("bigint").alias("kept_tokens"),
        )
        .withColumn(
            "excised_frac_u",
            F.expr("excised * 1000000 div chunks").cast("bigint"),
        )
    )


_EXCISE_CTES = f"""{_TOK_CTE},
    b AS (SELECT doc_id, toks, len(toks) AS n_tokens,
                 list_filter(range(1, len(toks)),
                             i -> substring(md5(toks[i]), 1, 1) = '0') AS bounds
          FROM tok WHERE len(toks) >= 1),
    a AS (SELECT doc_id, toks,
                 list_concat(list_concat([0], bounds), [n_tokens]) AS allb
          FROM b),
    ch AS (SELECT doc_id,
                  list_transform(range(1, len(allb)),
                      j -> array_to_string(
                             list_slice(toks, allb[j] + 1, allb[j + 1]),
                             ' ')) AS chunks
           FROM a),
    e AS (SELECT doc_id, unnest(chunks) AS chunk,
                 unnest(range(1, len(chunks) + 1)) AS idx
          FROM ch),
    hot AS (SELECT md5(chunk) AS fp FROM e
            GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
    m AS (SELECT e.doc_id, e.idx, e.chunk, (h.fp IS NOT NULL) AS dup
          FROM e LEFT JOIN hot h ON md5(e.chunk) = h.fp)"""


register(
    "excise_source_stats",
    _q_excise_stats,
    f"""
    WITH {_EXCISE_CTES},
    perdoc AS (SELECT doc_id, COUNT(*) AS n_chunks,
                      SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS excised,
                      SUM(CASE WHEN dup THEN 0
                          ELSE len(string_split(chunk, ' ')) END) AS kept
               FROM m GROUP BY doc_id)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_chunks) AS BIGINT) AS chunks,
           CAST(SUM(p.excised) AS BIGINT) AS excised,
           CAST(SUM(p.kept) AS BIGINT) AS kept_tokens,
           CAST(SUM(p.excised) * 1000000 // SUM(p.n_chunks)
                AS BIGINT) AS excised_frac_u
    FROM perdoc p JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
)


# --------------------------------------------- per-doc nearest near-dup
# dedup.neardup_top1: each doc's best LSH candidate by signature
# agreement — the review-UI "diff against what" answer. Oracle replays
# sig/band/candidate generation (minhash_estimate_error's CTEs) plus the
# both-directions ranking.

from gcp_etl_pipeline_spark.operators.dedup_queries import (  # noqa: E402
    _BANDS,
    _NUM_HASHES,
    _ROWS,
)


def _q_neardup_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.neardup_top1(_docs(spark, sf_dir))


def _neardup_top1_oracle() -> str:
    mins = ", ".join(
        f"MIN(substring(md5('{k}|' || shingle), 1, 16)) AS mh{k}"
        for k in range(_NUM_HASHES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({concat}) AS h FROM sig".format(
            b=b,
            concat=" || '|' || ".join(
                f"mh{b * _ROWS + r}" for r in range(_ROWS)
            ),
        )
        for b in range(_BANDS)
    )
    m_expr = " + ".join(
        f"CASE WHEN sa.mh{k} = sb.mh{k} THEN 1 ELSE 0 END"
        for k in range(_NUM_HASHES)
    )
    return f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    sig AS MATERIALIZED (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS ({band_rows}),
    cand AS MATERIALIZED (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.h = y.h AND x.doc_id < y.doc_id),
    bidir AS (SELECT a, b FROM cand UNION ALL SELECT b, a FROM cand),
    scored AS (SELECT bidir.a, bidir.b, ({m_expr}) AS agree
               FROM bidir JOIN sig sa ON sa.doc_id = bidir.a
                          JOIN sig sb ON sb.doc_id = bidir.b),
    r AS (SELECT a, b, agree,
                 ROW_NUMBER() OVER (PARTITION BY a
                   ORDER BY agree DESC, b ASC) AS rn FROM scored)
    SELECT a AS doc_id, b AS neighbor_id, CAST(agree AS BIGINT) AS agree,
           CAST(agree * 1000000 // {_NUM_HASHES} AS BIGINT) AS est_j_u
    FROM r WHERE rn = 1
    """


register("neardup_top1", _q_neardup_top1, _neardup_top1_oracle())


# --------------------------------------------------- unigram surprisal
# curation.doc_surprisal: floor(log2(N/cf)) per token occurrence via
# bit-length (length(bin(x)) - 1 in BOTH engines) — the log-free unigram
# cross-entropy quality proxy, exact integer end-to-end.

def _q_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.doc_surprisal(_docs(spark, sf_dir))


register(
    "doc_surprisal_score",
    _q_surprisal,
    f"""
    WITH {_TOK_CTE},
    t AS (SELECT doc_id, unnest(toks) AS t FROM tok),
    cf AS (SELECT t, COUNT(*) AS cf FROM t GROUP BY t),
    n AS (SELECT SUM(cf) AS n FROM cf),
    s AS (SELECT t.doc_id,
                 length(bin(CAST(n.n // cf.cf AS BIGINT))) - 1 AS s
          FROM t JOIN cf USING (t) CROSS JOIN n),
    p AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 CAST(SUM(s) AS BIGINT) AS surprisal_sum
          FROM s GROUP BY doc_id)
    SELECT doc_id, n_tokens, surprisal_sum,
           CAST(surprisal_sum * 1000000 // n_tokens AS BIGINT)
             AS mean_surprisal_u
    FROM p
    """,
)


# --------------------------------------- duplicate-cluster size histogram

def _q_dup_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the driver fixtures contain no EXACT duplicates (near-dups only),
    # which would make this histogram a vacuous single row — plant
    # deterministic clusters by re-adding every doc_id%5=0 text (size-2
    # clusters) and every doc_id%50=0 text twice more (size-4); the
    # oracle replays the same construction
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.unionByName(
        docs.where(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    for off in (2_000_000, 3_000_000):
        planted = planted.unionByName(
            docs.where(F.col("doc_id") % 50 == 0)
            .select((F.col("doc_id") + off).alias("doc_id"), "text")
        )
    return dedup.dup_cluster_histogram(planted)


register(
    "dup_cluster_histogram",
    _q_dup_hist,
    """
    WITH planted AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 50 = 0
      UNION ALL
      SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 50 = 0),
    fp AS (SELECT md5(regexp_replace(lower(trim(text)),
                                     '\\s+', ' ', 'g')) AS f
           FROM planted),
    cl AS (SELECT f, COUNT(*) AS sz FROM fp GROUP BY f)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM cl GROUP BY sz
    """,
)


# ------------------------------------------------- kNN label agreement
# similarity.knn_label_agreement on the vec_id%2=0 half (bounds the
# oracle's quadratic arm, the mutual_knn_pairs convention).

def _q_label_agree(spark: SparkSession, sf_dir: str) -> DataFrame:
    sub = _embs(spark, sf_dir).where(F.col("vec_id") % 2 == 0)
    return similarity.knn_label_agreement(sub, k=5)


register(
    "knn_label_agreement",
    _q_label_agree,
    f"""
    WITH sub AS (SELECT vec_id, embedding, label FROM embeddings
                 WHERE vec_id % 2 = 0),
    s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 {_qcos('q.embedding', 'e.embedding')} AS cos_sim
          FROM sub e CROSS JOIN sub q WHERE e.vec_id <> q.vec_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s),
    nn AS (SELECT query_id, neighbor_id FROM r WHERE rn <= 5),
    j AS (SELECT nn.query_id, ql.label AS ql, nl.label AS nl
          FROM nn JOIN sub ql ON ql.vec_id = nn.query_id
                  JOIN sub nl ON nl.vec_id = nn.neighbor_id),
    p AS (SELECT query_id, CAST(MIN(ql) AS BIGINT) AS label,
                 CAST(COUNT(*) AS BIGINT) AS n_neighbors,
                 CAST(SUM(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_same
          FROM j GROUP BY query_id)
    SELECT query_id, label, n_neighbors, n_same,
           CAST(n_same * 1000000 // n_neighbors AS BIGINT) AS agree_u
    FROM p
    """,
)


# ------------------------------------------------ balanced shard layout
# curation.shard_assign: exclusive cumulative token count in global id
# order -> shard = tokens_before div budget. The oracle's single-node
# window IS the semantic spec; the engine replays it with the two-phase
# distributed prefix sum (no single-task global window).

_SHARD_BUDGET = 2_000


def _q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.shard_assign(
        _docs(spark, sf_dir), tokens_per_shard=_SHARD_BUDGET
    )


register(
    "shard_assign_balanced",
    _q_shard_assign,
    f"""
    WITH {_TOK_CTE},
    n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tok),
    c AS (SELECT doc_id, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS tokens_before
          FROM n)
    SELECT doc_id, n_tokens, tokens_before,
           CAST(tokens_before // {_SHARD_BUDGET} AS BIGINT) AS shard
    FROM c
    """,
)


# --------------------------------------------- BPE merge APPLICATION
# text.bpe_apply_merges_stats at rounds=3: corpus symbol compression
# after applying the trained merge table — extends the bpe_train oracle
# chain one fold further and aggregates.

def _q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators.text import bpe_apply_merges_stats

    return bpe_apply_merges_stats(_docs(spark, sf_dir), rounds=3)


register(
    "bpe_apply_compression",
    _q_bpe_apply,
    f"""
    WITH {_TOK_CTE},
    v0 AS MATERIALIZED (
      SELECT list_transform(range(1, length(t) + 1),
                            i -> substring(t, i, 1)) AS syms,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(toks) AS t FROM tok) GROUP BY t),
    p1 AS MATERIALIZED ({_BPE_PAIRS.format(src='v0')}),
    v1 AS MATERIALIZED ({_BPE_APPLY.format(src='v0', pair='p1')}),
    p2 AS MATERIALIZED ({_BPE_PAIRS.format(src='v1')}),
    v2 AS MATERIALIZED ({_BPE_APPLY.format(src='v1', pair='p2')}),
    p3 AS MATERIALIZED ({_BPE_PAIRS.format(src='v2')}),
    v3 AS MATERIALIZED ({_BPE_APPLY.format(src='v2', pair='p3')}),
    bef AS (SELECT CAST(SUM(len(syms) * cnt) AS BIGINT) AS chars_total
            FROM v0),
    aft AS (SELECT CAST(SUM(len(syms) * cnt) AS BIGINT) AS symbols_total
            FROM v3)
    SELECT chars_total, symbols_total,
           CAST(symbols_total * 1000000 // chars_total AS BIGINT)
             AS compression_u
    FROM bef CROSS JOIN aft
    """,
)


# ------------------------------------- cross-split leakage, LOCALIZED
# winnow_match_spans x dataset_split: near-dup pairs that straddle the
# train/val/test boundary WITH the positional extent of the shared
# region on both sides — split_leakage_check says HOW MUCH leaks,
# this says WHERE (the actionable form: excise the span or move the
# doc). Oracle composes the shared winnowing CTEs with the split hash.

def _q_leakage_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators.curation import dataset_split

    docs = _docs(spark, sf_dir)
    spans = dedup.winnow_match_spans(docs)
    split = dataset_split(docs, "doc_id", val_pct=10.0, test_pct=10.0).select(
        "doc_id", "split"
    )
    return (
        spans.join(
            split.select(F.col("doc_id").alias("a"),
                         F.col("split").alias("split_a")), "a")
        .join(
            split.select(F.col("doc_id").alias("b"),
                         F.col("split").alias("split_b")), "b")
        .where(F.col("split_a") != F.col("split_b"))
        .select("a", "b", "split_a", "split_b", "n_shared",
                "a_from", "a_to", "b_from", "b_to")
    )


def _leakage_spans_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.curation import (
        dataset_split_case_sql,
    )

    split_case = dataset_split_case_sql("{id}", val_pct=10.0, test_pct=10.0)
    return f"""
    WITH {_WINNOW_CTES},
    spans AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             CAST(COUNT(DISTINCT a.fp) AS BIGINT) AS n_shared,
             CAST(MIN(a.pos) AS BIGINT) AS a_from,
             CAST(MAX(a.pos) AS BIGINT) AS a_to,
             CAST(MIN(b.pos) AS BIGINT) AS b_from,
             CAST(MAX(b.pos) AS BIGINT) AS b_to
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT a.fp) >= 2),
    tagged AS (
      SELECT s.*, {split_case.format(id='s.a')} AS split_a,
             {split_case.format(id='s.b')} AS split_b
      FROM spans s)
    SELECT a, b, split_a, split_b, n_shared, a_from, a_to, b_from, b_to
    FROM tagged WHERE split_a <> split_b
    """


register("split_leakage_spans", _q_leakage_spans, _leakage_spans_oracle())


# ------------------------------------------------- IVF list health
# similarity.ivf_list_stats: per-list member counts for the graded
# Lloyd/auto-lists configuration — the index-health table an IVF
# deployment watches after every rebuild. Oracle reuses the lists CTE.

def _q_ivf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_list_stats(_embs(spark, sf_dir))


register(
    "ivf_list_stats",
    _q_ivf_stats,
    f"""
    WITH {_lloyd_lists_ctes(_KM_ITERS, _AUTO_LISTS_SQL)},
    tot AS (SELECT COUNT(*) AS n FROM lists)
    SELECT CAST(list_id AS BIGINT) AS list_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(*) * 1000000 // MAX(tot.n) AS BIGINT) AS share_u
    FROM lists CROSS JOIN tot
    GROUP BY list_id
    """,
)


# --------------------------------------------- language-ID confusion
# text.lang_id prediction vs the documents table's labeled lang column —
# the eval CONFUSION MATRIX for the heuristic classifier (text_lang_id
# grades only the prediction marginals). Reuses the lang-fold CTEs.

def _q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators import text as _text

    return (
        _docs(spark, sf_dir)
        .select("lang", _text.lang_id("text").alias("lang_detected"))
        .groupBy("lang", "lang_detected")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def _lang_confusion_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.dedup_queries import (
        _lang_ctes,
        _tok_cte,
    )

    return f"""
    WITH {_tok_cte("doc_id, text, lang")}, {_lang_ctes()}
    SELECT t.lang, l.lang_det AS lang_detected,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM tok t JOIN langd l USING (doc_id)
    GROUP BY 1, 2
    """


register("lang_id_confusion", _q_lang_confusion, _lang_confusion_oracle())


# --------------------------------------------------- bigram surprisal
# curation.doc_bigram_surprisal: conditional surprisal floor(log2(
# cf_prefix/cf_ab)) per bigram occurrence via bit-length — the
# sequence-level quality signal (templated text from common words
# scores low on unigrams, high here). Exact integer end-to-end.

def _q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.doc_bigram_surprisal(_docs(spark, sf_dir))


register(
    "doc_bigram_surprisal",
    _q_bigram_surprisal,
    f"""
    WITH {_TOK_CTE},
    bgl AS (SELECT doc_id,
              CASE WHEN len(toks) >= 2
                   THEN list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1])
                   ELSE [] END AS bgs
            FROM tok),
    bg AS (SELECT doc_id, unnest(bgs) AS b FROM bgl),
    cab AS (SELECT b, COUNT(*) AS cab FROM bg GROUP BY 1),
    ca AS (SELECT regexp_extract(b, '^([^ ]*) ', 1) AS a,
                  SUM(cab) AS ca
           FROM cab GROUP BY 1),
    s AS (SELECT bg.doc_id,
                 length(bin(CAST(ca.ca // cab.cab AS BIGINT))) - 1 AS s
          FROM bg
          JOIN cab USING (b)
          JOIN ca ON ca.a = regexp_extract(bg.b, '^([^ ]*) ', 1)),
    agg AS (SELECT doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_bigrams,
              CAST(SUM(s) AS BIGINT) AS surprisal_sum
            FROM s GROUP BY 1)
    SELECT doc_id, n_bigrams, surprisal_sum,
           CAST(surprisal_sum * 1000000 // n_bigrams AS BIGINT)
             AS mean_surprisal_u
    FROM agg
    """,
)
