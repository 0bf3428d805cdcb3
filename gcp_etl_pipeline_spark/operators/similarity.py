"""Similarity search over embedding columns (array<float>).

Two paths:
  - ``knn_bruteforce``: exact top-k cosine for a (small, broadcast) query
    set against the full corpus — the correctness baseline. Scales
    linearly in corpus size with zero shuffle of the corpus (queries are
    broadcast; per-partition partial top-k caps the shuffle at
    partitions × queries × k rows before the final window).
  - ``neardup_pairs_bucketed``: all-pairs cosine ≥ threshold via sign-bit
    LSH bucketing (deterministic md5-derived hyperplanes), so candidate
    generation is a bucket equi-join instead of O(n²); verification only
    inside buckets.

Determinism contract: components are quantized to µ-units (round(x*1e6)
as bigint) IN CATALYST — the same expression the DuckDB oracles use — and
all dot products are exact int64 sums. The heavy math runs as
Arrow-batched numpy (int64 matmul; associative, overflow-safe for
|x|≤~1, dim≤~9000), followed by the same double division/sqrt the SQL
form applies, so values are bit-identical on any engine, any
partitioning, any parallelism. The earlier all-Catalyst higher-order-
function formulation produced the same numbers ~30× slower (per-element
expression interpretation); this keeps its semantics and its oracles.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from gcp_etl_pipeline_spark.operators.parallel import spread

MICRO = 1_000_000

# Hard ceiling on collect-and-broadcast query sets. "Queries are small by
# contract" (eval workloads: benchmark suites, probe sets) — this makes the
# contract enforced instead of assumed: a caller handing the operator a
# million-row query table gets a clear error instead of a driver OOM.
MAX_QUERY_VECTORS = 100_000


def _collect_query_set(
    queries: DataFrame, query_id_col: str, vec_col: str
) -> list:
    """Bounded collect of the (query_id, quantized vector) set.

    Fetches at most MAX_QUERY_VECTORS+1 rows (early-stopping limit, never a
    full scan) and raises above the ceiling. For genuinely large query
    sets, don't broadcast: use ``knn_bucketed`` (corpus⋈queries as a
    shuffle equi-join on the IVF list key, no driver collect) or
    ``neardup_pairs_bucketed`` when queries == corpus.
    """
    q_rows = queries.select(
        F.col(query_id_col), quantized(vec_col).alias("__qv")
    ).limit(MAX_QUERY_VECTORS + 1).collect()
    if not q_rows:
        raise ValueError("empty query set")
    if len(q_rows) > MAX_QUERY_VECTORS:
        raise ValueError(
            f"query set exceeds MAX_QUERY_VECTORS={MAX_QUERY_VECTORS}: the "
            "broadcast-queries strategy would collect it to the driver. "
            "Use knn_bucketed (shuffle-join IVF search, unbounded query "
            "side) instead."
        )
    return q_rows


def _release_on_gc(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tie the lifetime of persisted intermediate frames to the OPERATOR
    RESULT: when the caller's last reference to ``out`` is garbage-
    collected, the ``cached`` frames are unpersisted.

    Why not a plain ``persist()``: without a matching ``unpersist()`` the
    session CacheManager holds a strong reference to the InMemoryRelation
    forever (the ContextCleaner frees RDD blocks on GC, but never
    SQL-layer cache entries), so repeated invocations leak executor
    storage for the session's lifetime. Why not unpersist inside the
    operator: the returned plan still READS the cache lazily — there is
    no safe point before the caller's action. Why not an eager/lazy
    ``localCheckpoint`` of the reused leg: the block-manager round trip
    of the full vector frame cost the similarity family ~0.3–0.5 s per
    query at sf0.1 (measured: lazy-checkpoint 1.17/1.35 s vs
    persist 0.91/0.87 s for neardup_lsh/semantic_dedup). The finalizer
    keeps persist-level speed and releases exactly when the result can
    no longer re-execute its lineage. Callers that hold the result
    forever intentionally keep the cache (the lineage stays runnable);
    dropping the reference — as bench.py's ``del df; gc.collect()``
    between queries does — frees it deterministically.

    Caveat (performance, never correctness): the release is tied to the
    RETURNED Python object, so a chained transform that drops it
    immediately — ``op(df).where(...).count()`` — can unpersist before
    the action runs, degrading to AT MOST ONE recompute per action
    (Spark executes a plan once per action; identical results, no cache
    reuse across actions). Callers that chain should wrap the call in
    :func:`pinned`, which holds the result for a block and releases the
    caches deterministically at exit."""
    import weakref

    def _release(frames: tuple[DataFrame, ...] = cached) -> None:
        for df in frames:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — interpreter/session teardown
                pass

    # expose the finalizer so pinned() can release deterministically at
    # block exit instead of waiting for a GC pass (finalize is idempotent:
    # calling it detaches it, and the later GC of `out` is then a no-op)
    out._graft_release = weakref.finalize(out, _release)
    return out


def pinned(df: DataFrame):
    """Chaining-safe scope for operators whose persisted legs are
    released when their RESULT is garbage-collected (``_release_on_gc``:
    ``semantic_dedup``, ``neardup_pairs_bucketed``,
    ``similarity_join_threshold``...). The block holds the result, so
    chained transforms that drop their intermediate —
    ``kept.where(...).count()`` — still reuse the operator's caches for
    every action inside the block; at exit the caches are released
    immediately (no waiting for a GC pass)::

        with pinned(semantic_dedup(base, threshold=0.9)) as kept:
            kept.where("vec_id > 0").count()   # cache-backed
            kept.join(dim, "vec_id").collect()  # still cache-backed

    Outside a ``pinned`` block the unheld chained pattern stays CORRECT
    but pays at most one recompute per action. Frames derived inside the
    block remain valid after exit; actions on them recompute."""
    import contextlib

    @contextlib.contextmanager
    def scope():
        try:
            yield df
        finally:
            release = getattr(df, "_graft_release", None)
            if release is not None:
                release()

    return scope()


def _q(x: Column) -> Column:
    """Quantize one component: float -> exact µ-unit bigint."""
    return F.round(x.cast("double") * MICRO, 0).cast("long")


def quantized(vec: Column | str) -> Column:
    """Whole-vector quantization (array<long>), evaluated JVM-side so the
    float->int rounding is byte-identical to the SQL oracles."""
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, _q)


def _mat(series: pd.Series) -> np.ndarray:
    return np.array(series.tolist(), dtype=np.int64)


def _cos_qq_fn(a: pd.Series, b: pd.Series) -> pd.Series:
    """cos over two quantized vectors: exact int64 dots, one double
    division — same op order as the SQL form."""
    A, B = _mat(a), _mat(b)
    dot = np.einsum("ij,ij->i", A, B)
    na = np.sqrt(np.einsum("ij,ij->i", A, A).astype(np.float64))
    nb = np.sqrt(np.einsum("ij,ij->i", B, B).astype(np.float64))
    return pd.Series(dot.astype(np.float64) / (na * nb))


# DataType instance (not DDL string): keeps module import session-free
_cos_qq = pandas_udf(_cos_qq_fn, DoubleType())


def cosine(a: Column, b: Column) -> Column:
    """Quantized cosine similarity (double), deterministic cross-engine."""
    return _cos_qq(quantized(a), quantized(b))


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    ``queries``: (query_id, embedding) — small by contract, ENFORCED by a
    MAX_QUERY_VECTORS guard; collected and shipped to every partition (the
    broadcast-dims pattern). Each corpus partition computes one int64
    matmul against the query matrix and emits only its local top-k per
    query; the final window sees partitions × queries × k rows, never the
    corpus. Ties broken by corpus id for determinism.
    """
    q_rows = _collect_query_set(queries, query_id_col, vec_col)
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.int64)
    qn = np.sqrt(np.einsum("ij,ij->i", Q, Q).astype(np.float64))

    out_schema = f"{query_id_col} BIGINT, neighbor_id BIGINT, cos_sim DOUBLE"

    def topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = _mat(pdf["__cv"])
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            xn = np.sqrt(np.einsum("ij,ij->i", X, X).astype(np.float64))
            # cos[i, j] = (X·Qj) / (xn_i * qn_j): exact dot, one division
            cos = (X @ Q.T).astype(np.float64) / np.outer(xn, qn)
            qcol, ncol, ccol = [], [], []
            for j in range(len(qids)):
                mask = ids != qids[j]
                c, i = cos[mask, j], ids[mask]
                take = np.lexsort((i, -c))[:k]  # cos desc, id asc
                qcol.extend([qids[j]] * len(take))
                ncol.extend(i[take])
                ccol.extend(c[take])
            yield pd.DataFrame(
                {query_id_col: qcol, "neighbor_id": ncol, "cos_sim": ccol}
            )

    partial = spread(corpus, id_col).select(
        F.col(id_col).alias("__id"), quantized(vec_col).alias("__cv")
    ).mapInPandas(topk, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
        .select(query_id_col, "neighbor_id", "cos_sim", "rn")
    )


def auto_n_lists(corpus_size: int, floor: int = 16) -> int:
    """IVF list-count sizing: ~sqrt(N) lists (the standard IVF heuristic
    — balances per-list scan cost against probe fan-out) with a floor.
    At a billion vectors this yields ~32k lists, which also keeps the
    list_id join's parallelism above any realistic shuffle-partition
    count (see knn_bucketed's scale note)."""
    import math

    return max(floor, int(math.isqrt(max(corpus_size, 1))))


def _centroids(
    corpus: DataFrame, n_lists: int, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Deterministic IVF centroids: the ``n_lists`` lowest-id corpus
    vectors, quantized (an engine-defined seed choice stated in the
    operator contract so SQL oracles reproduce exact results; swapping in
    k-means centroids changes only this function)."""
    cent_rows = (
        corpus.select(F.col(id_col), quantized(vec_col).alias("__cv"))
        .orderBy(F.col(id_col))
        .limit(n_lists)
        .collect()
    )
    C = np.array([list(r[1]) for r in cent_rows], dtype=np.int64)
    cent_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    cn = np.sqrt(np.einsum("ij,ij->i", C, C).astype(np.float64))
    return cent_ids, C, cn


def _kmeans_stats_rows(qv_df: DataFrame, C: np.ndarray, cn: np.ndarray) -> list:
    """One distributed Lloyd round for the cosine k-means, fused into a
    single pass: per batch, assign rows to their nearest centroid with
    EXACTLY ``_nearest_lists_fn`` (same float cosine, same (cos desc,
    index asc) lexsort tie-break) and emit per-(list, dim) integer
    partial sums/counts — k×dim rows per batch instead of the n×dim
    posexplode shuffle. Exact: the sums are int64 additions."""
    k, dim = C.shape
    nearest = _nearest_lists_fn(C, cn)

    def stats_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = _mat(pdf["__cv"])
            lists = nearest(X, 1)[:, 0]
            sums = np.zeros((k, dim), dtype=np.int64)
            np.add.at(sums, lists, X)
            counts = np.bincount(lists, minlength=k)
            nz = np.flatnonzero(counts)
            yield pd.DataFrame(
                {
                    "list_id": np.repeat(nz.astype(np.int64), dim),
                    "d": np.tile(np.arange(dim, dtype=np.int64), nz.size),
                    "s": sums[nz].reshape(-1),
                    "n": np.repeat(counts[nz].astype(np.int64), dim),
                }
            )

    return (
        qv_df.mapInPandas(
            stats_fn, "list_id bigint, d bigint, s bigint, n bigint"
        )
        .groupBy("list_id", "d")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Deterministic Lloyd k-means over the quantized vectors — the
    quality upgrade for IVF list assignment (`_centroids`' lowest-id
    seeding is exactness-friendly but places lists arbitrarily; k-means
    lists follow the data's density, so the same ``n_probe`` reaches more
    true neighbors).

    Determinism contract (engine-stable across partitionings/cluster
    sizes): seeds are the k lowest-id vectors; every iteration assigns by
    the same exact int64 cosine + (cos desc, centroid index asc)
    tie-break as search, and re-centers with EXACT integer sums per
    (list, dimension) — the new centroid is the element-wise integer
    mean (floor division) in µ-units. Empty lists keep their previous
    centroid.

    Physical shape per iteration: ONE fused assignment+partial-sums
    matmul pass (mapInPandas — each batch emits k×dim (list, dim,
    partial sum, count) rows) + a tiny k×dim final aggregate that
    collects to the driver. A join shape would shuffle n×dim posexploded
    (list, dim, value) rows per iteration to compute those same sums;
    integer addition is associative, so per-batch partials are exact
    and partitioning-independent (guide §2.3 "aggregate before you
    shuffle").

    Returns (cent_ids = 0..k-1 list labels, C, cn) ready for
    ``_ivf_assign`` / ``knn_ivf(centroids=...)``.
    """
    _, C, cn = _centroids(corpus, k, id_col, vec_col)
    labels = np.arange(C.shape[0], dtype=np.int64)
    qv_df = spread(corpus, id_col).select(
        quantized(vec_col).alias("__cv")
    )
    for _ in range(iters):
        stats = _kmeans_stats_rows(qv_df, C, cn)
        newC = C.copy()
        per_list: dict[int, list] = {}
        for r in stats:
            per_list.setdefault(int(r["list_id"]), []).append(r)
        for lid, rows in per_list.items():
            rows.sort(key=lambda r: r["d"])
            n = rows[0]["n"]
            vec = np.array(
                [int(r["s"]) // int(n) for r in rows], dtype=np.int64
            )
            if np.any(vec):  # all-zero mean would break the norm
                newC[lid] = vec
        C = newC
        cn = np.sqrt(np.einsum("ij,ij->i", C, C).astype(np.float64))
    return labels, C, cn


def _nearest_lists_fn(C: np.ndarray, cn: np.ndarray):
    def _nearest_lists(X: np.ndarray, n: int) -> np.ndarray:
        """Row-wise: indices of the n nearest centroids (cos desc, centroid
        position asc — position == id order, deterministic)."""
        xn = np.sqrt(np.einsum("ij,ij->i", X, X).astype(np.float64))
        cos = (X @ C.T).astype(np.float64) / np.outer(xn, cn)
        order = np.lexsort(
            (np.broadcast_to(np.arange(C.shape[0]), cos.shape), -cos), axis=1
        )
        return order[:, :n]

    return _nearest_lists


def _ivf_assign(
    corpus: DataFrame,
    cent_ids: np.ndarray,
    C: np.ndarray,
    cn: np.ndarray,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Nearest-centroid list assignment: one matmul pass over the corpus,
    fully partition-parallel. Returns (__id, __cv, list_id)."""
    _nearest_lists = _nearest_lists_fn(C, cn)
    assign_schema = "__id BIGINT, __cv ARRAY<BIGINT>, list_id BIGINT"

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = _mat(pdf["__cv"])
            lists = cent_ids[_nearest_lists(X, 1)[:, 0]]
            yield pd.DataFrame(
                {"__id": pdf["__id"], "__cv": pdf["__cv"], "list_id": lists}
            )

    return spread(corpus, id_col).select(
        F.col(id_col).alias("__id"), quantized(vec_col).alias("__cv")
    ).mapInPandas(assign, assign_schema)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "lowest_id",
    kmeans_iters: int = 5,
) -> DataFrame:
    """SemDeDup-shaped embedding dedup (Abbas et al. 2023's cluster-then-
    prune recipe): assign every vector to its nearest IVF list, then DROP
    any vector that has a lower-id list-mate with cosine ≥ ``threshold``.
    Returns the KEPT rows as (id_col, list_id).

    Semantics are greedy-by-id within a list (the lowest-id member of
    every near-dup group survives) and are deliberately simple enough to
    state in the operator contract: a vector is dropped iff ∃ lower id in
    ITS list at ≥ threshold. Cross-list near-dups are kept (bounded
    recall, the standard SemDeDup trade — raise n_lists quality with
    k-means centroids via _centroids).

    Scale shape: candidate generation is a bucket self-join on list_id
    (never all-pairs); the assignment frame is persisted so the join's
    two sides don't recompute the assignment matmul, and released when
    the result is GC'd (``_release_on_gc``).

    ``centroids="kmeans"`` swaps in the deterministic Lloyd centroids
    (``kmeans_centroids``): density-following lists catch the cross-list
    near-dups the seeded lists miss, at the cost of ``iters`` extra
    passes over the corpus."""
    if centroids == "kmeans":
        cent_ids, C, cn = kmeans_centroids(
            corpus, n_lists, iters=kmeans_iters, id_col=id_col, vec_col=vec_col
        )
    else:
        cent_ids, C, cn = _centroids(corpus, n_lists, id_col, vec_col)
    # persist the reused leg (three consumers: both self-join sides and
    # the final anti-join); released when the RESULT is GC'd, see
    # _release_on_gc
    assigned = _ivf_assign(corpus, cent_ids, C, cn, id_col, vec_col).persist()
    a = assigned.select(
        F.col("__id").alias("a"), F.col("__cv").alias("__va"), "list_id"
    )
    b = assigned.select(
        F.col("__id").alias("b"), F.col("__cv").alias("__vb"), "list_id"
    )
    dropped = (
        a.join(b, "list_id")
        .where(F.col("a") < F.col("b"))
        .where(_cos_qq(F.col("__va"), F.col("__vb")) >= threshold)
        .select(F.col("b").alias("__dup"))
        .distinct()
    )
    out = (
        assigned.join(
            dropped, assigned["__id"] == dropped["__dup"], "left_anti"
        )
        .select(F.col("__id").alias(id_col), "list_id")
    )
    return _release_on_gc(out, assigned)


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: str = "lowest_id",
    kmeans_iters: int = 5,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into ``n_lists``
    inverted lists (nearest-centroid assignment), probe only the
    ``n_probe`` lists nearest each query, exact cosine inside them.
    ``centroids="kmeans"`` uses deterministic Lloyd centroids
    (``kmeans_centroids``) for density-following lists (higher recall at
    the same n_probe; extra assignment passes to build).

    The at-scale shape: assignment is one matmul pass over the corpus;
    search shuffles on list_id, touching ~n_probe/n_lists of the data —
    the probe set shrinks the scan instead of the broadcast-everything
    brute force. Recall < 1 by design (neighbors assigned to unprobed
    lists are missed); raise ``n_probe`` to trade speed for recall.

    Centroids are DETERMINISTIC: the ``n_lists`` lowest-id corpus vectors
    (an engine-defined seed choice, stated in the operator contract so a
    SQL oracle reproduces the exact result; swapping in k-means centroids
    changes only this step). All scoring is quantized-exact with ties
    broken by id, so the output is bit-stable across engines.
    """
    if centroids == "kmeans":
        cent_ids, C, cn = kmeans_centroids(
            corpus, n_lists, iters=kmeans_iters, id_col=id_col, vec_col=vec_col
        )
    else:
        cent_ids, C, cn = _centroids(corpus, n_lists, id_col, vec_col)
    _nearest_lists = _nearest_lists_fn(C, cn)
    assigned = _ivf_assign(corpus, cent_ids, C, cn, id_col, vec_col)

    q_rows = _collect_query_set(queries, query_id_col, vec_col)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.int64)
    probes = _nearest_lists(Q, min(n_probe, len(cent_ids)))
    probe_rows = [
        (int(r[0]), list(r[1]), int(cent_ids[j]))
        for r, pr in zip(q_rows, probes)
        for j in pr
    ]
    probe_df = corpus.sparkSession.createDataFrame(
        probe_rows, f"{query_id_col} BIGINT, __qv ARRAY<BIGINT>, list_id BIGINT"
    )

    cand = assigned.join(F.broadcast(probe_df), "list_id").where(
        F.col("__id") != F.col(query_id_col)
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col("__id").alias("neighbor_id"),
        _cos_qq(F.col("__qv"), F.col("__cv")).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
        .select(query_id_col, "neighbor_id", "cos_sim", "rn")
    )


def knn_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: str = "lowest_id",
    kmeans_iters: int = 5,
) -> DataFrame:
    """IVF top-k search with an UNBOUNDED query side — the shape
    ``knn_bruteforce``'s MAX_QUERY_VECTORS guard points large query sets
    at. Bit-identical output to ``knn_ivf`` with the same parameters
    (same centroids, same quantized scoring, same tie-breaks), but the
    query vectors are never collected to the driver:

      - corpus: one matmul assignment pass → (vector, list_id);
      - queries: the same distributed pass, fanned out to each query's
        ``n_probe`` nearest lists (n_probe rows per query);
      - scoring: a shuffle EQUI-JOIN on list_id, then exact cosine and a
        per-query top-k window.

    Only the (n_lists × dim) centroid matrix touches the driver — bounded
    by configuration, not by data size. Both sides shuffle once on
    list_id and the ranking shuffles on query_id; nothing is broadcast.

    Scale note: list_id has exactly ``n_lists`` distinct values, so
    ``n_lists`` bounds the join's parallelism and small n_lists is a
    deliberate skew. At cluster scale size n_lists ≥ shuffle partitions
    (thousands of lists for a billion-vector corpus — also what recall
    wants); AQE's skew-join split handles residual imbalance.
    """
    if centroids == "kmeans":
        cent_ids, C, cn = kmeans_centroids(
            corpus, n_lists, iters=kmeans_iters, id_col=id_col, vec_col=vec_col
        )
    else:
        cent_ids, C, cn = _centroids(corpus, n_lists, id_col, vec_col)
    assigned = _ivf_assign(corpus, cent_ids, C, cn, id_col, vec_col)

    _nearest_lists = _nearest_lists_fn(C, cn)
    np_eff = min(n_probe, len(cent_ids))
    probe_schema = f"{query_id_col} BIGINT, __qv ARRAY<BIGINT>, list_id BIGINT"

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            Q = _mat(pdf["__qv"])
            lists = cent_ids[_nearest_lists(Q, np_eff)]  # (n, np_eff)
            qids = pdf["__qid"].to_numpy(dtype=np.int64)
            qvs = pdf["__qv"].tolist()
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(qids, np_eff),
                    "__qv": [v for v in qvs for _ in range(np_eff)],
                    "list_id": lists.reshape(-1),
                }
            )

    probes = spread(queries, query_id_col).select(
        F.col(query_id_col).alias("__qid"), quantized(vec_col).alias("__qv")
    ).mapInPandas(probe, probe_schema)

    cand = assigned.join(probes, "list_id").where(
        F.col("__id") != F.col(query_id_col)
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col("__id").alias("neighbor_id"),
        _cos_qq(F.col("__qv"), F.col("__cv")).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
        .select(query_id_col, "neighbor_id", "cos_sim", "rn")
    )


def _plane_weights(num_planes: int, dim: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: component d of plane p has
    integer weight 2*nibble(md5(f"{p}|{d}")[0]) - 15 ∈ {-15..15}, always
    odd (never 0, so a sign never depends on a zero vote). Identical to
    the SQL oracle's conv(substring(md5(...),1,1),16,10)*2-15."""
    w = np.empty((num_planes, dim), dtype=np.int64)
    for p in range(num_planes):
        for d in range(dim):
            nib = int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0], 16)
            w[p, d] = 2 * nib - 15
    return w


def neardup_pairs_bucketed(
    corpus: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicates: bucket by ``num_planes`` sign bits
    (random-hyperplane LSH); verify quantized cosine ≥ threshold only
    within buckets. Recall is bounded by LSH (documented operator
    contract: near-identical vectors land in the same bucket with
    P = (1 - θ/π)^planes); raise recall with multiple tables if needed.

    The sign bits come from one int64 matmul per batch against the
    (planes × dim) weight matrix — exact, so buckets are identical to the
    SQL formulation's."""
    sig_schema = "__id BIGINT, __cv ARRAY<BIGINT>, bucket STRING"
    state: dict[str, np.ndarray] = {}

    def buckets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = _mat(pdf["__cv"])
            if "W" not in state:
                state["W"] = _plane_weights(num_planes, X.shape[1])
            bits = (X @ state["W"].T) >= 0  # exact int64 votes
            labels = [
                "".join("1" if b else "0" for b in row) for row in bits
            ]
            yield pd.DataFrame(
                {"__id": pdf["__id"], "__cv": pdf["__cv"], "bucket": labels}
            )

    # persist: the bucket self-join would otherwise run the matmul twice;
    # released when the RESULT is GC'd, see _release_on_gc
    sig = spread(corpus, id_col).select(
        F.col(id_col).alias("__id"), quantized(vec_col).alias("__cv")
    ).mapInPandas(buckets, sig_schema).persist()
    a = sig.select(F.col("__id").alias("a"), F.col("__cv").alias("__va"), "bucket")
    b = sig.select(F.col("__id").alias("b"), F.col("__cv").alias("__vb"), "bucket")
    out = (
        a.join(b, "bucket")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", _cos_qq(F.col("__va"), F.col("__vb")).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )
    return _release_on_gc(out, sig)


def quantize_int8_error(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization with exact reconstruction-
    error accounting — the storage/bandwidth step a billion-vector ANN
    index takes before anything else (4x smaller vectors, SIMD int8
    dots): code_i = trunc(q_i * 127 / m), recon_i = trunc(code_i * m /
    127) over the µ-unit quantized components, m = max |q_i|.

    Emits per vector: the scale (max_abs_u), the worst and total µ-unit
    reconstruction error — the audit that decides whether int8 is safe
    for a given embedding family, graded exactly (every value is integer
    arithmetic; Spark's `DIV` truncates like the oracle's TRUNC
    division, and intermediate products stay < 2^53 for any µ-unit
    component ≤ ~7e13, far beyond unit-norm embeddings).

    Scale shape: one narrow projection over array columns, all JVM-side
    higher-order functions — no shuffle, no UDF, fuses with the scan."""
    base = df.select(F.col(id_col), quantized(vec_col).alias("__qv")).withColumn(
        "__m",
        F.aggregate(
            F.transform("__qv", lambda x: F.abs(x)),
            F.lit(0).cast("bigint"),
            lambda acc, x: F.greatest(acc, x),
        ),
    )
    err_agg = (
        "aggregate(transform(__qv, x -> abs(x - (x * 127 DIV __m) "
        "* __m DIV 127)), CAST(0 AS BIGINT), (acc, x) -> {fold})"
    )
    zero = F.lit(0).cast("bigint")
    return base.select(
        id_col,
        F.col("__m").alias("max_abs_u"),
        F.when(F.col("__m") == 0, zero)
        .otherwise(F.expr(err_agg.format(fold="greatest(acc, x)")))
        .alias("max_err_u"),
        F.when(F.col("__m") == 0, zero)
        .otherwise(F.expr(err_agg.format(fold="acc + x")))
        .alias("sum_err_u"),
    )


def mutual_knn(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mutual k-NN graph edges: undirected pairs (a, b) where each vector
    is in the OTHER's exact top-k cosine neighbors. The mutuality filter
    is the standard symmetrization for kNN graphs (mutual edges are far
    more likely intra-cluster than asymmetric ones) — the building block
    for kNN-graph clustering and HNSW-style index construction.

    This arm computes directed lists with knn_bruteforce (exact; corpus
    doubles as the query side, so the MAX_QUERY_VECTORS guard bounds it);
    at scale feed knn_bucketed's directed output through the SAME
    mutualization join — an id-keyed self-join on (a=b', b=a'), one
    shuffle over k·n directed edges, never over vectors.

    cos_sim is bitwise symmetric (integer dot; ||a||·||b|| commutes in
    IEEE), so either direction's value may be reported.
    """
    queries = corpus.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias(vec_col)
    )
    nn = knn_bruteforce(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    fwd = nn.select(
        F.col("query_id").alias("a"), F.col("neighbor_id").alias("b"), "cos_sim"
    )
    rev = nn.select(
        F.col("neighbor_id").alias("a"), F.col("query_id").alias("b")
    )
    return (
        fwd.join(rev, ["a", "b"], "left_semi")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "cos_sim")
    )


def knn_graph_triangles(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Triangles of the mutual-kNN graph — the local-density signal on
    top of mutual_knn: a vector in many triangles sits inside a tight
    cluster (triangle count drives clustering-coefficient and community
    detection), one in none is a hub artifact or an outlier.

    Counting uses the oriented-edge trick (every undirected edge is
    stored once as a<b, so each triangle a<b<c is found exactly once):
    join edges (a,b)⋈(b,c) on the middle vertex, then semi-join the
    closing edge (a,c). Two shuffles over the k·n/2-row edge list —
    vectors themselves never join. Returns the (a, b, c) triangle list.

    The edge list feeds three plan legs, but is deliberately NOT
    persisted/checkpointed: the three references compile to identical
    exchanges, so AQE's exchange reuse runs the underlying knn pass once
    within the single action. A persist would additionally pin the
    cached subplan's stock 200-partition shuffle (AQE may not
    re-coalesce cached plans: canChangeCachedPlanOutputPartitioning
    defaults false), and a localCheckpoint adds a materialization
    barrier — single-session A/B showed neither beats the lazy form.
    """
    e = mutual_knn(corpus, k, id_col, vec_col).select("a", "b")
    ab = e.select(F.col("a"), F.col("b"))
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a"), F.col("b").alias("c"))
    return (
        ab.join(bc, "b")
        .join(ac, ["a", "c"], "left_semi")
        .select("a", "b", "c")
    )


def mutual_knn_bucketed(
    corpus: DataFrame,
    k: int = 5,
    n_lists: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "kmeans",
    kmeans_iters: int = 2,
    n_vectors: int | None = None,
) -> DataFrame:
    """Mutual k-NN graph edges on the AT-SCALE feed: ``knn_bucketed``'s
    directed top-k (distributed probe assignment, no query collect, no
    MAX_QUERY_VECTORS bound) through the SAME mutualization join as
    ``mutual_knn`` — the path mutual_knn's docstring points
    billion-vector corpora at, now a first-class operator instead of a
    comment. Mutuality under IVF is approximate on BOTH sides (an edge
    needs each endpoint inside the other's probed lists), which is the
    behavior a production kNN-graph build actually has; recall vs the
    exact graph is what ``similarity_bucketed_recall`` grades.

    Defaults mirror the graded at-scale configuration: Lloyd k-means
    centroids, auto ~sqrt(N) lists. One list_id-keyed equi-join to
    score, one id-keyed semi-join to mutualize — k·n directed edges
    shuffle, vectors never pair. cos_sim is bitwise symmetric, so either
    direction's value is reportable.

    NOTE: ``n_lists=None`` runs an EAGER ``corpus.count()`` action here
    (before the lazy plan) to auto-size the lists — one full scan. At
    cluster scale pass ``n_lists`` (or ``n_vectors``, from which it is
    derived) when the caller already knows the corpus size."""
    if n_lists is not None:
        n = n_lists
    else:
        n = auto_n_lists(n_vectors if n_vectors is not None else corpus.count())
    queries = corpus.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias(vec_col)
    )
    nn = knn_bucketed(
        corpus, queries, k=k, n_lists=n, n_probe=n_probe, id_col=id_col,
        vec_col=vec_col, centroids=centroids, kmeans_iters=kmeans_iters,
    )
    fwd = nn.select(
        F.col("query_id").alias("a"), F.col("neighbor_id").alias("b"), "cos_sim"
    )
    rev = nn.select(
        F.col("neighbor_id").alias("a"), F.col("query_id").alias("b")
    )
    return (
        fwd.join(rev, ["a", "b"], "left_semi")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "cos_sim")
    )


def knn_triangles_bucketed(
    corpus: DataFrame,
    k: int = 5,
    n_lists: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "kmeans",
    kmeans_iters: int = 2,
    n_vectors: int | None = None,
) -> DataFrame:
    """``knn_graph_triangles`` on the bucketed-ANN edge list: the same
    oriented-edge closure (each a<b<c triangle found exactly once) over
    ``mutual_knn_bucketed``'s output — the composition that actually
    runs at cluster scale, where the exact-kNN edge feed is unavailable.
    Two edge-list shuffles; vectors never join. The edge subplans'
    exchanges are identical, so AQE exchange reuse runs the bucketed
    scoring once (the knn_graph_triangles measurement).

    The list count is resolved HERE (one ``corpus.count()`` at most,
    none when ``n_lists``/``n_vectors`` is given) and passed down
    concrete, so the edge build never re-derives it."""
    if n_lists is None:
        n_lists = auto_n_lists(
            n_vectors if n_vectors is not None else corpus.count()
        )
    e = mutual_knn_bucketed(
        corpus, k, n_lists, n_probe, id_col, vec_col, centroids, kmeans_iters
    ).select("a", "b")
    ab = e.select(F.col("a"), F.col("b"))
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a"), F.col("b").alias("c"))
    return (
        ab.join(bc, "b")
        .join(ac, ["a", "c"], "left_semi")
        .select("a", "b", "c")
    )


def knn_label_agreement(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-noise audit over the exact kNN graph: for each vector, how
    many of its k nearest cosine neighbors share its label (and the
    µ-unit fraction). Low agreement flags mislabeled points or
    incoherent classes — the standard embedding-space sanity check run
    before trusting labels for curation/eval. One labels join onto the
    directed edge list; vectors never pair beyond the kNN computation.

    This arm uses knn_bruteforce with the corpus as the query side, so
    it inherits the MAX_QUERY_VECTORS driver-collect bound (the
    mutual_knn contract): above ~100k vectors, feed knn_bucketed's
    directed edges through the same labels join instead."""
    labels = corpus.select(F.col(id_col), F.col(label_col))
    queries = corpus.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias(vec_col)
    )
    nn = knn_bruteforce(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    ql = labels.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("__ql")
    )
    nl = labels.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    return (
        nn.join(ql, "query_id").join(nl, "neighbor_id")
        .groupBy("query_id")
        .agg(
            F.first("__ql").cast("bigint").alias("label"),
            F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
            F.sum(
                F.when(F.col("__nl") == F.col("__ql"), 1).otherwise(0)
            ).cast("bigint").alias("n_same"),
        )
        .withColumn(
            "agree_u",
            F.expr("n_same * 1000000 div n_neighbors").cast("bigint"),
        )
    )


def ivf_list_stats(
    corpus: DataFrame,
    n_lists: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "kmeans",
    kmeans_iters: int = 2,
) -> DataFrame:
    """IVF index HEALTH audit: per-list member counts and µ-unit share
    of the corpus for the same Lloyd/auto-lists assignment the bucketed
    searchers use. Imbalanced lists are the IVF failure mode — a
    mega-list degrades both recall (probes waste budget) and the
    list_id join's reducer balance — so a deployment watches this table
    after every (re)build. One assignment pass + one short-key count."""
    n = n_lists if n_lists is not None else auto_n_lists(corpus.count())
    if centroids == "kmeans":
        cent_ids, C, cn = kmeans_centroids(
            corpus, n, iters=kmeans_iters, id_col=id_col, vec_col=vec_col
        )
    else:
        cent_ids, C, cn = _centroids(corpus, n, id_col, vec_col)
    assigned = _ivf_assign(corpus, cent_ids, C, cn, id_col, vec_col)
    # share from a window over the GROUPED result (~n_lists rows), not a
    # separate count(): an assigned.count() action would execute the
    # whole assignment matmul pass a second time
    return (
        assigned.groupBy(F.col("list_id").cast("bigint").alias("list_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .withColumn(
            "share_u",
            F.expr("n_vecs * 1000000 div (sum(n_vecs) OVER ())")
            .cast("bigint"),
        )
    )


def bitext_margin_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    margin_thr_u: int = 1_050_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Parallel-corpus mining by the ratio-margin criterion (Artetxe &
    Schwenk): a candidate pair (x, y) scores cos(x, y) against the MEAN
    of both endpoints' top-k neighborhoods — absolute cosine thresholds
    fail because "hubs" score high against everything; the margin
    normalizes by how promiscuous each side is. Pairs where each side
    is the other's best-margin candidate and the margin clears the
    threshold are the mined bitext.

    Determinism contract: per-neighbor cosines quantize to exact µ-unit
    integers (floor(cos·1e6) of the bitwise-stable quantized cosine),
    neighborhood sums are integer (order-free), and the margin is
    floor(2k·cos_u·1e6 / (sum_fwd_u + sum_rev_u)) — one double
    division whose floor is provably exact at these magnitudes. The
    mutual-best rule is evaluated within the forward candidate set
    (x's top-k in tgt), ties broken by id.

    Scale shape: the kNN arms here are exact (knn_bruteforce — corpus
    partitions × a collected query matrix); at billion-vector scale
    feed knn_bucketed's directed output through the SAME margin
    pipeline — everything after the kNN arms joins only (id, id,
    cos_u) edges, never vectors."""
    from pyspark.sql import Window

    # src and tgt are INDEPENDENT id spaces (parallel corpora number
    # their sides separately — equal line numbers are often the true
    # aligned pairs), but knn_bruteforce excludes neighbors by bare id
    # equality. Shift the tgt ids into a disjoint range internally
    # (two bounded 1-row aggregates) and shift back on output, so a
    # src/tgt id collision can never silently drop the true pair.
    hi = src.agg(F.max(id_col).alias("h")).collect()[0]["h"]
    lo = tgt.agg(F.min(id_col).alias("l")).collect()[0]["l"]
    shift = (hi - lo + 1) if hi is not None and lo is not None else 0
    tgt = tgt.withColumn(id_col, (F.col(id_col) + F.lit(shift)).cast("long"))

    q_src = src.select(F.col(id_col).alias("query_id"), vec_col)
    q_tgt = tgt.select(F.col(id_col).alias("query_id"), vec_col)
    fwd = knn_bruteforce(tgt, q_src, k=k, id_col=id_col, vec_col=vec_col)
    rev = knn_bruteforce(src, q_tgt, k=k, id_col=id_col, vec_col=vec_col)
    fwd = fwd.select(
        F.col("query_id").alias("src_id"),
        F.col("neighbor_id").alias("tgt_id"),
        "cos_sim",
        F.floor(F.col("cos_sim") * 1_000_000).cast("bigint").alias("cos_u"),
    )
    rev_u = rev.select(
        F.col("query_id").alias("tgt_id"),
        F.floor(F.col("cos_sim") * 1_000_000).cast("bigint").alias("cos_u"),
    )
    sum_fwd = fwd.groupBy("src_id").agg(
        F.sum("cos_u").cast("bigint").alias("sum_fwd_u")
    )
    sum_rev = rev_u.groupBy("tgt_id").agg(
        F.sum("cos_u").cast("bigint").alias("sum_rev_u")
    )
    cand = (
        fwd.join(sum_fwd, "src_id")
        .join(sum_rev, "tgt_id")
        .withColumn("__den", F.col("sum_fwd_u") + F.col("sum_rev_u"))
        # a non-positive neighborhood sum means the pair sits in noise
        # (margin undefined); drop deterministically
        .where(F.col("__den") > 0)
        .withColumn(
            "margin_u",
            F.floor(
                (F.col("cos_u") * F.lit(2 * k) * F.lit(1_000_000))
                .cast("double")
                / F.col("__den")
            ).cast("bigint"),
        )
    )
    w_src = Window.partitionBy("src_id").orderBy(
        F.col("margin_u").desc(), F.col("tgt_id")
    )
    w_tgt = Window.partitionBy("tgt_id").orderBy(
        F.col("margin_u").desc(), F.col("src_id")
    )
    ranked = cand.withColumn("__rs", F.row_number().over(w_src)).withColumn(
        "__rt", F.row_number().over(w_tgt)
    )
    return ranked.where(
        (F.col("__rs") == 1)
        & (F.col("__rt") == 1)
        & (F.col("margin_u") >= F.lit(int(margin_thr_u)))
    ).select(
        "src_id",
        (F.col("tgt_id") - F.lit(shift)).cast("long").alias("tgt_id"),
        "cos_sim",
        "margin_u",
    )


def triplet_mine(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative triplet mining for embedding-model training: for
    each anchor, the highest-cosine SAME-label neighbor in its top-k is
    the positive and the highest-cosine DIFFERENT-label neighbor the
    hard negative (the informative kind — a random negative is too easy
    to carry gradient). Anchors whose top-k contains no positive or no
    negative are dropped (documented: widen k rather than emit a
    degenerate triplet). margin_u = floor((cos_pos − cos_neg)·1e6) —
    exact from the bitwise-stable quantized cosines, negative when the
    nearest wrong-label vector outranks every right-label one (the
    anchors a training run learns the most from).

    Scale shape: one kNN pass (exact here; knn_bucketed's directed
    output slots in unchanged), then label joins and two per-anchor
    top-1 windows over k·|anchors| edge rows — vectors never join."""
    from pyspark.sql import Window

    labels = corpus.select(
        F.col(id_col).alias("__nid"), F.col(label_col).alias("__nlabel")
    )
    a_labels = corpus.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("__alabel"),
    )
    q = anchors.select(F.col(id_col).alias("query_id"), vec_col)
    nn = knn_bruteforce(corpus, q, k=k, id_col=id_col, vec_col=vec_col)
    edges = (
        nn.select(
            F.col("query_id").alias("anchor_id"),
            F.col("neighbor_id").alias("__nid"),
            "cos_sim",
        )
        .join(labels, "__nid")
        .join(a_labels, "anchor_id")
    )
    w = Window.partitionBy("anchor_id", F.col("__nlabel") == F.col("__alabel")).orderBy(
        F.col("cos_sim").desc(), F.col("__nid")
    )
    best = edges.withColumn("__rk", F.row_number().over(w)).where(
        F.col("__rk") == 1
    )
    pos = best.where(F.col("__nlabel") == F.col("__alabel")).select(
        "anchor_id",
        F.col("__nid").alias("positive_id"),
        F.col("cos_sim").alias("cos_pos"),
    )
    neg = best.where(F.col("__nlabel") != F.col("__alabel")).select(
        "anchor_id",
        F.col("__nid").alias("negative_id"),
        F.col("cos_sim").alias("cos_neg"),
    )
    return (
        pos.join(neg, "anchor_id")
        .select(
            "anchor_id",
            "positive_id",
            "negative_id",
            "cos_pos",
            "cos_neg",
            F.floor((F.col("cos_pos") - F.col("cos_neg")) * 1_000_000)
            .cast("bigint")
            .alias("margin_u"),
        )
    )


# ---------------- product quantization (PQ) — memory-scale ANN path
#
# IVF shrinks the SEARCH (fewer candidates per probe); PQ shrinks the
# VECTORS (m one-byte codes replace dim floats — 64-dim float32 -> 8
# bytes, 32x), which is what lets a billion-vector index live in
# executor memory at 100 TB corpus scale. Asymmetric distance (ADC):
# queries stay exact, documents are approximated by their per-subspace
# codewords, so distance is a sum of m precomputed lookup-table hits.
# All distances here are EXACT int64 squared-L2 over µ-unit quantized
# components — zero float ops anywhere, so Spark and the SQL oracle
# agree bit-for-bit and ties break (d2 asc, code asc) identically.


def _l2q(a: Column, b: Column) -> Column:
    """Exact integer squared L2 between two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _l2q_n(a: Column, b: Column, n: int) -> Column:
    """``_l2q`` with a STATICALLY KNOWN length: the fold unrolls into a
    flat sum of ``n`` scalar squared-difference terms, which whole-stage
    codegen compiles (the zip_with/aggregate HOF form is interpreted per
    element — measured 2.3x slower on the PQ Lloyd join at sf0.1).
    Identical exact int64 arithmetic, identical overflow semantics; both
    inputs must have exactly ``n`` elements (every PQ/IVF vector does by
    construction — subvectors are fixed dsub slices, centroids are means
    of those)."""
    def term(i: int) -> Column:
        d = F.element_at(a, i) - F.element_at(b, i)
        return d * d

    out = term(1)
    for i in range(2, n + 1):
        out = out + term(i)
    return out.cast("long")


def _np_rows(col) -> np.ndarray:
    """(n, width) int64 matrix from an Arrow list<int64> column — one
    flatten (offset-aware) + reshape, zero row loops. Width is fixed by
    construction for every quantized-vector column in this module."""
    values = np.asarray(col.flatten(), dtype=np.int64)
    return values.reshape(len(col), -1)


def _lloyd_chunk(ksub: int, dsub: int) -> int:
    """Row-chunk size keeping the (rows, ksub, dsub) int64 distance
    tensor near 8 MB so per-task memory stays flat at any batch size."""
    return max(256, 1_000_000 // max(ksub * dsub, 1))


def _argmin_codes(X: np.ndarray, cw: np.ndarray) -> np.ndarray:
    """Row-wise nearest-codeword index by EXACT int64 squared L2 with
    the (d2 asc, code asc) tie-break — ``np.argmin`` returns the FIRST
    minimum and codewords are ordered by code, so ties go to the lowest
    code, exactly the ``min(struct(d2, code))`` ordering the join form
    used. Chunked so the (rows, ksub, dsub) diff tensor stays bounded."""
    n = X.shape[0]
    ksub, dsub = cw.shape
    out = np.empty(n, dtype=np.int64)
    step = _lloyd_chunk(ksub, dsub)
    for lo in range(0, n, step):
        hi = min(lo + step, n)
        diff = X[lo:hi, None, :] - cw[None, :, :]
        d2 = np.einsum("nkd,nkd->nk", diff, diff)
        out[lo:hi] = d2.argmin(axis=1)
    return out


def _lloyd_stats_rows(qv_df: DataFrame, C_arr: np.ndarray) -> list:
    """One distributed Lloyd round fused into a single Arrow pass: per
    batch, assign every subvector to its nearest codeword (exact int64,
    ties code asc) and emit PARTIAL per-(sub, code, dim) integer sums
    and counts — m*ksub*dsub rows per batch instead of the n*m
    assignment rows the join+shuffle form produced. The tiny final
    aggregate combines partials (integer addition — associative, so
    results are partitioning-independent) and collects to the driver.

    Replaces the broadcast-join + corpus-wide ``groupBy(id, sub)``
    min-struct shuffle per round (guide §2.3/§2.4: the shuffle carried
    every subvector; nothing downstream needed per-id rows) with
    vectorized native batch work (guide §4.2). Arithmetic and
    tie-breaks are exactly the join form's — same codebook, bit for
    bit."""
    import pyarrow as pa

    m, ksub, dsub = C_arr.shape
    out_schema = "sub bigint, code bigint, d bigint, s bigint, n bigint"

    def stats_fn(batches):
        for batch in batches:
            col = batch.column(0)
            n_rows = len(col)
            if n_rows == 0:
                continue
            X = _np_rows(col)
            subs = []
            codes = []
            ds = []
            sums_out = []
            ns = []
            for s in range(m):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                code = _argmin_codes(Xs, C_arr[s])
                sums = np.zeros((ksub, dsub), dtype=np.int64)
                np.add.at(sums, code, Xs)
                counts = np.bincount(code, minlength=ksub)
                nz = np.flatnonzero(counts)
                subs.append(np.full(nz.size * dsub, s, dtype=np.int64))
                codes.append(np.repeat(nz.astype(np.int64), dsub))
                ds.append(np.tile(np.arange(dsub, dtype=np.int64), nz.size))
                sums_out.append(sums[nz].reshape(-1))
                ns.append(np.repeat(counts[nz].astype(np.int64), dsub))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(subs)),
                    pa.array(np.concatenate(codes)),
                    pa.array(np.concatenate(ds)),
                    pa.array(np.concatenate(sums_out)),
                    pa.array(np.concatenate(ns)),
                ],
                names=["sub", "code", "d", "s", "n"],
            )

    return (
        qv_df.mapInArrow(stats_fn, out_schema)
        .groupBy("sub", "code", "d")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )


def _pq_subvectors(
    df: DataFrame, keep: list[str], qv_col: str, m: int, dsub: int
) -> DataFrame:
    """Explode a quantized vector into (sub, sv) subvector rows."""
    slices = F.array(
        *[F.slice(F.col(qv_col), s * dsub + 1, dsub) for s in range(m)]
    )
    return df.select(
        *keep, F.posexplode(slices).alias("sub", "sv")
    ).withColumn("sub", F.col("sub").cast("bigint"))


def _vec_quantized(vec_col: str, pre_quantized: bool) -> Column:
    """The µ-unit view of a vector column: quantize floats, or pass an
    already-quantized array<bigint> through (residual vectors from the
    IVFADC composition are integer differences of quantized vectors —
    re-quantizing would scale them by another 1e6)."""
    return F.col(vec_col) if pre_quantized else quantized(vec_col)


def pq_codebook(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_quantized: bool = False,
) -> DataFrame:
    """(sub, code, cw) PQ codebook: seeds are the ``ksub`` lowest-id
    corpus vectors' subvectors (the ``_centroids`` deterministic
    seeding contract), refined by ``iters`` per-subspace Lloyd rounds
    with the ``kmeans_centroids`` exactness discipline — assignment by
    exact int64 squared L2 with (d2 asc, code asc) tie-break, recenter
    by per-(sub, code, dim) EXACT integer sums and Python floor-
    division means, empty or all-zero codes keep the previous
    codeword. Determinism is partitioning-independent end to end.

    Physical shape per round: ONE Arrow pass over the quantized
    vectors (vectorized exact-int64 argmin + per-batch partial
    per-(sub, code, dim) sums — ``_lloyd_stats_rows``) feeding an
    m*ksub*dsub integer-sum aggregate that collects to the driver
    (1k rows at the defaults). No corpus-sized shuffle per round: the
    join form would shuffle every (vec_id, sub, sv) row per iteration
    to compute an argmin nothing downstream needed per id. The
    returned codebook is m*ksub literal rows — broadcast scale at any
    corpus size."""
    spark = corpus.sparkSession
    seed_rows = (
        corpus.select(
            F.col(id_col),
            _vec_quantized(vec_col, pre_quantized).alias("__qv"),
        )
        .orderBy(id_col)
        .limit(ksub)
        .collect()
    )
    # misconfiguration fails loudly: a non-divisible dim
    # would silently exclude the trailing dim - m*dsub components from
    # every code and every distance; an undersized corpus would seed a
    # degenerate codebook (or IndexError on empty).
    if len(seed_rows) < ksub:
        raise ValueError(
            f"pq_codebook: corpus has {len(seed_rows)} vectors, "
            f"need >= ksub={ksub} for codebook seeding"
        )
    dim = len(seed_rows[0]["__qv"])
    if dim % m != 0:
        raise ValueError(
            f"pq_codebook: dim={dim} is not divisible by m={m} — the "
            f"trailing {dim % m} components would be silently dropped "
            "from codes and distances"
        )
    dsub = dim // m
    C = {
        (s, c): np.array(
            list(r["__qv"][s * dsub : (s + 1) * dsub]), dtype=np.int64
        )
        for c, r in enumerate(seed_rows)
        for s in range(m)
    }

    def _cb_df():
        return spark.createDataFrame(
            [
                (int(s), int(c), [int(x) for x in cw])
                for (s, c), cw in sorted(C.items())
            ],
            "sub bigint, code bigint, cw array<bigint>",
        )

    # only the vector column crosses the Arrow boundary (guide §4.1)
    qv_df = corpus.select(
        _vec_quantized(vec_col, pre_quantized).alias("__qv")
    )
    for _ in range(iters):
        C_arr = np.stack(
            [C[(s, c)] for s in range(m) for c in range(ksub)]
        ).reshape(m, ksub, dsub)
        stats = _lloyd_stats_rows(qv_df, C_arr)
        per_code: dict[tuple, list] = {}
        for r in stats:
            per_code.setdefault((int(r["sub"]), int(r["code"])), []).append(r)
        for key, rows in per_code.items():
            rows.sort(key=lambda r: r["d"])
            n = int(rows[0]["n"])
            vec = np.array(
                [int(r["s"]) // n for r in rows], dtype=np.int64
            )
            if np.any(vec):  # all-zero mean would collapse the codeword
                C[key] = vec
    return _cb_df()


def pq_codes(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_quantized: bool = False,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Encode the corpus: (vec_id[, *carry], sub, code) — each
    subvector maps to its nearest codeword by exact integer L2, ties
    (d2 asc, code asc). One Arrow pass (vectorized int64 argmin per
    subspace — guide §4.2); nothing corpus-sized shuffles or joins.
    The codebook is m*ksub literal rows by contract (``pq_codebook``'s
    output) — it is pulled to the driver and closed over, replacing
    the broadcast join + (vec_id, sub) min-struct shuffle a join form
    pays per encode. ``carry`` columns pass through unchanged (lets
    ``ivfpq_index`` keep list_id on the code rows without a
    corpus-sized re-join on vec_id)."""
    import pyarrow as pa

    cb_rows = codebook.collect()
    ksub = max(int(r["code"]) for r in cb_rows) + 1
    if len(cb_rows) != m * ksub:
        raise ValueError(
            f"pq_codes: codebook has {len(cb_rows)} rows, expected "
            f"m*ksub = {m}*{ksub} (every (sub, code) pair exactly once)"
        )
    C_arr = np.zeros((m, ksub, dsub), dtype=np.int64)
    for r in cb_rows:
        C_arr[int(r["sub"]), int(r["code"])] = np.array(
            list(r["cw"]), dtype=np.int64
        )
    id_type = corpus.schema[id_col].dataType.simpleString()
    carry_types = [
        (c, corpus.schema[c].dataType.simpleString()) for c in carry
    ]
    out_schema = ", ".join(
        [f"{id_col} {id_type}"]
        + [f"{c} {t}" for c, t in carry_types]
        + ["sub bigint", "code bigint"]
    )

    def encode_fn(batches):
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            X = _np_rows(batch.column(batch.num_columns - 1))
            code_mat = np.empty((n_rows, m), dtype=np.int64)
            for s in range(m):
                code_mat[:, s] = _argmin_codes(
                    X[:, s * dsub : (s + 1) * dsub], C_arr[s]
                )
            take = pa.array(np.repeat(np.arange(n_rows), m))
            cols = [batch.column(i).take(take) for i in range(len(carry) + 1)]
            cols.append(pa.array(np.tile(np.arange(m, dtype=np.int64), n_rows)))
            cols.append(pa.array(code_mat.reshape(-1)))
            yield pa.RecordBatch.from_arrays(
                cols, names=[id_col, *carry, "sub", "code"]
            )

    src = corpus.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        _vec_quantized(vec_col, pre_quantized).alias("__qv"),
    )
    return src.mapInArrow(encode_fn, out_schema)


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
) -> DataFrame:
    """PQ top-k ANN via asymmetric distance: (query_id, neighbor_id,
    adc, rn). The per-query LUT (m x ksub exact integer d2 entries
    per query) broadcasts onto the corpus codes, so the scan side
    touches only (vec_id, sub, code) rows — the 32x-compressed index,
    never the vectors. Ties (adc asc, neighbor asc).

    Query-id contract: ``qid_col`` values must be the CORPUS vec_id of
    each query vector (queries drawn from the corpus, the fixture
    shape) — self-matches are excluded by comparing neighbor ids
    against query ids, so a disjoint query-id space that happens to
    collide with corpus ids would silently drop an unrelated neighbor
    """
    from pyspark.sql import Window

    dim = len(corpus.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(
            f"knn_pq: dim={dim} is not divisible by m={m}"
        )
    dsub = dim // m
    cb = pq_codebook(corpus, m, ksub, iters, id_col, vec_col)
    codes = pq_codes(corpus, cb, m, dsub, id_col, vec_col)
    qsub = _pq_subvectors(
        queries.select(F.col(qid_col), quantized(vec_col).alias("__qv")),
        [qid_col],
        "__qv",
        m,
        dsub,
    )
    lut = qsub.join(F.broadcast(cb), "sub").select(
        qid_col, "sub", "code",
        _l2q_n(F.col("sv"), F.col("cw"), dsub).alias("qd2"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(qid_col, id_col)
        .agg(F.sum("qd2").alias("adc"))
        .where(F.col(id_col) != F.col(qid_col))
    )
    w = Window.partitionBy(qid_col).orderBy(F.asc("adc"), F.asc(id_col))
    return adc.select(
        qid_col,
        F.col(id_col).alias("neighbor_id"),
        "adc",
        F.row_number().over(w).cast("bigint").alias("rn"),
    ).where(F.col("rn") <= k)


# -------------------- IVF+PQ composition (IVFADC — Jégou et al. 2011)
#
# The billion-vector ANN shape the flat knn_pq scan is missing: a
# COARSE quantizer (IVF lists) prunes which codes each query even
# looks at, and PQ encodes each vector's RESIDUAL (vector minus its
# list centroid) — residuals are smaller in magnitude than raw
# vectors, so the same m×ksub code budget quantizes them more finely.
# Search probes the n_probe nearest lists and ADC-scans only member
# codes: at n_lists=1024/n_probe=8 that is <1% of the index, and the
# index itself is the 32x-compressed code table. Everything is exact
# int64 arithmetic over µ-unit quantized components (the knn_pq
# discipline), so SQL oracles reproduce results bit-for-bit.


class IvfPqIndex:
    """The three frames an IVFADC search needs. ``cent`` (list_id,
    cvec) and ``codebook`` (sub, code, cw) are literal-row broadcast
    frames at any corpus size; ``codes`` (vec_id, list_id, sub, code)
    is the compressed index — the only corpus-sized thing, m bytes of
    code identity per vector; ``assigned`` (vec_id, list_id) is the
    membership map (kept for scanned-candidate accounting). ``dim``
    and ``dsub`` are recorded at build time so search calls never pay
    a Spark action just to re-learn geometry."""

    def __init__(self, cent, codebook, assigned, codes, dim, dsub):
        self.cent = cent
        self.codebook = codebook
        self.assigned = assigned
        self.codes = codes
        self.dim = dim
        self.dsub = dsub


def _coarse_centroids(
    corpus: DataFrame, n_lists: int, id_col: str, vec_col: str
) -> DataFrame:
    """Deterministic coarse quantizer: the ``n_lists`` lowest-id corpus
    vectors, quantized, labeled list_id 0.. in id order (the
    ``_centroids`` seeding contract — swapping in ``kmeans_centroids``
    changes only this function). n_lists literal rows — broadcast
    scale."""
    rows = (
        corpus.select(F.col(id_col), quantized(vec_col).alias("__qv"))
        .orderBy(id_col)
        .limit(n_lists)
        .collect()
    )
    if len(rows) < n_lists:
        raise ValueError(
            f"ivfpq_index: corpus has {len(rows)} vectors, need >= "
            f"n_lists={n_lists} for coarse seeding"
        )
    return corpus.sparkSession.createDataFrame(
        [(i, [int(x) for x in r["__qv"]]) for i, r in enumerate(rows)],
        "list_id bigint, cvec array<bigint>",
    )


def ivfpq_index(
    corpus: DataFrame,
    n_lists: int = 8,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: str = "kmeans",
    coarse_iters: int = 2,
) -> IvfPqIndex:
    """Build the IVFADC index: coarse-assign every vector to its
    nearest list by EXACT int64 squared L2 (ties d2 asc, list_id asc —
    integer throughout, unlike knn_ivf's float-cosine assignment, so
    the oracle needs no float reasoning), subtract the list centroid,
    and PQ-train/encode the RESIDUALS with the existing
    ``pq_codebook``/``pq_codes`` machinery (one shared codebook across
    lists, the classic IVFADC layout).

    ``coarse="kmeans"`` (default) trains the coarse quantizer as a
    full-width integer Lloyd run — literally ``pq_codebook`` with
    m=1 subspace and ksub=n_lists codes, so the coarse and fine
    quantizers share one exactness discipline and one oracle unroll.
    Density-following lists more than double pruned-recall over
    lowest-id seeding (geometry sweep, SCALE.md);
    ``coarse="lowest_id"`` keeps the seeded placement for A/B.

    Plan shape: coarse assignment + residual subtraction fuse into ONE
    Arrow pass over the corpus (vectorized exact-int64 argmin, the
    ``_ivf_assign`` matmul shape — no join, no corpus shuffle; a join
    form would shuffle every (vec_id, d2, list_id, __qv) row through a
    min-struct aggregate); training/encoding is pq_codebook's
    bounded-collect Lloyd loop, and the encode CARRIES list_id through
    the Arrow pass instead of re-joining the corpus-sized codes frame
    to the assignment on vec_id. The residual leg is persisted for the
    duration of codebook training (it feeds every Lloyd round and the
    encode) and released when the codes frame is GC'd."""
    qcorp = corpus.select(
        F.col(id_col), quantized(vec_col).alias("__qv")
    )
    if coarse == "kmeans":
        ccb = pq_codebook(
            qcorp, m=1, ksub=n_lists, iters=coarse_iters,
            id_col=id_col, vec_col="__qv", pre_quantized=True,
        )
        cent = ccb.select(
            F.col("code").alias("list_id"), F.col("cw").alias("cvec")
        )
    elif coarse == "lowest_id":
        cent = _coarse_centroids(corpus, n_lists, id_col, vec_col)
    else:
        # loud misconfiguration (the robots_filter scope contract): a
        # typo'd coarse mode silently falling back to lowest-id seeding
        # would roughly halve pruned recall per the geometry sweep
        raise ValueError(
            f"ivfpq_index: coarse must be 'kmeans' or 'lowest_id', "
            f"got {coarse!r}"
        )
    # centroids pulled to the driver (n_lists literal rows by
    # construction — both coarse modes build ``cent`` from a local
    # relation) so assignment + residual run as one vectorized pass
    import pyarrow as pa

    cent_rows = sorted(cent.collect(), key=lambda r: int(r["list_id"]))
    if [int(r["list_id"]) for r in cent_rows] != list(range(len(cent_rows))):
        raise ValueError(
            "ivfpq_index: coarse list_ids must be contiguous 0..n-1 "
            f"(got {[int(r['list_id']) for r in cent_rows]})"
        )
    C0 = np.array([list(r["cvec"]) for r in cent_rows], dtype=np.int64)
    dim = C0.shape[1]
    if dim % m != 0:
        raise ValueError(f"ivfpq_index: dim={dim} not divisible by m={m}")

    def assign_res_fn(batches):
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            X = _np_rows(batch.column(1))
            lid = _argmin_codes(X, C0)
            RV = X - C0[lid]
            offsets = np.arange(0, (n_rows + 1) * dim, dim, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(lid),
                    pa.ListArray.from_arrays(
                        pa.array(offsets, type=pa.int32()),
                        pa.array(RV.reshape(-1)),
                    ),
                ],
                names=[id_col, "list_id", "__rv"],
            )

    id_type = qcorp.schema[id_col].dataType.simpleString()
    res = qcorp.mapInArrow(
        assign_res_fn,
        f"{id_col} {id_type}, list_id bigint, __rv array<bigint>",
    ).persist()
    cb = pq_codebook(
        res, m, ksub, iters, id_col=id_col, vec_col="__rv",
        pre_quantized=True,
    )
    codes = pq_codes(
        res, cb, m, dim // m, id_col=id_col, vec_col="__rv",
        pre_quantized=True, carry=("list_id",),
    ).select(id_col, "list_id", "sub", "code")
    membership = res.select(id_col, "list_id")
    return IvfPqIndex(
        cent,
        cb,
        _release_on_gc(membership, res),
        _release_on_gc(codes, res),
        dim,
        dim // m,
    )


def ivfpq_probes(
    queries: DataFrame,
    cent: DataFrame,
    n_probe: int = 2,
    qid_col: str = "query_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(query_id, list_id, __qres): each query's ``n_probe`` nearest
    lists by exact int64 d2 (ties d2 asc, list_id asc) with the
    query's residual AGAINST THAT LIST's centroid — ADC distances in a
    probed list must be taken in that list's residual frame.

    Pass ``dim`` (``IvfPqIndex.dim``) so the distance fold unrolls into
    codegen-able scalar terms; without it the interpreted HOF fold runs
    (same exact arithmetic either way)."""
    qq = queries.select(F.col(qid_col), quantized(vec_col).alias("__qv"))
    d2 = (
        _l2q_n(F.col("__qv"), F.col("cvec"), dim)
        if dim is not None
        else _l2q(F.col("__qv"), F.col("cvec"))
    )
    cand = qq.join(F.broadcast(cent), how="cross").select(
        qid_col,
        "__qv",
        "list_id",
        "cvec",
        d2.alias("d2"),
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.asc("d2"), F.asc("list_id")
    )
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= n_probe)
        .select(
            qid_col,
            "list_id",
            F.zip_with("__qv", "cvec", lambda x, c: x - c).alias("__qres"),
        )
    )


def ivfpq_adc_topk(
    index: IvfPqIndex,
    probes: DataFrame,
    k: int = 5,
    m: int = 8,
    qid_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over the probed lists only: the per-(query, list) LUT
    (m × ksub exact integer d2 entries) broadcasts onto the code
    table; the (list_id, sub, code) join key means codes in unprobed
    lists never leave the scan — list pruning happens in the join, and
    with the code table PARTITIONED BY list_id on disk it becomes
    partition pruning. Ties (adc asc, neighbor asc).

    Query-id contract: as ``knn_pq`` — query ids must be corpus
    vec_ids (self-matches excluded by id equality)."""
    lut = _pq_subvectors(
        probes, [qid_col, "list_id"], "__qres", m, index.dsub
    ).join(F.broadcast(index.codebook), "sub").select(
        qid_col,
        "list_id",
        "sub",
        "code",
        _l2q_n(F.col("sv"), F.col("cw"), index.dsub).alias("qd2"),
    )
    adc = (
        index.codes.join(F.broadcast(lut), ["list_id", "sub", "code"])
        .groupBy(qid_col, id_col)
        .agg(F.sum("qd2").alias("adc"))
        .where(F.col(id_col) != F.col(qid_col))
    )
    w = Window.partitionBy(qid_col).orderBy(F.asc("adc"), F.asc(id_col))
    return adc.select(
        qid_col,
        F.col(id_col).alias("neighbor_id"),
        "adc",
        F.row_number().over(w).cast("bigint").alias("rn"),
    ).where(F.col("rn") <= k)


def ivfpq_rerank(
    index: IvfPqIndex,
    probes: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 32,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
) -> DataFrame:
    """IVFADC + exact rerank (the standard recall recovery): take the
    ADC top-``rerank`` candidates per query, fetch THOSE vectors'
    exact quantized form, and re-rank by exact int64 squared L2 —
    PQ's quantization error decides only which candidates make the
    shortlist, never their final order. Returns (query_id,
    neighbor_id, d2, rn), ties (d2 asc, neighbor asc).

    Scale shape: the shortlist is nq x rerank ids — it BROADCASTS
    onto the corpus scan (the 'fetch R vectors by id' step; on a
    row-group-indexed store this is a point-lookup read, the same
    pattern as warc_record_fetch), so the only corpus-sized work is
    one semi-join-shaped scan. Raw vectors never shuffle."""
    cand = ivfpq_adc_topk(
        index, probes, k=rerank, m=m, qid_col=qid_col, id_col=id_col
    ).select(qid_col, "neighbor_id")
    qv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        quantized(vec_col).alias("__cv"),
    )
    qq = queries.select(F.col(qid_col), quantized(vec_col).alias("__qv"))
    scored = (
        qv.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qq), qid_col)
        .select(
            qid_col,
            "neighbor_id",
            _l2q_n(F.col("__cv"), F.col("__qv"), index.dim).alias("d2"),
        )
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    return scored.select(
        qid_col,
        "neighbor_id",
        "d2",
        F.row_number().over(w).cast("bigint").alias("rn"),
    ).where(F.col("rn") <= k)
