"""Driver-facing queries for the dedup / similarity / text operators, each
paired with a DuckDB oracle that reproduces the operator bit-for-bit
(md5-derived sketches + µ-unit quantized float math make even MinHash/
SimHash/LSH differential-testable)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators import dedup, similarity, text
from gcp_etl_pipeline_spark.operators.parallel import spread_scan
from gcp_etl_pipeline_spark.queries_relational import ensure_views
from gcp_etl_pipeline_spark.registry import register
from gcp_etl_pipeline_spark.sources.files import read_parquet
from gcp_etl_pipeline_spark.session import scratch_dir

# Shared DuckDB CTEs: tokens and 3-gram shingles over documents
def _tok_cte(cols: str = "doc_id, text") -> str:
    """The ONE tokenizer definition every text oracle shares — a regex
    tweak here must stay the single source of truth (the Spark twin is
    operators/text.py:tokens)."""
    return f"""
tok AS (
  SELECT {cols},
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS toks
  FROM documents
)
"""


_TOK_CTE = _tok_cte()
_SH_CTE = """
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> array_to_string(toks[i:i+2], ' '))) AS shingle
  FROM tok WHERE len(toks) >= 3
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread here: every heavy consumer goes through the dedup
    # operators' internal Arrow-stage spread (shingle_arrays etc.), and
    # the iterative consumers (BPE) re-execute this subtree per round —
    # an exchange here is pure per-round overhead (A/B: bpe_k8 3.0->3.9s)
    return read_parquet(spark, f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the similarity operators run their distance folds in the
    # scan stage (no internal spread), and a test-SF fixture file is ONE
    # split — single-core without the guard; no-op at real scale
    # (operators/parallel.py)
    return spread_scan(
        read_parquet(spark, f"{sf_dir}/embeddings.parquet"),
        f"{sf_dir}/embeddings.parquet",
        "vec_id",
    )


# ------------------------------------------------------------- text stats

def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_features(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "n_chars_obs", "avg_token_len",
        "alpha_ratio", "uniq_token_ratio",
    )


register(
    "text_quality_stats",
    _q_text_stats,
    f"""
    WITH {_TOK_CTE}
    SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_tokens,
      CAST(length(text) AS BIGINT) AS n_chars_obs,
      CASE WHEN len(toks) > 0 THEN
        CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
      ELSE 0.0 END AS avg_token_len,
      CASE WHEN length(text) > 0 THEN
        CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
          / length(text)
      ELSE 0.0 END AS alpha_ratio,
      CASE WHEN len(toks) > 0 THEN
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
      ELSE 0.0 END AS uniq_token_ratio
    FROM tok
    """,
)


# ---------------------------------------------------------------- lang id

def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .select(text.lang_id("text").alias("lang_detected"))
        .groupBy("lang_detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_ctes() -> str:
    """CTE chain (appended after tok) ending in ``langd(doc_id, lang_det)``
    — the per-doc DuckDB twin of text.lang_id's strictly-greater fold."""
    codes = sorted(text.LANG_MARKERS)  # fold order must match lang_id()
    hit_cols = ", ".join(
        "len(list_filter(toks, t -> t IN ({}))) AS h_{}".format(
            ", ".join(f"'{w}'" for w in text.LANG_MARKERS[c]), c
        )
        for c in codes
    )
    # sequential fold: winner replaced only on strictly-greater hits
    steps, prev_h, prev_c = [], f"h_{codes[0]}", f"'{codes[0]}'"
    for i, c in enumerate(codes[1:], 1):
        steps.append(
            f"w{i} AS (SELECT *, CASE WHEN h_{c} > {prev_h} THEN h_{c} ELSE {prev_h} END AS bh{i}, "
            f"CASE WHEN h_{c} > {prev_h} THEN '{c}' ELSE {prev_c} END AS bc{i} "
            f"FROM {'hits' if i == 1 else f'w{i-1}'})"
        )
        prev_h, prev_c = f"bh{i}", f"bc{i}"
    n = len(codes) - 1
    return (
        f"hits AS (SELECT doc_id, {hit_cols} FROM tok),\n"
        + ",\n".join(steps)
        + f",\nlangd AS (SELECT doc_id, CASE WHEN bh{n} > 0 THEN bc{n} "
        f"ELSE 'und' END AS lang_det FROM w{n})"
    )


def _lang_oracle() -> str:
    return f"""
    WITH {_TOK_CTE}, {_lang_ctes()}
    SELECT lang_det AS lang_detected, COUNT(*) AS n_docs
    FROM langd GROUP BY 1
    """


register("text_lang_id", _q_lang_id, _lang_oracle())


# BPE-ish regex token counting (GPT-2-style pre-tokenizer shape: leading-
# space word/number/punct runs). Same RE2-safe pattern both engines —
# verified char-identical between Java regex and DuckDB RE2.
_BPE_PAT = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\r\n]+|[ \t\r\n]+"
_WS_PAT = "[ \t\r\n]+"


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    all_m = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    ws_m = F.regexp_extract_all("text", F.lit(_WS_PAT), 0)
    return docs.select(
        "doc_id",
        text.token_count("text").cast("bigint").alias("n_ws_tokens"),
        (F.size(all_m) - F.size(ws_m)).cast("bigint").alias("n_bpe_tokens"),
    )


register(
    "text_token_counts",
    _q_token_counts,
    f"""
    WITH {_TOK_CTE}
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_PAT}', 0))
              - len(regexp_extract_all(text, '{_WS_PAT}', 0)) AS BIGINT)
             AS n_bpe_tokens
    FROM tok
    """,
)


# ------------------------------------------------------------ exact dedup

_FP = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "source", "n_chars"
    )


register(
    "dedup_exact",
    _q_dedup_exact,
    f"""
    WITH fp AS (SELECT doc_id, lang, source, n_chars, {_FP} AS f FROM documents),
    keep AS (SELECT f, MIN(doc_id) AS doc_id FROM fp GROUP BY f)
    SELECT fp.doc_id, fp.lang, fp.source, fp.n_chars
    FROM fp JOIN keep ON fp.doc_id = keep.doc_id AND fp.f = keep.f
    """,
)


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run ledger dedup: increment 1 (even doc_ids) seeds the
    fingerprint store, increment 2 (odd doc_ids) dedups against it —
    accepted rows of BOTH batches returned with their batch tag. The
    oracle recomputes both increments' accept sets from scratch, so a
    leaked fingerprint (store append missing a row) or an over-drop
    (anti-join matching too much) breaks the hash."""
    store = scratch_dir("fpledger") + "/fp"
    docs = _docs(spark, sf_dir)
    acc1 = dedup.dedup_incremental(docs.where("doc_id % 2 = 0"), store)
    acc2 = dedup.dedup_incremental(docs.where("doc_id % 2 = 1"), store)

    def tag(df: DataFrame, n: int) -> DataFrame:
        return df.select(
            F.lit(n).cast("int").alias("batch"), "doc_id", "lang", "n_chars"
        )

    return tag(acc1, 1).unionByName(tag(acc2, 2))


register(
    "dedup_incremental_ledger",
    _q_dedup_incremental,
    f"""
    WITH fp AS (SELECT doc_id, lang, n_chars, {_FP} AS f FROM documents),
    a AS (SELECT * FROM fp WHERE doc_id % 2 = 0),
    b AS (SELECT * FROM fp WHERE doc_id % 2 = 1),
    akeep AS (SELECT f, MIN(doc_id) AS doc_id FROM a GROUP BY f),
    arows AS (SELECT a.doc_id, a.lang, a.n_chars, a.f
              FROM a JOIN akeep ON a.doc_id = akeep.doc_id AND a.f = akeep.f),
    bkeep AS (SELECT f, MIN(doc_id) AS doc_id FROM b GROUP BY f),
    brows AS (SELECT b.doc_id, b.lang, b.n_chars, b.f
              FROM b JOIN bkeep ON b.doc_id = bkeep.doc_id AND b.f = bkeep.f),
    bacc AS (SELECT * FROM brows WHERE f NOT IN (SELECT f FROM arows))
    SELECT CAST(1 AS INT) AS batch, doc_id, lang, n_chars FROM arows
    UNION ALL
    SELECT CAST(2 AS INT), doc_id, lang, n_chars FROM bacc
    """,
)


def _q_dedup_ledger_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger LIFECYCLE end-to-end: increments 1+2 run attempt-scoped
    (the replay-idempotent batch mode), ``compact_ledger`` rewrites the
    attempt tree into flat files, and increment 3 dedups against the
    COMPACTED ledger. The oracle recomputes all three accept sets from
    scratch, so a compaction that drops, duplicates, or mangles a
    fingerprint — or leaks the attempt directory name in as a column —
    changes increment 3's accept set and breaks the hash. Accepted
    frames are pinned before compaction: their lazy plans read the
    pre-compaction file lists, which the staged-swap rewrite deletes."""
    store = scratch_dir("fpcompact") + "/fp"
    docs = _docs(spark, sf_dir)
    acc1 = dedup.dedup_incremental(
        docs.where("doc_id % 3 = 0"), store, attempt_id="i1"
    ).localCheckpoint(eager=True)
    acc2 = dedup.dedup_incremental(
        docs.where("doc_id % 3 = 1"), store, attempt_id="i2"
    ).localCheckpoint(eager=True)
    before, after = dedup.compact_ledger(spark, store)
    if after >= before and before > 1:  # the point of the maintenance op
        raise AssertionError(f"compaction did not shrink: {before}->{after}")
    acc3 = dedup.dedup_incremental(
        docs.where("doc_id % 3 = 2"), store, attempt_id="i3"
    )

    def tag(df: DataFrame, n: int) -> DataFrame:
        return df.select(
            F.lit(n).cast("int").alias("batch"), "doc_id", "lang", "n_chars"
        )

    return tag(acc1, 1).unionByName(tag(acc2, 2)).unionByName(tag(acc3, 3))


register(
    "dedup_ledger_compacted",
    _q_dedup_ledger_compacted,
    f"""
    WITH fp AS (SELECT doc_id, lang, n_chars, {_FP} AS f FROM documents),
    a AS (SELECT * FROM fp WHERE doc_id % 3 = 0),
    b AS (SELECT * FROM fp WHERE doc_id % 3 = 1),
    c AS (SELECT * FROM fp WHERE doc_id % 3 = 2),
    akeep AS (SELECT f, MIN(doc_id) AS doc_id FROM a GROUP BY f),
    arows AS (SELECT a.doc_id, a.lang, a.n_chars, a.f
              FROM a JOIN akeep ON a.doc_id = akeep.doc_id AND a.f = akeep.f),
    bkeep AS (SELECT f, MIN(doc_id) AS doc_id FROM b GROUP BY f),
    brows AS (SELECT b.doc_id, b.lang, b.n_chars, b.f
              FROM b JOIN bkeep ON b.doc_id = bkeep.doc_id AND b.f = bkeep.f),
    bacc AS (SELECT * FROM brows WHERE f NOT IN (SELECT f FROM arows)),
    ckeep AS (SELECT f, MIN(doc_id) AS doc_id FROM c GROUP BY f),
    crows AS (SELECT c.doc_id, c.lang, c.n_chars, c.f
              FROM c JOIN ckeep ON c.doc_id = ckeep.doc_id AND c.f = ckeep.f),
    cacc AS (SELECT * FROM crows WHERE f NOT IN (SELECT f FROM arows)
                                   AND f NOT IN (SELECT f FROM bacc))
    SELECT CAST(1 AS INT) AS batch, doc_id, lang, n_chars FROM arows
    UNION ALL
    SELECT CAST(2 AS INT), doc_id, lang, n_chars FROM bacc
    UNION ALL
    SELECT CAST(3 AS INT), doc_id, lang, n_chars FROM cacc
    """,
)


# The ONE CDC chunk decomposition in SQL (expects a `tok` CTE with
# doc_id/toks in scope; Spark twin: operators/dedup._cdc_chunk_base) —
# shared by every chunk-level oracle so the boundary rule can't fork
CDC_CHUNK_CTES = """
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
          FROM ch)"""


def excise_replay_oracle(split_preds: list[str], extra_cte: str = "") -> str:
    """The ONE DuckDB replay oracle for ``substring_excise_incremental``
    lifecycles, shared by the batch-compaction and streaming graded
    queries so the two can never desynchronize (as the shared BPE
    helpers do). Replays N sequential increments: increment i's excise
    set is its own in-batch hot chunks (doc-freq ≥ 2) UNION every chunk
    fingerprint any PRIOR increment contributed (the ledger writes each
    batch's complete distinct fp set, kept and excised alike).

    ``split_preds[i]`` is a SQL predicate over the exploded chunk rows
    (columns doc_id/idx/chunk) selecting increment i+1; ``extra_cte``
    optionally prepends CTEs the predicates reference."""
    per_batch = """
    m{i} AS (SELECT e{i}.doc_id, e{i}.idx, e{i}.chunk,
                    (h.fp IS NOT NULL) AS dup
             FROM e{i} LEFT JOIN hot{i} h ON md5(e{i}.chunk) = h.fp),
    p{i} AS (SELECT CAST({i} AS INT) AS batch, doc_id,
                    CAST(COUNT(*) AS BIGINT) AS n_chunks,
                    CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
                      AS excised_chunks,
                    CAST(SUM(CASE WHEN dup THEN 0
                             ELSE len(string_split(chunk, ' ')) END)
                         AS BIGINT) AS kept_tokens,
                    COALESCE(string_agg(CASE WHEN NOT dup THEN chunk END,
                                        ' ' ORDER BY idx), '') AS clean_text
             FROM m{i} GROUP BY doc_id)"""
    n = len(split_preds)
    pieces = []
    for i, pred in enumerate(split_preds, start=1):
        pieces.append(
            f"e{i} AS MATERIALIZED (SELECT e.* FROM e WHERE {pred})"
        )
    for i in range(1, n + 1):
        prior = "\n             UNION\n             ".join(
            f"SELECT DISTINCT md5(chunk) AS fp FROM e{j}"
            for j in range(1, i)
        )
        pieces.append(
            f"""hot{i} AS (SELECT md5(chunk) AS fp FROM e{i}
             GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2"""
            + (f"\n             UNION\n             {prior}" if prior else "")
            + ")"
        )
    pieces.extend(per_batch.format(i=i) for i in range(1, n + 1))
    selects = "\n    UNION ALL ".join(
        f"SELECT * FROM p{i}" for i in range(1, n + 1)
    )
    extra = f"{extra_cte}," if extra_cte else ""
    return f"""
    WITH {_tok_cte()}, {extra}
    {CDC_CHUNK_CTES},
    {",".join(pieces)}
    {selects}
    """


def _q_excise_ledger_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-fp ledger LIFECYCLE end-to-end (parity with
    `dedup_ledger_compacted` / `neardup_ledger_compacted`): increments
    1+2 run attempt-scoped substring excision, ``compact_ledger``
    rewrites the attempt tree into flat files, and increment 3 excises
    against the COMPACTED ledger. The oracle replays all three excise
    sets from scratch, so a compaction that drops, duplicates, or
    mangles a chunk fingerprint — or leaks the attempt directory name in
    as a column — changes increment 3's excisions and breaks the hash.
    Results are checkpointed inside the operator's ledger guard, so
    their lazy plans survive the staged-swap file rewrite."""
    store = scratch_dir("excompact") + "/chunk_fps"
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    acc1 = dedup.substring_excise_incremental(
        docs.where("doc_id % 3 = 0"), store, attempt_id="i1"
    )
    acc2 = dedup.substring_excise_incremental(
        docs.where("doc_id % 3 = 1"), store, attempt_id="i2"
    )
    before, after = dedup.compact_ledger(spark, store)
    if after >= before and before > 1:  # the point of the maintenance op
        raise AssertionError(f"compaction did not shrink: {before}->{after}")
    acc3 = dedup.substring_excise_incremental(
        docs.where("doc_id % 3 = 2"), store, attempt_id="i3"
    )

    def tag(df: DataFrame, n: int) -> DataFrame:
        return df.select(
            F.lit(n).cast("int").alias("batch"), "doc_id", "n_chunks",
            "excised_chunks", "kept_tokens", "clean_text",
        )

    return tag(acc1, 1).unionByName(tag(acc2, 2)).unionByName(tag(acc3, 3))


register(
    "substring_excise_ledger_compacted",
    _q_excise_ledger_compacted,
    excise_replay_oracle(
        ["doc_id % 3 = 0", "doc_id % 3 = 1", "doc_id % 3 = 2"]
    ),
)


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .select("doc_id", text.fingerprint("text").alias("fp"))
    )


register(
    "doc_fingerprints",
    _q_fingerprints,
    f"SELECT doc_id, {_FP} AS fp FROM documents",
)


# --------------------------------------------------------- n-gram jaccard

def _q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = dedup.shingle_sets(_docs(spark, sf_dir))
    return dedup.jaccard_pairs(sh, threshold=0.5)


register(
    "dedup_ngram_jaccard",
    _q_jaccard,
    f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    c AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS nc
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT c.a, c.b,
           CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) AS jaccard
    FROM c JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id
    WHERE CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) >= 0.5
    """,
)


# ------------------------------------------------------------ MinHash LSH

_NUM_HASHES, _BANDS, _ROWS = 12, 4, 3


def _q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_dedup_pairs(
        _docs(spark, sf_dir), num_hashes=_NUM_HASHES, bands=_BANDS, threshold=0.5
    )


def _minhash_oracle() -> str:
    mins = ", ".join(
        f"MIN(substring(md5('{k}|' || shingle), 1, 16)) AS mh{k}"
        for k in range(_NUM_HASHES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({concat}) AS h FROM sig".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * _ROWS + r}" for r in range(_ROWS)),
        )
        for b in range(_BANDS)
    )
    return f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS ({band_rows}),
    cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             FROM bands x JOIN bands y
               ON x.band_id = y.band_id AND x.h = y.h AND x.doc_id < y.doc_id),
    c AS (SELECT cand.a, cand.b, COUNT(*) AS nc
          FROM cand JOIN sh sa ON sa.doc_id = cand.a
                    JOIN sh sb ON sb.doc_id = cand.b AND sb.shingle = sa.shingle
          GROUP BY 1, 2),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    SELECT c.a, c.b, CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) AS jaccard
    FROM c JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id
    WHERE CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) >= 0.5
    """


register("dedup_minhash_lsh", _q_minhash, _minhash_oracle())


def _q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run near-dup: batch 1 (even doc_ids) seeds the LSH band
    ledger, batch 2 (odd) dedups against itself and then the ledger —
    accepted doc_ids of both batches, batch-tagged. The oracle recomputes
    both accept sets from the signature arithmetic."""
    store = scratch_dir("ndledger") + "/bands"
    docs = _docs(spark, sf_dir)
    acc1 = dedup.neardup_incremental(
        docs.where("doc_id % 2 = 0"), store,
        num_hashes=_NUM_HASHES, bands=_BANDS,
    )
    acc2 = dedup.neardup_incremental(
        docs.where("doc_id % 2 = 1"), store,
        num_hashes=_NUM_HASHES, bands=_BANDS,
    )

    def tag(df: DataFrame, n: int) -> DataFrame:
        return df.select(
            F.lit(n).cast("int").alias("batch"), "doc_id", "lang"
        )

    return tag(acc1, 1).unionByName(tag(acc2, 2))


def _neardup_incremental_oracle() -> str:
    mins = ", ".join(
        f"MIN(substring(md5('{k}|' || shingle), 1, 16)) AS mh{k}"
        for k in range(_NUM_HASHES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({concat}) AS h FROM sig".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * _ROWS + r}" for r in range(_ROWS)),
        )
        for b in range(_BANDS)
    )
    return f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS ({band_rows}),
    ab AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
    bb AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
    adrop AS (SELECT DISTINCT y.doc_id FROM ab x JOIN ab y
              ON x.band_id = y.band_id AND x.h = y.h AND x.doc_id < y.doc_id),
    aacc AS (SELECT * FROM ab
             WHERE doc_id NOT IN (SELECT doc_id FROM adrop)),
    bdrop1 AS (SELECT DISTINCT y.doc_id FROM bb x JOIN bb y
               ON x.band_id = y.band_id AND x.h = y.h AND x.doc_id < y.doc_id),
    bsurv AS (SELECT * FROM bb
              WHERE doc_id NOT IN (SELECT doc_id FROM bdrop1)),
    bdrop2 AS (SELECT DISTINCT s.doc_id FROM bsurv s JOIN aacc
               ON s.band_id = aacc.band_id AND s.h = aacc.h)
    SELECT CAST(1 AS INT) AS batch, doc_id, lang FROM documents
    WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM adrop)
    UNION ALL
    SELECT CAST(2 AS INT), doc_id, lang FROM documents
    WHERE doc_id % 2 = 1
      AND doc_id NOT IN (SELECT doc_id FROM bdrop1)
      AND doc_id NOT IN (SELECT doc_id FROM bdrop2)
    """


register(
    "neardup_incremental_ledger",
    _q_neardup_incremental,
    _neardup_incremental_oracle(),
)


# ---------------------------------------------------------------- SimHash

def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash32(_docs(spark, sf_dir))


_SIMHASH_CTES = f"""
{_TOK_CTE},
tokd AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM tok),
votes AS (
  SELECT doc_id, i.i AS i,
         SUM(CASE WHEN substring(md5(tok), CAST(i.i + 1 AS INT), 1)
                  IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s
  FROM tokd CROSS JOIN (SELECT unnest(range(0, 32)) AS i) i
  GROUP BY 1, 2
),
simh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s >= 0 THEN (1::BIGINT << CAST(i AS INT))
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
"""

register(
    "dedup_simhash",
    _q_simhash,
    f"WITH {_SIMHASH_CTES} SELECT doc_id, simhash FROM simh",
)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_neardup_pairs(_docs(spark, sf_dir), max_hamming=3)


register(
    "dedup_simhash_pairs",
    _q_simhash_pairs,
    f"""
    WITH {_SIMHASH_CTES},
    bands AS (
      SELECT doc_id, simhash, b.b AS band_id,
             (simhash >> CAST(b.b * 8 AS INT)) & 255 AS band_val
      FROM simh CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
             x.simhash AS ha, y.simhash AS hb
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_val = y.band_val
           AND x.doc_id < y.doc_id
    )
    SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    """,
)


# --------------------------------------------------- embedding similarity

_QDOT = """list_sum(list_transform(range(1, len({a}) + 1),
  i -> CAST(ROUND(CAST({a}[i] AS DOUBLE) * 1000000, 0) AS BIGINT)
     * CAST(ROUND(CAST({b}[i] AS DOUBLE) * 1000000, 0) AS BIGINT)))"""


def _qcos(a: str, b: str) -> str:
    return (
        f"CAST({_QDOT.format(a=a, b=b)} AS DOUBLE) / "
        f"(sqrt(CAST({_QDOT.format(a=a, b=a)} AS DOUBLE)) * "
        f"sqrt(CAST({_QDOT.format(a=b, b=b)} AS DOUBLE)))"
    )


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.knn_bruteforce(embs, queries, k=5)


register(
    "similarity_knn",
    _q_knn,
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id % 50 = 0),
    s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                 {_qcos('q.qv', 'e.embedding')} AS cos_sim
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id <> q.query_id),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rn FROM s)
    SELECT query_id, neighbor_id, cos_sim, rn FROM r WHERE rn <= 5
    """,
)


def _q_neardup_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine ≥ 0.4 — correctness baseline for the LSH
    path (O(n²); fine at test SF, superseded by the bucketed variant at
    scale)."""
    embs = _embs(spark, sf_dir)
    a = embs.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = embs.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .select("a", "b", similarity.cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.4)
    )


register(
    "similarity_neardup_brute",
    _q_neardup_brute,
    f"""
    SELECT e1.vec_id AS a, e2.vec_id AS b,
           {_qcos('e1.embedding', 'e2.embedding')} AS cos_sim
    FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id
    WHERE {_qcos('e1.embedding', 'e2.embedding')} >= 0.4
    """,
)

_PLANES = 4


def _q_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.neardup_pairs_bucketed(
        _embs(spark, sf_dir), threshold=0.4, num_planes=_PLANES
    )


def _lsh_oracle() -> str:
    # sign of sum_d q(x_d) * (2*nibble(md5(p|d)) - 15), d 0-based
    sign = """CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1),
      d -> CAST(ROUND(CAST(embedding[d] AS DOUBLE) * 1000000, 0) AS BIGINT)
         * CAST(2 * (strpos('0123456789abcdef',
               substring(md5({p} || '|' || (d - 1)), 1, 1)) - 1) - 15 AS BIGINT)
      )) >= 0 THEN '1' ELSE '0' END"""
    bucket = " || ".join(sign.format(p=f"'{p}'") for p in range(_PLANES))
    return f"""
    WITH sig AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings)
    SELECT x.vec_id AS a, y.vec_id AS b,
           {_qcos('x.embedding', 'y.embedding')} AS cos_sim
    FROM sig x JOIN sig y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    WHERE {_qcos('x.embedding', 'y.embedding')} >= 0.4
    """


register("similarity_neardup_lsh", _q_neardup_lsh, _lsh_oracle())


_IVF_LISTS, _IVF_PROBE = 16, 4


def _q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.knn_ivf(
        embs, queries, k=5, n_lists=_IVF_LISTS, n_probe=_IVF_PROBE
    )


def _ivf_oracle(query_pred: str = "vec_id % 50 = 0") -> str:
    return f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                   ORDER BY vec_id LIMIT {_IVF_LISTS}),
    asg AS (SELECT e.vec_id, e.embedding, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY {_qcos('e.embedding', 'c.cv')} DESC, c.cid) AS rk
            FROM embeddings e CROSS JOIN cents c),
    lists AS (SELECT vec_id, embedding, cid AS list_id FROM asg WHERE rk = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE {query_pred}),
    qp AS (SELECT query_id, qv, cid AS list_id FROM (
             SELECT q.query_id, q.qv, c.cid,
                    ROW_NUMBER() OVER (PARTITION BY q.query_id
                      ORDER BY {_qcos('q.qv', 'c.cv')} DESC, c.cid) AS rk
             FROM q CROSS JOIN cents c) t WHERE rk <= {_IVF_PROBE}),
    s AS (SELECT p.query_id, l.vec_id AS neighbor_id,
                 {_qcos('p.qv', 'l.embedding')} AS cos_sim
          FROM qp p JOIN lists l
            ON l.list_id = p.list_id AND l.vec_id <> p.query_id),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rn FROM s)
    SELECT query_id, neighbor_id, cos_sim, rn FROM r WHERE rn <= 5
    """


register("similarity_knn_ivf", _q_knn_ivf, _ivf_oracle())


def _q_knn_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbounded-query-side IVF search: the ENTIRE corpus queries
    itself — a query set far past knn_bruteforce's broadcast sweet spot —
    with no driver collect of the query vectors (distributed probe
    assignment + shuffle equi-join on list_id). Must be bit-identical to
    knn_ivf's semantics, so the oracle is the same IVF recomputation with
    the all-rows query predicate."""
    embs = _embs(spark, sf_dir)
    queries = embs.select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.knn_bucketed(
        embs, queries, k=5, n_lists=_IVF_LISTS, n_probe=_IVF_PROBE
    )


register("similarity_knn_bucketed", _q_knn_bucketed, _ivf_oracle("TRUE"))


# --------------------------------------------------- corpus curation (composite)

def _q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-set selection pipeline end to end: quality features →
    threshold filter → language filter → exact dedup (keep min id). One
    composed lazy plan — Catalyst fuses the filters into the scan and the
    only shuffle is the dedup fingerprint groupBy."""
    docs = _docs(spark, sf_dir)
    q = text.quality_features(docs)
    filtered = q.where(
        (F.col("n_tokens") >= 10)
        & (F.col("alpha_ratio") >= 0.5)
        & (F.col("uniq_token_ratio") >= 0.3)
        & (text.lang_id("text") == "en")
    )
    # pin the gate survivors before the fingerprint self-join (same
    # double-evaluation economics as corpus_intake_pipeline)
    pinned = filtered.select(
        "doc_id", "n_tokens", "alpha_ratio", "text"
    ).localCheckpoint(eager=True)
    return dedup.dedup_exact(pinned).select("doc_id", "n_tokens", "alpha_ratio")


def _curation_oracle() -> str:
    return f"""
    WITH {_TOK_CTE}, {_lang_ctes()},
    q AS (SELECT doc_id, text,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            CASE WHEN length(text) > 0 THEN
              CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                / length(text) ELSE 0.0 END AS alpha_ratio,
            CASE WHEN len(toks) > 0 THEN
              CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
            ELSE 0.0 END AS uniq_token_ratio
          FROM tok),
    f AS (SELECT q.* FROM q JOIN langd USING (doc_id)
          WHERE n_tokens >= 10 AND alpha_ratio >= 0.5
            AND uniq_token_ratio >= 0.3 AND lang_det = 'en'),
    fp AS (SELECT doc_id, n_tokens, alpha_ratio, {_FP} AS fhash FROM f),
    keep AS (SELECT fhash, MIN(doc_id) AS doc_id FROM fp GROUP BY fhash)
    SELECT fp.doc_id, fp.n_tokens, fp.alpha_ratio
    FROM fp JOIN keep ON fp.doc_id = keep.doc_id AND fp.fhash = keep.fhash
    """


register("corpus_curation", _q_corpus_curation, _curation_oracle())


# ------------------------------------------------- IVF recall evaluation
# Recall@5 of the IVF probe search against the exact brute-force answer —
# the evaluation loop an ANN deployment runs when tuning n_lists/n_probe.
# Both sides are deterministic (quantized int64 cosine, id tie-breaks),
# so recall itself is exact and the DuckDB oracle reproduces it from the
# two SQL pipelines joined on (query_id, neighbor_id).
def _q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.knn_bruteforce(embs, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = similarity.knn_ivf(
        embs, queries, k=5, n_lists=_IVF_LISTS, n_probe=_IVF_PROBE
    ).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"])
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
        )
    )


def _ivf_recall_oracle() -> str:
    return f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                   ORDER BY vec_id LIMIT {_IVF_LISTS}),
    asg AS (SELECT e.vec_id, e.embedding, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY {_qcos('e.embedding', 'c.cv')} DESC, c.cid) AS rk
            FROM embeddings e CROSS JOIN cents c),
    lists AS (SELECT vec_id, embedding, cid AS list_id FROM asg WHERE rk = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id % 50 = 0),
    qp AS (SELECT query_id, qv, cid AS list_id FROM (
             SELECT q.query_id, q.qv, c.cid,
                    ROW_NUMBER() OVER (PARTITION BY q.query_id
                      ORDER BY {_qcos('q.qv', 'c.cv')} DESC, c.cid) AS rk
             FROM q CROSS JOIN cents c) t WHERE rk <= {_IVF_PROBE}),
    ivf_s AS (SELECT p.query_id, l.vec_id AS neighbor_id,
                     {_qcos('p.qv', 'l.embedding')} AS cos_sim
              FROM qp p JOIN lists l
                ON l.list_id = p.list_id AND l.vec_id <> p.query_id),
    ivf_r AS (SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rn FROM ivf_s),
    ivf5 AS (SELECT query_id, neighbor_id FROM ivf_r WHERE rn <= 5),
    ex_s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                    {_qcos('q.qv', 'e.embedding')} AS cos_sim
             FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
    ex_r AS (SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor_id) AS rn FROM ex_s),
    ex5 AS (SELECT query_id, neighbor_id FROM ex_r WHERE rn <= 5)
    SELECT e.query_id, COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit
    FROM ex5 e LEFT JOIN ivf5 i
      ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
    GROUP BY e.query_id
    """


register("similarity_ivf_recall", _q_ivf_recall, _ivf_recall_oracle())


# --------------------------------------- bucketed-kmeans recall evaluation
# Recall@5 of the 100-TB-shaped search configuration — knn_bucketed with
# deterministic Lloyd k-means centroids and auto_n_lists(~sqrt N) sizing —
# against the exact brute-force answer. similarity_ivf_recall grades the
# driver-collect path with seeded centroids; THIS row grades the
# configuration a cluster deployment actually runs. The oracle replays the
# full pipeline in SQL: seed centroids (k lowest ids), K unrolled Lloyd
# iterations (exact int64 cosine assignment with (cos desc, lid asc)
# tie-breaks; per-(list,dim) integer sums; Python-floor-division means via
# positive-mod arithmetic; empty/all-zero lists keep their previous
# centroid), final assignment, probe fan-out, in-list exact top-5.

_KM_ITERS, _KM_PROBE = 2, 4

_QVDOT = "list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"


def _qvcos(a: str, b: str) -> str:
    """Cosine between two already-quantized int64 vectors (same op order
    as _cos_qq: exact integer dots, one double division)."""
    return (
        f"CAST({_QVDOT.format(a=a, b=b)} AS DOUBLE) / "
        f"(sqrt(CAST({_QVDOT.format(a=a, b=a)} AS DOUBLE)) * "
        f"sqrt(CAST({_QVDOT.format(a=b, b=b)} AS DOUBLE)))"
    )


def _q_bucketed_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    k_lists = similarity.auto_n_lists(embs.count())
    queries = embs.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.knn_bruteforce(embs, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = similarity.knn_bucketed(
        embs, queries, k=5, n_lists=k_lists, n_probe=_KM_PROBE,
        centroids="kmeans", kmeans_iters=_KM_ITERS,
    ).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"])
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
        )
    )


def _lloyd_lists_ctes(iters: int, limit_sql: str) -> str:
    """Shared WITH-body CTE chain replaying kmeans_centroids +
    _ivf_assign in SQL: base (quantized vectors) → c0 (k lowest-id
    seeds) → ``iters`` unrolled Lloyd iterations → final assignment
    ``lists(vec_id, qv, list_id)``. Each iteration assigns to the
    nearest previous centroid (exact int64 cosine, (cos desc, lid asc)
    tie-break), re-centers with per-(list, dim) integer sums and
    Python-floor-division means (positive-mod arithmetic), and keeps
    the previous centroid for empty or all-zero lists."""
    qc = _qvcos

    def lloyd_iter(i: int) -> str:
        prev = f"c{i - 1}"
        return f"""
    a{i} AS (SELECT b.vec_id, b.qv, c.lid,
                    ROW_NUMBER() OVER (PARTITION BY b.vec_id
                      ORDER BY {qc('b.qv', 'c.cv')} DESC, c.lid) AS rk
             FROM base b CROSS JOIN {prev} c),
    m{i} AS (SELECT lid, dd.d AS d, SUM(qv[dd.d + 1]) AS s, COUNT(*) AS n
             FROM a{i}, (SELECT unnest(range(CAST((SELECT len(qv) FROM base
                           LIMIT 1) AS BIGINT))) AS d) dd
             WHERE rk = 1 GROUP BY lid, dd.d),
    v{i} AS (SELECT lid, list(fd ORDER BY d) AS cv FROM (
               SELECT lid, d,
                      CAST((s - (((s % n) + n) % n)) / n AS BIGINT) AS fd
               FROM m{i}) t GROUP BY lid),
    c{i} AS (SELECT p.lid,
                    CASE WHEN v.cv IS NULL
                              OR list_sum(list_transform(v.cv,
                                   x -> ABS(x))) = 0
                         THEN p.cv ELSE v.cv END AS cv
             FROM {prev} p LEFT JOIN v{i} v USING (lid))"""

    chain = "".join("," + lloyd_iter(i) for i in range(1, iters + 1))
    fin = f"c{iters}"
    return f"""base AS (SELECT vec_id,
                  list_transform(range(1, len(embedding) + 1),
                    i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
                              AS BIGINT)) AS qv
                  FROM embeddings),
    c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS lid, qv AS cv
           FROM base ORDER BY vec_id
           LIMIT {limit_sql}){chain},
    asg AS (SELECT b.vec_id, b.qv, c.lid,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                     ORDER BY {qc('b.qv', 'c.cv')} DESC, c.lid) AS rk
            FROM base b CROSS JOIN {fin} c),
    lists AS (SELECT vec_id, qv, lid AS list_id FROM asg WHERE rk = 1)"""


# EXACT integer sqrt, matching Python's math.isqrt bit-for-bit (the
# engine's auto_n_lists): FLOOR(SQRT(n)) on IEEE doubles can land one off
# near perfect squares (sqrt is correctly rounded, so after FLOOR the
# error is at most ±1); the CASE corrects both directions, so the oracle
# replays isqrt exactly for any n < 2^52 instead of relying on
# float-rounding parity that only holds at small scale factors.
_AUTO_LISTS_SQL = (
    "(SELECT GREATEST(16, CASE WHEN (s + 1) * (s + 1) <= n THEN s + 1 "
    "WHEN s * s > n THEN s - 1 ELSE s END) "
    "FROM (SELECT COUNT(*) AS n, "
    "CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS s "
    "FROM embeddings) isq)"
)


def _kmeans_recall_oracle() -> str:
    qc = _qvcos
    fin = f"c{_KM_ITERS}"
    return f"""
    WITH {_lloyd_lists_ctes(_KM_ITERS, _AUTO_LISTS_SQL)},
    q AS (SELECT vec_id AS query_id, qv FROM base WHERE vec_id % 10 = 0),
    qp AS (SELECT query_id, qv, lid AS list_id FROM (
             SELECT q.query_id, q.qv, c.lid,
                    ROW_NUMBER() OVER (PARTITION BY q.query_id
                      ORDER BY {qc('q.qv', 'c.cv')} DESC, c.lid) AS rk
             FROM q CROSS JOIN {fin} c) t WHERE rk <= {_KM_PROBE}),
    ap_s AS (SELECT p.query_id, l.vec_id AS neighbor_id,
                    {qc('p.qv', 'l.qv')} AS cos_sim
             FROM qp p JOIN lists l
               ON l.list_id = p.list_id AND l.vec_id <> p.query_id),
    ap_r AS (SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor_id) AS rn FROM ap_s),
    ap5 AS (SELECT query_id, neighbor_id FROM ap_r WHERE rn <= 5),
    ex_s AS (SELECT q.query_id, b.vec_id AS neighbor_id,
                    {qc('q.qv', 'b.qv')} AS cos_sim
             FROM base b CROSS JOIN q WHERE b.vec_id <> q.query_id),
    ex_r AS (SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor_id) AS rn FROM ex_s),
    ex5 AS (SELECT query_id, neighbor_id FROM ex_r WHERE rn <= 5)
    SELECT e.query_id, COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit
    FROM ex5 e LEFT JOIN ap5 a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """


register("similarity_bucketed_recall", _q_bucketed_recall, _kmeans_recall_oracle())


# ------------------------------------------------- C4-style quality gate
# The classic pre-training corpus filter: token-count band, uniqueness
# and alphabetic-ratio floors, language allowlist — composed from the
# same JVM-side expressions text_quality_stats verifies individually.
# All thresholds compare single-IEEE-division doubles, so the kept set
# is bit-identical cross-engine.
def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = text.quality_features(_docs(spark, sf_dir))
    kept = feats.where(
        (F.col("n_tokens") >= 20)
        & (F.col("n_tokens") <= 1000)
        & (F.col("uniq_token_ratio") > 0.3)
        & (F.col("alpha_ratio") > 0.7)
        & (F.col("lang") == "en")
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
    )


register(
    "corpus_quality_filter",
    _q_quality_filter,
    f"""
    WITH {_tok_cte("doc_id, text, source, lang")}, f AS (
      SELECT source, lang, len(toks) AS n_tokens,
             CASE WHEN len(toks) > 0 THEN
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
             ELSE 0.0 END AS uniq_token_ratio,
             CASE WHEN length(text) > 0 THEN
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    AS DOUBLE) / length(text)
             ELSE 0.0 END AS alpha_ratio
      FROM tok
    )
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
    FROM f
    WHERE n_tokens >= 20 AND n_tokens <= 1000
      AND uniq_token_ratio > 0.3 AND alpha_ratio > 0.7 AND lang = 'en'
    GROUP BY source
    """,
)


# ------------------------------------------------- semantic dedup (SemDeDup)

_SEM_THR, _SEM_LISTS = 0.35, 16


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-prune embedding dedup: drop any vector with a lower-id
    list-mate at cosine >= threshold; return the kept (vec_id, list_id)."""
    return similarity.semantic_dedup(
        _embs(spark, sf_dir), threshold=_SEM_THR, n_lists=_SEM_LISTS
    )


def _semantic_dedup_oracle() -> str:
    return f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                   ORDER BY vec_id LIMIT {_SEM_LISTS}),
    asg AS (SELECT e.vec_id, e.embedding, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY {_qcos('e.embedding', 'c.cv')} DESC, c.cid) AS rk
            FROM embeddings e CROSS JOIN cents c),
    lists AS (SELECT vec_id, embedding, cid AS list_id FROM asg WHERE rk = 1),
    dropped AS (SELECT DISTINCT y.vec_id
                FROM lists x JOIN lists y
                  ON x.list_id = y.list_id AND x.vec_id < y.vec_id
                WHERE {_qcos('x.embedding', 'y.embedding')} >= {_SEM_THR})
    SELECT l.vec_id, l.list_id FROM lists l
    WHERE l.vec_id NOT IN (SELECT vec_id FROM dropped)
    """


register("semantic_dedup_keep", _q_semantic_dedup, _semantic_dedup_oracle())


def _q_semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_dedup with the quality-tier centroids: deterministic
    Lloyd k-means lists instead of lowest-id seeds. Same drop contract
    (lower-id list-mate at cos >= threshold); the oracle replays the
    Lloyd training with the shared unrolled-iteration CTEs and then the
    within-list pair prune. Grades the code path semantic_dedup_keep's
    seeded-centroid oracle never touches."""
    return similarity.semantic_dedup(
        _embs(spark, sf_dir), threshold=_SEM_THR, n_lists=_SEM_LISTS,
        centroids="kmeans", kmeans_iters=_KM_ITERS,
    )


def _semantic_kmeans_oracle() -> str:
    return f"""
    WITH {_lloyd_lists_ctes(_KM_ITERS, str(_SEM_LISTS))},
    dropped AS (SELECT DISTINCT y.vec_id
                FROM lists x JOIN lists y
                  ON x.list_id = y.list_id AND x.vec_id < y.vec_id
                WHERE {_qvcos('x.qv', 'y.qv')} >= {_SEM_THR})
    SELECT l.vec_id, l.list_id FROM lists l
    WHERE l.vec_id NOT IN (SELECT vec_id FROM dropped)
    """


register(
    "semantic_dedup_kmeans", _q_semantic_dedup_kmeans, _semantic_kmeans_oracle()
)


# ------------------------------------------------- paragraph dedup (C4)

def _q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide paragraph dedup. The fixture text is flat, so
    BOTH engines first rebuild it as 8-token paragraphs (identical
    deterministic construction), then dedup — Spark via the operator,
    DuckDB via an independent SQL implementation."""
    docs = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    paras = F.transform(
        F.sequence(
            F.lit(0), F.ceil(F.size(toks) / F.lit(8.0)).cast("int") - 1
        ),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
    )
    structured = docs.select(
        "doc_id", F.array_join(paras, "\n\n").alias("text")
    )
    return dedup.paragraph_dedup(structured)


register(
    "paragraph_dedup_c4",
    _q_paragraph_dedup,
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    p AS (SELECT doc_id,
                 list_transform(range(CAST(ceil(len(toks)/8.0) AS INT)),
                                i -> array_to_string(toks[i*8+1 : i*8+8], ' '))
                   AS paras
          FROM t),
    parts AS (SELECT doc_id, g.i - 1 AS pos, paras[g.i] AS para
              FROM p, LATERAL (SELECT unnest(generate_series(1, len(paras)))
                               AS i) g
              WHERE paras[g.i] <> ''),
    kept AS (SELECT doc_id, pos, para,
                    ROW_NUMBER() OVER (PARTITION BY md5(para)
                                       ORDER BY doc_id, pos) AS rn
             FROM parts)
    SELECT doc_id,
           string_agg(para, chr(10)||chr(10) ORDER BY pos) AS text
    FROM kept WHERE rn = 1 GROUP BY doc_id
    """,
)


# ----------------------------------------- canonical-doc dedup (by quality)

def _q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups keep their BEST member (longest unique-token text,
    id tie-break) instead of the lowest id — the selection policy a
    training pipeline actually wants."""
    docs = _docs(spark, sf_dir).withColumn(
        "q_score", F.size(F.array_distinct(F.split("text", " "))).cast("bigint")
    )
    out = dedup.dedup_canonical(docs, "q_score")
    return out.select("doc_id", "q_score")


register(
    "dedup_canonical_quality",
    _q_dedup_canonical,
    f"""
    WITH scored AS (
      SELECT doc_id, {_FP} AS fp,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS q_score
      FROM documents),
    keep AS (
      SELECT fp, doc_id FROM (
        SELECT fp, doc_id,
               ROW_NUMBER() OVER (PARTITION BY fp
                                  ORDER BY q_score DESC, doc_id DESC) AS rn
        FROM scored) WHERE rn = 1)
    SELECT s.doc_id, s.q_score
    FROM scored s JOIN keep k ON s.fp = k.fp AND s.doc_id = k.doc_id
    """,
)


# ----------------------------------------- pure-Catalyst vector HOFs

def _q_vector_ops_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-stage-codegen vector arithmetic via higher-order functions —
    no Python at all: quantize with transform, dot products with
    zip_with + aggregate, norms and a cosine from the same exact int64
    recipe the Arrow path uses. The per-element expression interpretation
    makes this ~30x the Arrow matmul's cost at corpus scale (measured —
    which is WHY the hot paths use mapInPandas), but it is the
    right tool for a handful of ad-hoc rows and proves the HOF surface.
    Each vector is scored against the lowest-id corpus vector."""
    embs = _embs(spark, sf_dir)
    ref = embs.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("__ref")
    )
    q = similarity.quantized  # float -> exact µ-unit bigint array

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    sample = embs.where(F.col("vec_id") % 25 == 0)
    out = sample.crossJoin(F.broadcast(ref)).select(
        "vec_id",
        dot(q("embedding"), q("__ref")).alias("dot_ref"),
        dot(q("embedding"), q("embedding")).alias("norm2"),
        dot(q("__ref"), q("__ref")).alias("__refn2"),
        F.size(F.filter(q("embedding"), lambda x: x > 0)).alias("n_pos"),
    )
    return out.withColumn(
        "cos_ref",
        F.col("dot_ref").cast("double")
        / (
            F.sqrt(F.col("norm2").cast("double"))
            * F.sqrt(F.col("__refn2").cast("double"))
        ),
    ).drop("__refn2")


register(
    "vector_ops_hof",
    _q_vector_ops_hof,
    f"""
    WITH ref AS (SELECT embedding AS rv FROM embeddings
                 ORDER BY vec_id LIMIT 1),
    s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0)
    SELECT vec_id,
           {_QDOT.format(a='s.embedding', b='ref.rv')} AS dot_ref,
           {_QDOT.format(a='s.embedding', b='s.embedding')} AS norm2,
           len(list_filter(list_transform(s.embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)),
               v -> v > 0)) AS n_pos,
           {_qcos('s.embedding', 'ref.rv')} AS cos_ref
    FROM s CROSS JOIN ref
    """,
)


# ------------------------------------- full intake pipeline (composed)

def _q_corpus_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete training-data INTAKE composed as one lazy plan:
    quality gates → language gate → exact dedup (keep min id) → per-
    source TOKEN budgets (md5-ordered prefix). Catalyst fuses the gates
    into the scan; the shuffles are the dedup fingerprint groupBy and
    the budget's stratum windows — the whole path a crawl batch takes
    before packing, differentially checked end to end."""
    from gcp_etl_pipeline_spark.operators.curation import token_budget_take

    docs = _docs(spark, sf_dir)
    q = text.quality_features(docs)
    filtered = q.where(
        (F.col("n_tokens") >= 10)
        & (F.col("alpha_ratio") >= 0.5)
        & (F.col("uniq_token_ratio") >= 0.3)
        & (text.lang_id("text") == "en")
    )
    # pin the gate survivors ONCE: dedup_exact's fingerprint self-join
    # and the budget's three window/aggregate consumers would otherwise
    # re-run the quality + language gates (the expensive scans) once per
    # leg — measured ~2x the whole query. Survivor text rides the
    # checkpoint only until the fingerprint is computed.
    pinned = filtered.select(
        "doc_id", "source", "n_tokens", "text"
    ).localCheckpoint(eager=True)
    deduped = dedup.dedup_exact(pinned)
    out = token_budget_take(
        deduped, "source", {"src0": 3000}, token_col="n_tokens",
        key_col="doc_id", default_budget=1500,
    )
    return out.select("doc_id", "source", "n_tokens")


def _intake_oracle() -> str:
    return f"""
    WITH {_tok_cte("doc_id, text, source")}, {_lang_ctes()},
    q AS (SELECT doc_id, text, source,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            CASE WHEN length(text) > 0 THEN
              CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                / length(text) ELSE 0.0 END AS alpha_ratio,
            CASE WHEN len(toks) > 0 THEN
              CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
            ELSE 0.0 END AS uniq_token_ratio
          FROM tok),
    f AS (SELECT q.* FROM q JOIN langd USING (doc_id)
          WHERE n_tokens >= 10 AND alpha_ratio >= 0.5
            AND uniq_token_ratio >= 0.3 AND lang_det = 'en'),
    fp AS (SELECT doc_id, source, n_tokens, {_FP} AS fhash FROM f),
    keep AS (SELECT fhash, MIN(doc_id) AS doc_id FROM fp GROUP BY fhash),
    dd AS (SELECT fp.doc_id, fp.source, fp.n_tokens
           FROM fp JOIN keep ON fp.doc_id = keep.doc_id
                             AND fp.fhash = keep.fhash),
    cum AS (SELECT doc_id, source, n_tokens,
              SUM(n_tokens) OVER (
                PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                ROWS UNBOUNDED PRECEDING) AS c
            FROM dd)
    SELECT doc_id, source, n_tokens FROM cum
    WHERE c <= CASE source WHEN 'src0' THEN 3000 ELSE 1500 END
    """


register("corpus_intake_pipeline", _q_corpus_intake, _intake_oracle())


# -------------------------------------- cross-document duplication signal

def _q_crossdoc_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.crossdoc_duplication(_docs(spark, sf_dir))


register(
    "crossdoc_duplication_stats",
    _q_crossdoc_duplication,
    f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
    SELECT s.doc_id,
           COUNT(*) AS n_windows,
           CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           CAST(ROUND(CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END)
                           AS DOUBLE) / COUNT(*) * 1000000, 0) AS BIGINT)
             AS dup_fraction_u
    FROM sh s JOIN dfreq d ON s.shingle = d.shingle
    GROUP BY s.doc_id
    """,
)


# ------------------------------------- MinHash estimator accuracy (eval)

def _q_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-accuracy eval, not just parity: for every LSH candidate
    pair, the MinHash Jaccard ESTIMATE (fraction of equal signature
    components — the statistic the sketch exists to provide) next to the
    TRUE shingle Jaccard, both µ-unit quantized. The tuning loop for
    num_hashes/bands reads this table; grading it pins the estimator
    itself, the way similarity_*_recall pins the ANN searchers.

    Scale shape: signatures pinned once (three consumers: candidate
    pairing and both estimate legs); the true-Jaccard join touches only
    candidate pairs' shingles, never all pairs."""
    from gcp_etl_pipeline_spark.operators.similarity import _release_on_gc

    docs = _docs(spark, sf_dir)
    arr = dedup.shingle_arrays(docs)
    sig = dedup.minhash_signatures_from_arrays(
        arr, num_hashes=_NUM_HASHES
    ).persist()
    cand = dedup.lsh_candidate_pairs(
        sig, num_hashes=_NUM_HASHES, bands=_BANDS
    )
    siga = sig.select(
        F.col("doc_id").alias("a"),
        *[F.col(f"mh{k}").alias(f"__a{k}") for k in range(_NUM_HASHES)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("b"),
        *[F.col(f"mh{k}").alias(f"__b{k}") for k in range(_NUM_HASHES)],
    )
    matches = sum(
        (F.col(f"__a{k}") == F.col(f"__b{k}")).cast("int")
        for k in range(_NUM_HASHES)
    )
    est = cand.join(siga, "a").join(sigb, "b").select(
        "a", "b", matches.alias("__m")
    )
    sh = dedup.shingle_sets(docs)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n"))
    common = (
        cand.join(sh.select(F.col("doc_id").alias("a"), "shingle"), "a")
        .join(
            sh.select(F.col("doc_id").alias("b"), "shingle"),
            ["b", "shingle"],
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("__nc"))
    )
    out = (
        est.join(common, ["a", "b"])
        .join(sz.select(F.col("doc_id").alias("a"), F.col("__n").alias("__na")), "a")
        .join(sz.select(F.col("doc_id").alias("b"), F.col("__n").alias("__nb")), "b")
        .select(
            "a",
            "b",
            F.round(F.col("__m") / F.lit(_NUM_HASHES) * 1000000)
            .cast("bigint")
            .alias("est_u"),
            F.round(
                F.col("__nc")
                / (F.col("__na") + F.col("__nb") - F.col("__nc"))
                * 1000000
            )
            .cast("bigint")
            .alias("true_u"),
        )
    )
    return _release_on_gc(out, sig)


def _minhash_estimate_oracle() -> str:
    mins = ", ".join(
        f"MIN(substring(md5('{k}|' || shingle), 1, 16)) AS mh{k}"
        for k in range(_NUM_HASHES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({concat}) AS h FROM sig".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * _ROWS + r}" for r in range(_ROWS)),
        )
        for b in range(_BANDS)
    )
    m_expr = " + ".join(
        f"CASE WHEN sa.mh{k} = sb.mh{k} THEN 1 ELSE 0 END"
        for k in range(_NUM_HASHES)
    )
    return f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS ({band_rows}),
    cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             FROM bands x JOIN bands y
               ON x.band_id = y.band_id AND x.h = y.h AND x.doc_id < y.doc_id),
    est AS (SELECT cand.a, cand.b, ({m_expr}) AS m
            FROM cand JOIN sig sa ON sa.doc_id = cand.a
                      JOIN sig sb ON sb.doc_id = cand.b),
    c AS (SELECT cand.a, cand.b, COUNT(*) AS nc
          FROM cand JOIN sh sa ON sa.doc_id = cand.a
                    JOIN sh sb ON sb.doc_id = cand.b AND sb.shingle = sa.shingle
          GROUP BY 1, 2),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    SELECT est.a, est.b,
           CAST(ROUND(CAST(m AS DOUBLE) / {_NUM_HASHES} * 1000000, 0)
                AS BIGINT) AS est_u,
           CAST(ROUND(CAST(nc AS DOUBLE) / (za.n + zb.n - nc) * 1000000, 0)
                AS BIGINT) AS true_u
    FROM est JOIN c ON est.a = c.a AND est.b = c.b
             JOIN sz za ON est.a = za.doc_id
             JOIN sz zb ON est.b = zb.doc_id
    """


register(
    "minhash_estimate_error", _q_minhash_estimate_error, _minhash_estimate_oracle()
)


# ---------------------------- near-dup ledger lifecycle (compaction)

def _q_neardup_ledger_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup twin of `dedup_ledger_compacted`: two attempt-scoped
    increments seed the band ledger, `compact_ledger` rewrites the
    attempt tree into flat files, and increment 3 near-dedups against
    the COMPACTED band store. The oracle replays all three accept sets
    from the signature arithmetic — a compaction that drops, duplicates,
    or mangles a band row changes increment 3's accept set and breaks
    the hash. The accepted frames are compaction-safe by construction
    (they anti-join an eagerly checkpointed drop set, never the ledger
    files)."""
    store = scratch_dir("ndcompact") + "/bands"
    docs = _docs(spark, sf_dir)

    def inc(pred: str, attempt: str) -> DataFrame:
        return dedup.neardup_incremental(
            docs.where(pred), store,
            num_hashes=_NUM_HASHES, bands=_BANDS, attempt_id=attempt,
        )

    acc1 = inc("doc_id % 3 = 0", "i1")
    acc2 = inc("doc_id % 3 = 1", "i2")
    before, after = dedup.compact_ledger(spark, store)
    if after >= before and before > 1:
        raise AssertionError(f"compaction did not shrink: {before}->{after}")
    acc3 = inc("doc_id % 3 = 2", "i3")

    def tag(df: DataFrame, n: int) -> DataFrame:
        return df.select(
            F.lit(n).cast("int").alias("batch"), "doc_id", "lang"
        )

    return tag(acc1, 1).unionByName(tag(acc2, 2)).unionByName(tag(acc3, 3))


def _neardup_compacted_oracle() -> str:
    mins = ", ".join(
        f"MIN(substring(md5('{k}|' || shingle), 1, 16)) AS mh{k}"
        for k in range(_NUM_HASHES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({concat}) AS h FROM sig".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * _ROWS + r}" for r in range(_ROWS)),
        )
        for b in range(_BANDS)
    )
    return f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS ({band_rows}),
    ab AS (SELECT * FROM bands WHERE doc_id % 3 = 0),
    bb AS (SELECT * FROM bands WHERE doc_id % 3 = 1),
    cb AS (SELECT * FROM bands WHERE doc_id % 3 = 2),
    adrop AS (SELECT DISTINCT y.doc_id FROM ab x JOIN ab y
              ON x.band_id = y.band_id AND x.h = y.h AND x.doc_id < y.doc_id),
    aacc AS (SELECT * FROM ab
             WHERE doc_id NOT IN (SELECT doc_id FROM adrop)),
    bdrop1 AS (SELECT DISTINCT y.doc_id FROM bb x JOIN bb y
               ON x.band_id = y.band_id AND x.h = y.h AND x.doc_id < y.doc_id),
    bsurv AS (SELECT * FROM bb
              WHERE doc_id NOT IN (SELECT doc_id FROM bdrop1)),
    bdrop2 AS (SELECT DISTINCT s.doc_id FROM bsurv s JOIN aacc
               ON s.band_id = aacc.band_id AND s.h = aacc.h),
    bacc AS (SELECT * FROM bsurv
             WHERE doc_id NOT IN (SELECT doc_id FROM bdrop2)),
    cdrop1 AS (SELECT DISTINCT y.doc_id FROM cb x JOIN cb y
               ON x.band_id = y.band_id AND x.h = y.h AND x.doc_id < y.doc_id),
    csurv AS (SELECT * FROM cb
              WHERE doc_id NOT IN (SELECT doc_id FROM cdrop1)),
    cdrop2 AS (SELECT DISTINCT s.doc_id FROM csurv s JOIN aacc
               ON s.band_id = aacc.band_id AND s.h = aacc.h),
    cdrop3 AS (SELECT DISTINCT s.doc_id FROM csurv s JOIN bacc
               ON s.band_id = bacc.band_id AND s.h = bacc.h)
    SELECT CAST(1 AS INT) AS batch, doc_id, lang FROM documents
    WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT doc_id FROM adrop)
    UNION ALL
    SELECT CAST(2 AS INT), doc_id, lang FROM documents
    WHERE doc_id % 3 = 1
      AND doc_id NOT IN (SELECT doc_id FROM bdrop1)
      AND doc_id NOT IN (SELECT doc_id FROM bdrop2)
    UNION ALL
    SELECT CAST(3 AS INT), doc_id, lang FROM documents
    WHERE doc_id % 3 = 2
      AND doc_id NOT IN (SELECT doc_id FROM cdrop1)
      AND doc_id NOT IN (SELECT doc_id FROM cdrop2)
      AND doc_id NOT IN (SELECT doc_id FROM cdrop3)
    """


register(
    "neardup_ledger_compacted",
    _q_neardup_ledger_compacted,
    _neardup_compacted_oracle(),
)


# --------------------------------------- train/test near-dup leakage check

def _q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The check the split and the dedup exist to enable TOGETHER: count
    near-duplicate pairs (MinHash-LSH candidates verified at true
    Jaccard >= 0.5) that straddle split boundaries — a train<->test
    near-dup is evaluation leakage that whole-dataset dedup before
    splitting would have removed. Returns pair counts per (split_a,
    split_b); cross-split rows are the leakage report.

    Scale shape: the pair set comes from the banded LSH join (never all
    pairs); the split column is a pure projection joined onto the pair
    endpoints by id."""
    from gcp_etl_pipeline_spark.operators.curation import dataset_split

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, threshold=0.5
    ).select("a", "b")
    split = dataset_split(
        docs, "doc_id", val_pct=10.0, test_pct=10.0
    ).select("doc_id", "split")
    return (
        pairs.join(
            split.select(F.col("doc_id").alias("a"), F.col("split").alias("split_a")),
            "a",
        )
        .join(
            split.select(F.col("doc_id").alias("b"), F.col("split").alias("split_b")),
            "b",
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _split_leakage_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.curation import (
        dataset_split_case_sql,
    )

    split_case = dataset_split_case_sql("{id}", val_pct=10.0, test_pct=10.0)
    mins = ", ".join(
        f"MIN(substring(md5('{k}|' || shingle), 1, 16)) AS mh{k}"
        for k in range(_NUM_HASHES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({concat}) AS h FROM sig".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * _ROWS + r}" for r in range(_ROWS)),
        )
        for b in range(_BANDS)
    )
    return f"""
    WITH {_TOK_CTE}, {_SH_CTE},
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS ({band_rows}),
    cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             FROM bands x JOIN bands y
               ON x.band_id = y.band_id AND x.h = y.h AND x.doc_id < y.doc_id),
    c AS (SELECT cand.a, cand.b, COUNT(*) AS nc
          FROM cand JOIN sh sa ON sa.doc_id = cand.a
                    JOIN sh sb ON sb.doc_id = cand.b AND sb.shingle = sa.shingle
          GROUP BY 1, 2),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (SELECT c.a, c.b FROM c
              JOIN sz za ON c.a = za.doc_id JOIN sz zb ON c.b = zb.doc_id
              WHERE CAST(nc AS DOUBLE) / (za.n + zb.n - nc) >= 0.5)
    SELECT {split_case.format(id='a')} AS split_a,
           {split_case.format(id='b')} AS split_b,
           COUNT(*) AS n_pairs
    FROM pairs GROUP BY 1, 2
    """


register("split_leakage_check", _q_split_leakage, _split_leakage_oracle())


# ------------------------------------------------- boilerplate mining
# operators/dedup.py:boilerplate_ngrams — the df-ranked shingle table a
# curation run reads before tuning crossdoc/near-dup thresholds. Ties at
# the top-k boundary break on (n_docs desc, shingle asc) in both engines,
# so the SET of returned rows is deterministic.

def _q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.boilerplate_ngrams(_docs(spark, sf_dir), top_k=20)


register(
    "boilerplate_top_ngrams",
    _q_boilerplate,
    f"""
    WITH {_TOK_CTE}, {_SH_CTE}
    SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM sh GROUP BY shingle
    ORDER BY n_docs DESC, shingle ASC
    LIMIT 20
    """,
)


# ------------------------------------------- intra-doc chunk dedup

def _q_intradoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-repetition removal graded against planted stutter: every
    5th document's text is DOUBLED (the template-repeat shape), then
    `intradoc_chunk_dedup` must excise exactly the repeated chunks —
    the oracle replays the doubling, the CDC decomposition, and the
    keep-first-occurrence rule per document. Note the doubled stream's
    seam chunk (copy 1's unboundaried tail merged with copy 2's head)
    is handled by replay, not by assumption."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat("text", F.lit(" "), "text"),
        ).otherwise(F.col("text")).alias("text"),
    )
    return dedup.intradoc_chunk_dedup(docs)


register(
    "intradoc_paragraph_dedup",
    _q_intradoc_dedup,
    f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(
               CASE WHEN doc_id % 5 = 0 THEN text || ' ' || text
                    ELSE text END), '[^a-z0-9]+'),
               t -> t <> '') AS toks
      FROM documents),
    {CDC_CHUNK_CTES},
    m AS (SELECT doc_id, idx, chunk,
                 ROW_NUMBER() OVER (PARTITION BY doc_id, chunk
                                    ORDER BY idx) AS rn
          FROM e)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS removed_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN len(string_split(chunk, ' '))
                    ELSE 0 END) AS BIGINT) AS kept_tokens,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END,
                               ' ' ORDER BY idx), '') AS clean_text
    FROM m GROUP BY doc_id
    """,
)


# ------------------------------ bitext mining (ratio-margin criterion)

_BTX_K = 4
_BTX_THR_U = 1_050_000


def _q_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel-corpus mining: the even-id half of the embedding table
    plays the source language, the odd-id half the target; mutual
    best-margin pairs above 1.05 are the mined bitext (ratio margin —
    hub vectors normalize away). Everything after the two kNN arms
    joins integer µ-cos edges only."""
    embs = _embs(spark, sf_dir)
    src = embs.where(F.col("vec_id") % 2 == 0)
    tgt = embs.where(F.col("vec_id") % 2 == 1)
    return similarity.bitext_margin_mine(
        src, tgt, k=_BTX_K, margin_thr_u=_BTX_THR_U
    )


# the shared bitext CTE chain (mined = the accepted mutual-best pairs),
# extended by the split-leakage oracle below
_BTX_CTES = f"""
    A AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id % 2 = 0),
    B AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
    f0 AS (SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
                  {_qcos('a.embedding', 'b.embedding')} AS cos_sim
           FROM A a CROSS JOIN B b),
    fr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
             ORDER BY cos_sim DESC, tgt_id) AS rn FROM f0),
    fwd AS (SELECT src_id, tgt_id, cos_sim,
                   CAST(FLOOR(cos_sim * 1000000) AS BIGINT) AS cos_u
            FROM fr WHERE rn <= {_BTX_K}),
    r0 AS (SELECT b.vec_id AS tgt_id, a.vec_id AS src_id,
                  {_qcos('b.embedding', 'a.embedding')} AS cos_sim
           FROM B b CROSS JOIN A a),
    rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY tgt_id
             ORDER BY cos_sim DESC, src_id) AS rn FROM r0),
    rev AS (SELECT tgt_id,
                   CAST(FLOOR(cos_sim * 1000000) AS BIGINT) AS cos_u
            FROM rr WHERE rn <= {_BTX_K}),
    sf AS (SELECT src_id, CAST(SUM(cos_u) AS BIGINT) AS sum_fwd_u
           FROM fwd GROUP BY 1),
    sr AS (SELECT tgt_id, CAST(SUM(cos_u) AS BIGINT) AS sum_rev_u
           FROM rev GROUP BY 1),
    cand AS (SELECT f.src_id, f.tgt_id, f.cos_sim, f.cos_u,
                    sf.sum_fwd_u + sr.sum_rev_u AS den
             FROM fwd f JOIN sf USING (src_id) JOIN sr USING (tgt_id)
             WHERE sf.sum_fwd_u + sr.sum_rev_u > 0),
    m AS (SELECT src_id, tgt_id, cos_sim,
                 CAST(FLOOR(CAST(cos_u * {2 * _BTX_K} * 1000000 AS DOUBLE)
                            / den) AS BIGINT) AS margin_u
          FROM cand),
    rk AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY src_id
               ORDER BY margin_u DESC, tgt_id) AS rs,
             ROW_NUMBER() OVER (PARTITION BY tgt_id
               ORDER BY margin_u DESC, src_id) AS rt
           FROM m),
    mined AS (SELECT src_id, tgt_id, cos_sim, margin_u
              FROM rk WHERE rs = 1 AND rt = 1
                AND margin_u >= {_BTX_THR_U})"""

register(
    "bitext_margin_mining",
    _q_bitext_margin,
    f"""
    WITH {_BTX_CTES}
    SELECT src_id, tgt_id, cos_sim, margin_u FROM mined
    """,
)


# ------------------ cross-lingual split leakage (bitext x dataset_split)

def _q_bitext_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multilingual leakage a monolingual near-dup check cannot
    see: an accepted TRANSLATION pair whose two sides land in different
    dataset splits — the model trains on the English side and is
    evaluated on its Spanish twin. Composes the mined bitext
    (ratio-margin mutual best) with the deterministic split projection
    on both endpoints; cross-split rows are the leakage report, with
    the per-pair margin preserved so the worst offenders rank first.

    Scale shape: everything after the kNN arms joins (id, id, margin)
    edges; the split column is a pure md5 projection — no extra
    shuffle beyond the two id-keyed joins."""
    from gcp_etl_pipeline_spark.operators.curation import dataset_split

    embs = _embs(spark, sf_dir)
    src = embs.where(F.col("vec_id") % 2 == 0)
    tgt = embs.where(F.col("vec_id") % 2 == 1)
    mined = similarity.bitext_margin_mine(
        src, tgt, k=_BTX_K, margin_thr_u=_BTX_THR_U
    )
    split = dataset_split(
        embs.select("vec_id"), "vec_id", val_pct=10.0, test_pct=10.0
    )
    return (
        mined.join(
            split.select(
                F.col("vec_id").alias("src_id"),
                F.col("split").alias("split_src"),
            ),
            "src_id",
        )
        .join(
            split.select(
                F.col("vec_id").alias("tgt_id"),
                F.col("split").alias("split_tgt"),
            ),
            "tgt_id",
        )
        .select(
            "src_id",
            "tgt_id",
            "margin_u",
            "split_src",
            "split_tgt",
            (F.col("split_src") != F.col("split_tgt")).alias("is_leak"),
        )
    )


def _bitext_split_leakage_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.curation import (
        dataset_split_case_sql,
    )

    sc = dataset_split_case_sql("{id}", val_pct=10.0, test_pct=10.0)
    return f"""
    WITH {_BTX_CTES}
    SELECT src_id, tgt_id, margin_u,
           {sc.format(id="src_id")} AS split_src,
           {sc.format(id="tgt_id")} AS split_tgt,
           {sc.format(id="src_id")} <> {sc.format(id="tgt_id")} AS is_leak
    FROM mined
    """


register(
    "bitext_split_leakage",
    _q_bitext_split_leakage,
    _bitext_split_leakage_oracle(),
)


# -------------------- hard-negative triplet mining (embedding training)

_TRIP_K = 10


def _q_triplet_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pair construction for embedding models: per anchor, the
    best same-label neighbor (positive) and best different-label
    neighbor (hard negative) from the exact top-k, with the µ-unit
    cosine margin — negative margins mark the anchors a contrastive
    run learns the most from."""
    embs = _embs(spark, sf_dir)
    anchors = embs.where(F.col("vec_id") % 25 == 0)
    return similarity.triplet_mine(embs, anchors, k=_TRIP_K)


register(
    "triplet_mining_hard_neg",
    _q_triplet_mine,
    f"""
    WITH q AS (SELECT vec_id AS anchor_id, embedding AS qv, label AS al
               FROM embeddings WHERE vec_id % 25 = 0),
    s AS (SELECT q.anchor_id, q.al, e.vec_id AS nid, e.label AS nl,
                 {_qcos('q.qv', 'e.embedding')} AS cos_sim
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.anchor_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
            ORDER BY cos_sim DESC, nid) AS rn FROM s),
    topk AS (SELECT * FROM r WHERE rn <= {_TRIP_K}),
    cls AS (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY anchor_id, nl = al
              ORDER BY cos_sim DESC, nid) AS crk
            FROM topk),
    pos AS (SELECT anchor_id, nid AS positive_id, cos_sim AS cos_pos
            FROM cls WHERE crk = 1 AND nl = al),
    neg AS (SELECT anchor_id, nid AS negative_id, cos_sim AS cos_neg
            FROM cls WHERE crk = 1 AND nl <> al)
    SELECT anchor_id, positive_id, negative_id, cos_pos, cos_neg,
           CAST(FLOOR((cos_pos - cos_neg) * 1000000) AS BIGINT)
             AS margin_u
    FROM pos JOIN neg USING (anchor_id)
    """,
)


# ------------------- product-quantized ANN (asymmetric distance)

_PQ_M, _PQ_KSUB, _PQ_ITERS = 16, 32, 2
_PQ_DSUB = 64 // _PQ_M


def _pq_d2(a: str, b: str, w: int = _PQ_DSUB) -> str:
    """Exact int64 squared L2 between two w-dim quantized subvectors —
    the SQL twin of similarity._l2q."""
    return (
        f"CAST(list_sum(list_transform(range(1, {w} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


def _pq_lloyd_iter(
    i: int, src: str = "dsub", p: str = "p", w: int = _PQ_DSUB
) -> str:
    """One unrolled per-subspace Lloyd round: assign each subvector to
    its nearest codeword (exact int64 L2, ties d2/code), recenter with
    per-(sub, code, dim) integer sums and Python-floor-division means
    (positive-mod arithmetic), keep the previous codeword for empty or
    all-zero codes. MATERIALIZED: {p}cb{{i}} is referenced twice (next
    round's assignment + its own keep-prev join). ``src`` names the
    (vec_id, sub, sv) subvector CTE, ``p`` prefixes the round CTEs
    (so two Lloyd chains — e.g. IVFADC's coarse and fine quantizers —
    coexist in one query), ``w`` is the subvector width."""
    prev = f"{p}cb{i - 1}"
    return f""",
{p}a{i} AS (SELECT d.vec_id AS vec_id, d.sub AS sub, d.sv AS sv,
                 c.code AS code,
                 ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.sub
                   ORDER BY {_pq_d2('d.sv', 'c.cw', w)} ASC, c.code ASC)
                   AS rk
          FROM {src} d JOIN {prev} c ON d.sub = c.sub),
{p}m{i} AS (SELECT sub, code, dd.d AS d,
                 SUM(sv[dd.d + 1]) AS s, COUNT(*) AS n
          FROM {p}a{i}, (SELECT unnest(range({w})) AS d) dd
          WHERE rk = 1 GROUP BY sub, code, dd.d),
{p}v{i} AS (SELECT sub, code, list(fd ORDER BY d) AS cw FROM (
            SELECT sub, code, d,
                   CAST((s - (((s % n) + n) % n)) / n AS BIGINT) AS fd
            FROM {p}m{i}) t GROUP BY sub, code),
{p}cb{i} AS MATERIALIZED (SELECT p.sub, p.code,
            CASE WHEN v.cw IS NULL
                      OR list_sum(list_transform(v.cw, x -> ABS(x))) = 0
                 THEN p.cw ELSE v.cw END AS cw
          FROM {prev} p LEFT JOIN {p}v{i} v
            ON p.sub = v.sub AND p.code = v.code)"""


# shared CTE chain: µ-quantize -> seed codebook from the 16 lowest-id
# vectors -> per-subspace Lloyd refinement (unrolled, exact integer
# means) -> per-subspace encode (exact int64 L2, ties d2/code) ->
# per-query LUT -> ADC sum. All-integer math end to end.
_PQ_CTES = f"""
e AS (SELECT vec_id,
        list_transform(embedding,
          v -> CAST(ROUND(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))
          AS qv
      FROM embeddings),
seeds AS (SELECT vec_id, qv FROM e ORDER BY vec_id LIMIT {_PQ_KSUB}),
cb0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
              AS code, qv
        FROM seeds),
subs AS (SELECT CAST(unnest(range({_PQ_M})) AS BIGINT) AS sub),
pcb0 AS (SELECT sub, code,
           qv[CAST(sub * {_PQ_DSUB} + 1 AS INT):CAST(sub * {_PQ_DSUB} + {_PQ_DSUB} AS INT)] AS cw
         FROM cb0, subs),
dsub AS MATERIALIZED (SELECT vec_id, sub,
           qv[CAST(sub * {_PQ_DSUB} + 1 AS INT):CAST(sub * {_PQ_DSUB} + {_PQ_DSUB} AS INT)] AS sv
         FROM e, subs)
{"".join(_pq_lloyd_iter(i) for i in range(1, _PQ_ITERS + 1))},
cb AS (SELECT sub, code, cw FROM pcb{_PQ_ITERS}),
cdist AS (SELECT vec_id, sub, code,
            {_pq_d2('sv', 'cw')} AS d2
          FROM dsub JOIN cb USING (sub)),
enc AS (SELECT vec_id, sub, code FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                       ORDER BY d2 ASC, code ASC) AS rn
           FROM cdist)
        WHERE rn = 1),
q AS (SELECT vec_id AS query_id, sub, sv FROM dsub
      WHERE vec_id % 50 = 0),
lut AS (SELECT query_id, sub, code,
          {_pq_d2('sv', 'cw')} AS qd2
        FROM q JOIN cb USING (sub)),
adc AS (SELECT query_id, vec_id AS neighbor_id,
          CAST(SUM(qd2) AS BIGINT) AS adc
        FROM enc JOIN lut USING (sub, code)
        WHERE vec_id <> query_id
        GROUP BY 1, 2)
"""


def _q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN end to end: codebook from the 16 lowest-id vectors,
    per-subspace exact-int64 encode, per-query ADC lookup table
    broadcast onto the 32x-compressed code table, top-5. The
    memory-scale path: the scan side never touches vectors."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.knn_pq(
        embs, queries, k=5, m=_PQ_M, ksub=_PQ_KSUB
    )


register(
    "similarity_knn_pq",
    _q_knn_pq,
    f"""
    WITH {_PQ_CTES}
    SELECT query_id, neighbor_id, adc, rn FROM
      (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc ASC, neighbor_id ASC) AS BIGINT) AS rn
       FROM adc)
    WHERE rn <= 5
    """,
)


def _q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ/ADC index against the exact answer under the
    SAME metric it approximates (integer squared L2 over quantized
    vectors): per query, how many of the true top-5 the compressed
    index returns. The brute side is the O(nq) correctness baseline
    (test-SF only); the PQ side is the at-scale path being graded."""
    from pyspark.sql import Window

    _guard_fixture_dim(sf_dir)
    embs = _embs(spark, sf_dir)
    qv = embs.select("vec_id", similarity.quantized("embedding").alias("__qv"))
    queries = qv.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("__qv").alias("__quv")
    )
    # static unroll over the known embedding width (codegen; exact-equal
    # to the HOF fold — see similarity._l2q_n; width guarded above)
    d2 = similarity._l2q_n(F.col("__qv"), F.col("__quv"), _IVFPQ_DIM)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    exact = (
        qv.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), d2.alias("d2")
        )
        .select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 5)
        .select("query_id", "neighbor_id")
    )
    pq_queries = embs.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = similarity.knn_pq(
        embs, pq_queries, k=5, m=_PQ_M, ksub=_PQ_KSUB
    ).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"])
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
        )
    )


register(
    "similarity_pq_recall",
    _q_pq_recall,
    f"""
    WITH {_PQ_CTES},
    pq AS (SELECT query_id, neighbor_id FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY adc ASC, neighbor_id ASC) AS rn
              FROM adc)
           WHERE rn <= 5),
    qx AS (SELECT vec_id AS query_id, qv AS quv FROM e
           WHERE vec_id % 50 = 0),
    bd AS (SELECT qx.query_id, e.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, len(e.qv) + 1),
               i -> (e.qv[i] - qx.quv[i]) * (e.qv[i] - qx.quv[i])))
               AS BIGINT) AS d2
           FROM e CROSS JOIN qx
           WHERE e.vec_id <> qx.query_id),
    ex AS (SELECT query_id, neighbor_id FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY d2 ASC, neighbor_id ASC) AS rn
              FROM bd)
           WHERE rn <= 5),
    hits AS (SELECT ex.query_id, COUNT(*) AS n_hit
             FROM ex JOIN pq USING (query_id, neighbor_id)
             GROUP BY 1)
    SELECT ex.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COALESCE(MIN(hits.n_hit), 0) AS BIGINT) AS n_hit
    FROM ex LEFT JOIN hits ON ex.query_id = hits.query_id
    GROUP BY ex.query_id
    """,
)


# ---------------- IVF+PQ composition (IVFADC — coarse lists + residual PQ)

# Geometry from a parameter sweep (numpy simulation cross-checked against
# the DuckDB oracle at sf0.01): kmeans coarse, 16 lists / 6 probes,
# m=32 x ksub=64 residual PQ -> recall 32/50 at 39% of codes scanned,
# vs the flat knn_pq scan's 26/50 at 100% (same k). Lowest-id coarse
# seeding at the same scan fraction managed only ~15/50 — the coarse
# quantizer's placement is the recall lever, exactly knn_ivf's
# centroids="kmeans" lesson.
_IVFPQ_NLISTS, _IVFPQ_NPROBE = 16, 6
_IVFPQ_M, _IVFPQ_KSUB = 32, 64
_IVFPQ_CITERS, _IVFPQ_PITERS = 2, 2
_IVFPQ_DIM = 64
_IVFPQ_DSUB = _IVFPQ_DIM // _IVFPQ_M


def _guard_fixture_dim(sf_dir: str) -> None:
    """Fail LOUDLY if the fixture's embedding width drifts from the
    ``_IVFPQ_DIM`` both the static ``_l2q_n`` unrolls and the SQL
    oracles hardcode: with a wider fixture, element_at
    past the constant would silently sum only the first ``_IVFPQ_DIM``
    components on BOTH engines and the differential gate would pass on
    a wrong ground truth. One pyarrow metadata+first-row read per
    (process, sf_dir) — no Spark job."""
    dim = _FIXTURE_EMB_DIM.get(sf_dir)
    if dim is None:
        import pyarrow.dataset as _pads

        tbl = _pads.dataset(f"{sf_dir}/embeddings.parquet").head(1)
        dim = len(tbl.column("embedding")[0])
        _FIXTURE_EMB_DIM[sf_dir] = dim
    if dim != _IVFPQ_DIM:
        raise ValueError(
            f"embeddings fixture at {sf_dir} has dim={dim}, but the "
            f"brute-force legs and SQL oracles unroll _IVFPQ_DIM="
            f"{_IVFPQ_DIM} — a silent truncation, not a tolerable drift"
        )


_FIXTURE_EMB_DIM: dict[str, int] = {}


def _ivfpq_slice(col: str) -> str:
    return (
        f"{col}[CAST(sub * {_IVFPQ_DSUB} + 1 AS INT):"
        f"CAST(sub * {_IVFPQ_DSUB} + {_IVFPQ_DSUB} AS INT)]"
    )


def _ivfpq_ctes(n_lists: int, n_probe: int) -> str:
    """Shared CTE chain for the IVFADC oracles: quantize -> coarse
    integer-Lloyd centroids (the engine's pq_codebook with m=1 — one
    full-width Lloyd chain, prefix 'c') -> exact-int64 nearest-list
    assignment (ties d2/list) -> per-vector residual -> the flat-PQ
    Lloyd/encode chain RUN ON RESIDUALS (prefix 'p'; the `dsub` CTE
    holds residual subvectors here) -> probe the n_probe nearest lists
    per query -> per-(query, list) LUT in that list's residual frame
    -> ADC sum over member codes only. Parameterized so the geometry
    A/B sweep reuses the exact graded chain."""
    d2f = lambda a, b: _pq_d2(a, b, _IVFPQ_DIM)  # noqa: E731
    d2s = lambda a, b: _pq_d2(a, b, _IVFPQ_DSUB)  # noqa: E731
    coarse_lloyd = "".join(
        _pq_lloyd_iter(i, src="cg", p="c", w=_IVFPQ_DIM)
        for i in range(1, _IVFPQ_CITERS + 1)
    )
    fine_lloyd = "".join(
        _pq_lloyd_iter(i, src="dsub", p="p", w=_IVFPQ_DSUB)
        for i in range(1, _IVFPQ_PITERS + 1)
    )
    return f"""
e AS (SELECT vec_id,
        list_transform(embedding,
          v -> CAST(ROUND(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))
          AS qv
      FROM embeddings),
cseed AS (SELECT vec_id, qv FROM e ORDER BY vec_id LIMIT {n_lists}),
ccb0 AS (SELECT CAST(0 AS BIGINT) AS sub,
                CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                  AS code,
                qv AS cw
         FROM cseed),
cg AS MATERIALIZED (SELECT vec_id, CAST(0 AS BIGINT) AS sub, qv AS sv
                    FROM e)
{coarse_lloyd},
cent AS MATERIALIZED (SELECT code AS list_id, cw AS cvec
                      FROM ccb{_IVFPQ_CITERS}),
casg AS MATERIALIZED (
  SELECT vec_id, list_id, qv FROM (
    SELECT e.vec_id, e.qv, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {d2f('e.qv', 'c.cvec')} ASC, c.list_id ASC)
             AS rk
    FROM e CROSS JOIN cent c) t
  WHERE rk = 1),
res AS MATERIALIZED (
  SELECT a.vec_id, a.list_id,
         list_transform(range(1, {_IVFPQ_DIM} + 1),
                        i -> a.qv[i] - c.cvec[i]) AS rv
  FROM casg a JOIN cent c USING (list_id)),
seeds AS (SELECT vec_id, rv AS qv FROM res ORDER BY vec_id
          LIMIT {_IVFPQ_KSUB}),
cb0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
              AS code, qv
        FROM seeds),
subs AS (SELECT CAST(unnest(range({_IVFPQ_M})) AS BIGINT) AS sub),
pcb0 AS (SELECT sub, code, {_ivfpq_slice('qv')} AS cw FROM cb0, subs),
dsub AS MATERIALIZED (SELECT vec_id, sub, {_ivfpq_slice('rv')} AS sv
                      FROM res, subs)
{fine_lloyd},
cb AS (SELECT sub, code, cw FROM pcb{_IVFPQ_PITERS}),
cdist AS (SELECT vec_id, sub, code, {d2s('sv', 'cw')} AS d2
          FROM dsub JOIN cb USING (sub)),
enc AS (SELECT vec_id, sub, code FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                       ORDER BY d2 ASC, code ASC) AS rn
           FROM cdist)
        WHERE rn = 1),
encl AS MATERIALIZED (
  SELECT n.vec_id, a.list_id, n.sub, n.code
  FROM enc n JOIN casg a USING (vec_id)),
qx AS (SELECT vec_id AS query_id, qv FROM e WHERE vec_id % 50 = 0),
qprob AS MATERIALIZED (
  SELECT query_id, list_id, qres FROM (
    SELECT q.query_id, c.list_id,
           list_transform(range(1, {_IVFPQ_DIM} + 1),
                          i -> q.qv[i] - c.cvec[i]) AS qres,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {d2f('q.qv', 'c.cvec')} ASC, c.list_id ASC)
             AS rk
    FROM qx q CROSS JOIN cent c) t
  WHERE rk <= {n_probe}),
qsub AS (SELECT query_id, list_id, sub, {_ivfpq_slice('qres')} AS sv
         FROM qprob, subs),
lut AS (SELECT query_id, list_id, sub, code,
          {d2s('sv', 'cw')} AS qd2
        FROM qsub JOIN cb USING (sub)),
adc AS (SELECT query_id, vec_id AS neighbor_id,
          CAST(SUM(qd2) AS BIGINT) AS adc
        FROM encl JOIN lut USING (list_id, sub, code)
        WHERE vec_id <> query_id
        GROUP BY 1, 2)
"""


_IVFPQ_CTES = _ivfpq_ctes(_IVFPQ_NLISTS, _IVFPQ_NPROBE)


def _ivfpq_parts(spark: SparkSession, sf_dir: str):
    from gcp_etl_pipeline_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_probes,
    )

    embs = _embs(spark, sf_dir)
    index = ivfpq_index(
        embs, n_lists=_IVFPQ_NLISTS, m=_IVFPQ_M, ksub=_IVFPQ_KSUB,
        iters=_IVFPQ_PITERS, coarse="kmeans",
        coarse_iters=_IVFPQ_CITERS,
    )
    queries = embs.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    probes = ivfpq_probes(
        queries, index.cent, n_probe=_IVFPQ_NPROBE, dim=index.dim
    )
    return index, probes


def _q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC ANN end to end: coarse lists prune the scan (n_probe/
    n_lists of the code table), residual PQ sharpens the quantization
    at the same m x ksub budget — the billion-vector shape the flat
    knn_pq scan is missing."""
    from gcp_etl_pipeline_spark.operators.similarity import ivfpq_adc_topk

    index, probes = _ivfpq_parts(spark, sf_dir)
    return ivfpq_adc_topk(index, probes, k=5, m=_IVFPQ_M)


register(
    "similarity_knn_ivfpq",
    _q_knn_ivfpq,
    f"""
    WITH {_IVFPQ_CTES}
    SELECT query_id, neighbor_id, adc, rn FROM
      (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc ASC, neighbor_id ASC) AS BIGINT) AS rn
       FROM adc)
    WHERE rn <= 5
    """,
)


def _q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVFADC index against the exact answer under the
    metric it approximates, PLUS the per-query scanned-candidate count
    (probed-list members) — the graded evidence that list pruning cut
    the scan while holding recall. The brute side is the O(nq)
    correctness baseline (test-SF only)."""
    from pyspark.sql import Window

    from gcp_etl_pipeline_spark.operators.similarity import (
        _l2q_n,
        ivfpq_adc_topk,
        quantized,
    )

    _guard_fixture_dim(sf_dir)
    embs = _embs(spark, sf_dir)
    qv = embs.select("vec_id", quantized("embedding").alias("__qv"))
    queries = qv.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("__qv").alias("__quv")
    )
    d2 = _l2q_n(F.col("__qv"), F.col("__quv"), _IVFPQ_DIM)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    exact = (
        qv.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), d2.alias("d2")
        )
        .select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 5)
        .select("query_id", "neighbor_id")
    )
    index, probes = _ivfpq_parts(spark, sf_dir)
    approx = ivfpq_adc_topk(index, probes, k=5, m=_IVFPQ_M).select(
        "query_id", "neighbor_id"
    )
    scanned = (
        probes.join(index.assigned, "list_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_scanned"))
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"])
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .join(scanned, "query_id")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            "n_scanned",
        )
    )


def _q_pq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance — the production ANN shape: the
    codebook is trained ONCE on the base corpus (vec_id % 10 != 0)
    and FROZEN; newly-arrived vectors (the % 10 == 0 delta) are
    encoded against it without retraining. Per-vector encode is
    embarrassingly parallel, so appends never touch the existing code
    table — the invariant that makes a PQ index maintainable at
    billion-vector scale. Graded: the delta slice's (vec_id, sub,
    code) under the frozen base codebook; the oracle retrains base-
    only Lloyd and encodes the delta independently."""
    embs = _embs(spark, sf_dir)
    base = embs.where(F.col("vec_id") % 10 != 0)
    delta = embs.where(F.col("vec_id") % 10 == 0)
    cb = similarity.pq_codebook(
        base, m=_PQ_M, ksub=_PQ_KSUB, iters=_PQ_ITERS
    )
    return similarity.pq_codes(delta, cb, m=_PQ_M, dsub=_PQ_DSUB)


register(
    "similarity_pq_append",
    _q_pq_append,
    f"""
    WITH e AS (SELECT vec_id,
            list_transform(embedding,
              v -> CAST(ROUND(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))
              AS qv
          FROM embeddings),
    eb AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
    ed AS (SELECT * FROM e WHERE vec_id % 10 = 0),
    seeds AS (SELECT vec_id, qv FROM eb ORDER BY vec_id
              LIMIT {_PQ_KSUB}),
    cb0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
                  AS BIGINT) AS code, qv
            FROM seeds),
    subs AS (SELECT CAST(unnest(range({_PQ_M})) AS BIGINT) AS sub),
    pcb0 AS (SELECT sub, code,
               qv[CAST(sub * {_PQ_DSUB} + 1 AS INT):CAST(sub * {_PQ_DSUB} + {_PQ_DSUB} AS INT)] AS cw
             FROM cb0, subs),
    dsub AS MATERIALIZED (SELECT vec_id, sub,
               qv[CAST(sub * {_PQ_DSUB} + 1 AS INT):CAST(sub * {_PQ_DSUB} + {_PQ_DSUB} AS INT)] AS sv
             FROM eb, subs)
    {"".join(_pq_lloyd_iter(i) for i in range(1, _PQ_ITERS + 1))},
    cb AS (SELECT sub, code, cw FROM pcb{_PQ_ITERS}),
    ddsub AS (SELECT vec_id, sub,
               qv[CAST(sub * {_PQ_DSUB} + 1 AS INT):CAST(sub * {_PQ_DSUB} + {_PQ_DSUB} AS INT)] AS sv
             FROM ed, subs),
    cdist AS (SELECT vec_id, sub, code, {_pq_d2('sv', 'cw')} AS d2
              FROM ddsub JOIN cb USING (sub))
    SELECT vec_id, sub, code FROM
      (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                   ORDER BY d2 ASC, code ASC) AS rn
       FROM cdist)
    WHERE rn = 1
    """,
)


_IVFPQ_RERANK = 32


def _q_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC + exact rerank: the ADC shortlist (top-32 per query)
    re-ranked by exact int64 L2 over the fetched candidate vectors —
    quantization error picks the shortlist, never the final order.
    Recall recovers to the list-pruning ceiling at the same scan
    fraction."""
    from gcp_etl_pipeline_spark.operators.similarity import ivfpq_rerank

    embs = _embs(spark, sf_dir)
    index, probes = _ivfpq_parts(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_rerank(
        index, probes, embs, queries, k=5, rerank=_IVFPQ_RERANK,
        m=_IVFPQ_M,
    )


register(
    "similarity_ivfpq_rerank",
    _q_ivfpq_rerank,
    f"""
    WITH {_IVFPQ_CTES},
    cand AS (SELECT query_id, neighbor_id FROM
               (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY adc ASC, neighbor_id ASC) AS rn
                FROM adc)
             WHERE rn <= {_IVFPQ_RERANK}),
    rr AS (SELECT c.query_id, c.neighbor_id,
             {_pq_d2('e.qv', 'q.qv', _IVFPQ_DIM)} AS d2
           FROM cand c
           JOIN e ON e.vec_id = c.neighbor_id
           JOIN qx q ON q.query_id = c.query_id)
    SELECT query_id, neighbor_id, d2, rn FROM
      (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY d2 ASC, neighbor_id ASC) AS BIGINT) AS rn
       FROM rr)
    WHERE rn <= 5
    """,
)


register(
    "similarity_ivfpq_recall",
    _q_ivfpq_recall,
    f"""
    WITH {_IVFPQ_CTES},
    pq AS (SELECT query_id, neighbor_id FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY adc ASC, neighbor_id ASC) AS rn
              FROM adc)
           WHERE rn <= 5),
    qxv AS (SELECT vec_id AS query_id, qv AS quv FROM e
            WHERE vec_id % 50 = 0),
    bd AS (SELECT qxv.query_id, e.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, len(e.qv) + 1),
               i -> (e.qv[i] - qxv.quv[i]) * (e.qv[i] - qxv.quv[i])))
               AS BIGINT) AS d2
           FROM e CROSS JOIN qxv
           WHERE e.vec_id <> qxv.query_id),
    ex AS (SELECT query_id, neighbor_id FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY d2 ASC, neighbor_id ASC) AS rn
              FROM bd)
           WHERE rn <= 5),
    hits AS (SELECT ex.query_id, COUNT(*) AS n_hit
             FROM ex JOIN pq USING (query_id, neighbor_id)
             GROUP BY 1),
    scan AS (SELECT p.query_id, CAST(COUNT(*) AS BIGINT) AS n_scanned
             FROM qprob p JOIN casg a USING (list_id)
             WHERE a.vec_id <> p.query_id
             GROUP BY 1)
    SELECT ex.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COALESCE(MIN(hits.n_hit), 0) AS BIGINT) AS n_hit,
           CAST(MIN(scan.n_scanned) AS BIGINT) AS n_scanned
    FROM ex LEFT JOIN hits ON ex.query_id = hits.query_id
         JOIN scan ON ex.query_id = scan.query_id
    GROUP BY ex.query_id
    """,
)
