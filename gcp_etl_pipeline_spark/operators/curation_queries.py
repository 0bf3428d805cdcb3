"""Driver-facing queries for the curation / frequent-items / fuzzy-match
/ embedding-centroid operators, each with a DuckDB oracle.

Determinism recipes reused from the rest of the suite: exact integer
counts, µ-unit quantization for the single ln/division per row, md5 for
cross-engine hashing, (score desc, key asc) tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators import curation, freq
from gcp_etl_pipeline_spark.operators.text import tokens
from gcp_etl_pipeline_spark.queries_relational import ensure_views, shared_sql
from gcp_etl_pipeline_spark.registry import register
from gcp_etl_pipeline_spark.sources.files import read_parquet
from gcp_etl_pipeline_spark.operators.parallel import spread, spread_scan


def _scan(spark: SparkSession, path: str) -> DataFrame:
    """Fixture-table scan with the partition-spread guard: a test-SF
    parquet file is ONE input split, which would serialize every fused
    downstream projection (the regex parse chains this module is made
    of) onto a single core. At real scale the scan already yields >=
    cluster-parallelism splits and the guard is a no-op; the
    needs-spread probe is memoized per path (operators/parallel.py)."""
    return spread_scan(read_parquet(spark, path), path)

def _sql_lit(s: str) -> str:
    """A DuckDB single-quoted string literal: the ONE escape path every
    pattern and literal interpolated into oracle SQL goes through
    (a hand-interpolated pattern with a quote would silently corrupt an
    oracle)."""
    return "'" + s.replace("'", "''") + "'"


_TOK_CTE = """
tok AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS toks
  FROM documents
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scan(spark, f"{sf_dir}/documents.parquet")


# ------------------------------------------------------------ PII redaction
# The fixture corpus carries no natural PII, so the query synthesizes a
# contact string from customer fields IDENTICALLY in both engines, then
# exercises the real redaction chain (email → url → phone) against it.

_CONTACT = (
    "concat(c_name, ' <', lower(c_mktsegment), '@example.com> call 555-', "
    "CAST(c_custkey AS STRING), ' https://ex.org/', lower(c_mktsegment))"
)


def _q_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    contacts = spark.sql(
        f"SELECT c_custkey, {_CONTACT} AS contact FROM customer"
    )
    return contacts.select(
        "c_custkey",
        *curation.pii_counts("contact"),
        curation.redact_pii("contact").alias("redacted"),
    )


def _pii_oracle() -> str:
    cnts = ", ".join(
        f"CAST(len(regexp_extract_all(contact, '{pat}')) AS INT) AS n_{name}"
        for name, pat, _ in curation.REDACTIONS
    )
    red = "contact"
    for _, pat, repl in curation.REDACTIONS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
    WITH c AS (SELECT c_custkey, {_CONTACT} AS contact FROM customer)
    SELECT c_custkey, {cnts}, {red} AS redacted FROM c
    """


register("pii_redact_contacts", _q_pii, _pii_oracle())


# ------------------------------------------------------------ TF-IDF top-k

def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = curation.tfidf(_docs(spark, sf_dir))
    return curation.top_terms(scored, k=3).select(
        "doc_id", "rk", "term", "score_u"
    )


register(
    "tfidf_top_terms",
    _q_tfidf,
    f"""
    WITH {_TOK_CTE},
    tc AS (
      SELECT doc_id, unnest(toks) AS term FROM tok
    ),
    term_counts AS (
      SELECT doc_id, term, COUNT(*) AS cnt FROM tc GROUP BY 1, 2
    ),
    doc_lens AS (
      SELECT doc_id, SUM(cnt) AS n_toks FROM term_counts GROUP BY 1
    ),
    dfreq AS (
      SELECT term, COUNT(*) AS df FROM term_counts GROUP BY 1
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.term,
             CAST(ROUND(
               (CAST(t.cnt AS DOUBLE) / l.n_toks)
               * ln(CAST(n.n_docs AS DOUBLE) / f.df) * 1000000, 0)
             AS BIGINT) AS score_u
      FROM term_counts t
      JOIN doc_lens l USING (doc_id)
      JOIN dfreq f USING (term), nd n
    ),
    ranked AS (
      SELECT doc_id, term, score_u,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score_u DESC, term ASC) AS rk
      FROM scored
    )
    SELECT doc_id, CAST(rk AS INT) AS rk, term, score_u
    FROM ranked WHERE rk <= 3
    """,
)


# ----------------------------------------------------- bigram collocations

def _q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.bigram_collocations(_docs(spark, sf_dir), min_count=20)


register(
    "bigram_collocations",
    _q_collocations,
    f"""
    WITH {_TOK_CTE},
    bg AS (
      SELECT unnest(list_transform(range(1, len(toks)),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS s
      FROM tok WHERE len(toks) >= 2
    ),
    pair AS (
      SELECT s.w1 AS w1, s.w2 AS w2, COUNT(*) AS n FROM bg GROUP BY 1, 2
    ),
    heads AS (SELECT w1, SUM(n) AS n_head FROM pair GROUP BY 1),
    tails AS (SELECT w2, SUM(n) AS n_tail FROM pair GROUP BY 1),
    tot AS (SELECT SUM(n) AS n_total FROM pair)
    SELECT p.w1, p.w2, p.n,
           CAST(ROUND(ln(CAST(p.n AS DOUBLE) * t.n_total
                         / (h.n_head * tl.n_tail)) * 1000000, 0)
                AS BIGINT) AS pmi_u
    FROM pair p
    JOIN heads h USING (w1) JOIN tails tl USING (w2), tot t
    WHERE p.n >= 20
    """,
)


# ------------------------------------------- frequent items (Misra-Gries)
# capacity 512 ≫ the fixture vocabulary → the summary never evicts and
# the lower bounds are exact counts, so the sketch path differentially
# matches the exact GROUP BY oracle. The eviction (lossy) path is
# unit-tested in tests/test_curation.py with capacity < vocabulary.

_FREQ_CAPACITY = 512


def _q_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        F.explode(tokens("text")).alias("item")
    )
    total = toks.count()
    return freq.frequent_items(
        toks, "item", capacity=_FREQ_CAPACITY, min_count=total // 100
    ).select(F.col("item").alias("term"), F.col("cnt").alias("est_count"))


register(
    "sketch_frequent_items",
    _q_frequent,
    f"""
    WITH {_TOK_CTE},
    tc AS (SELECT unnest(toks) AS term FROM tok),
    counts AS (SELECT term, COUNT(*) AS est_count FROM tc GROUP BY 1),
    tot AS (SELECT SUM(est_count) AS n FROM counts)
    SELECT term, est_count FROM counts, tot
    WHERE est_count >= CAST(n AS BIGINT) // 100
    """,
)


# JVM-side twin of the MG path: Spark 4's approx_top_k (a DataSketches
# frequent-items aggregate — partial/merge inside whole-stage codegen, no
# Python). maxItemsTracked 8192 ≫ vocabulary keeps it in exact mode, so
# it shares the MG query's oracle; at scale it degrades gracefully to
# lower-bound counts exactly like the MG operator.

def _q_approx_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        F.explode(tokens("text")).alias("item")
    )
    total = toks.count()
    return (
        toks.select(
            F.expr("approx_top_k(item, 200, 8192)").alias("tk")
        )
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("term"),
            F.col("e.count").alias("est_count"),
        )
        .filter(F.col("est_count") >= total // 100)
    )


register(
    "approx_top_terms",
    _q_approx_top,
    f"""
    WITH {_TOK_CTE},
    tc AS (SELECT unnest(toks) AS term FROM tok),
    counts AS (SELECT term, COUNT(*) AS est_count FROM tc GROUP BY 1),
    tot AS (SELECT SUM(est_count) AS n FROM counts)
    SELECT term, est_count FROM counts, tot
    WHERE est_count >= CAST(n AS BIGINT) // 100
    """,
)


# ------------------------------------------------------ stratified sample
# Per-stratum deterministic md5 sampling: high-priority orders kept at
# ~50%, the rest at ~10% — the reproducible, cross-engine, joinable
# alternative to per-stratum TABLESAMPLE.

shared_sql(
    "stratified_sample_orders",
    """
    SELECT o_orderpriority, COUNT(*) AS n_sampled,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders
    WHERE substring(md5(CAST(o_orderkey AS STRING)), 1, 2)
          < CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN '80' ELSE '1a' END
    GROUP BY o_orderpriority
    """,
)


# ------------------------------------------------- fuzzy match (blocked)
# Edit-distance self-join with equality blocking (brand + first name
# token): the blocking keys turn an O(n²) comparison into a shuffle-
# partitioned equi-join whose per-block candidate sets stay small — the
# standard entity-resolution shape at scale.

shared_sql(
    "fuzzy_pairs_parts",
    """
    SELECT a.p_brand, COUNT(*) AS n_pairs,
           CAST(MIN(a.p_partkey) AS BIGINT) AS min_key
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand
     AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    GROUP BY a.p_brand
    """,
)


# ---------------------------------------------------- embedding centroids
# Per-label mean vector, one row per (label, dimension) so every output
# cell is a scalar bigint: each float is µ-quantized FIRST, summed
# exactly as integers, and one deterministic division closes it out.

def _q_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _scan(spark, f"{sf_dir}/embeddings.parquet")
    exploded = embs.select(
        "label", F.posexplode("embedding").alias("i", "v")
    ).select(
        "label",
        (F.col("i") + 1).alias("i"),
        F.round(F.col("v").cast("double") * 1_000_000)
        .cast("bigint")
        .alias("v_u"),
    )
    return exploded.groupBy("label", "i").agg(
        F.round(F.sum("v_u") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("avg_u")
    )


register(
    "embedding_centroids",
    _q_centroids,
    """
    SELECT label, CAST(i AS INT) AS i,
           CAST(ROUND(CAST(SUM(v_u) AS DOUBLE) / COUNT(*), 0) AS BIGINT)
             AS avg_u
    FROM (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS i,
             CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
                  AS BIGINT) AS v_u
      FROM embeddings
    ) q
    GROUP BY label, i
    """,
)


# ------------------------------------------------------ decontamination
# Benchmark = every 97th doc (deterministic eval-suite stand-in); flag
# corpus docs sharing >= 2 distinct trigram shingles with it. Benchmark
# members flag themselves (trivially full overlap) — kept, the oracle
# agrees, and real runs pass a disjoint eval set.
def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bench = docs.where("doc_id % 97 = 0")
    return curation.decontaminate_overlap(docs, bench, n=3, min_overlap=2)


register(
    "decontaminate_overlap",
    _q_decontaminate,
    f"""
    WITH {_TOK_CTE},
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))) AS shingle
      FROM tok WHERE len(toks) >= 3
    ),
    b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
    SELECT sh.doc_id, COUNT(*) AS n_hits
    FROM sh JOIN b ON sh.shingle = b.shingle
    GROUP BY sh.doc_id
    HAVING COUNT(*) >= 2
    """,
)


# --------------------------------------------------- repetition filtering
# Gopher/C4-style repetition signals: duplicate-token fraction and
# top-token fraction per document (high values => boilerplate/spam).
# Computed via explode + two keyed aggregates — the (doc, token) shuffle
# is the same shape as TF-IDF and scales the same way; all ratios are
# single IEEE divisions of exact integers (bit-identical cross-engine).
def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("t"))
    per = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").cast("bigint").alias("top_count"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_count",
        (
            F.lit(1.0)
            - F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")
        ).alias("dup_frac"),
        (
            F.col("top_count").cast("double") / F.col("n_tokens").cast("double")
        ).alias("top_frac"),
    )


register(
    "text_repetition_stats",
    _q_repetition,
    f"""
    WITH {_TOK_CTE},
    t AS (SELECT doc_id, unnest(toks) AS t FROM tok),
    per AS (SELECT doc_id, t, COUNT(*) AS c FROM t GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS top_count,
           1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_frac,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_frac
    FROM per GROUP BY doc_id
    """,
)


# ------------------------------------------------------- mixture sampling
# Data-mixture step: downsample per language toward a target mix (en
# dominant, zh capped hard). Membership is md5(doc_id)-derived, so the
# DuckDB oracle reproduces the exact sample.
_MIX_RATES = {"en": 0.9, "de": 0.5, "es": 0.5, "fr": 0.5, "zh": 0.125}


def _q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    sampled = curation.mixture_sample(
        _docs(spark, sf_dir), "lang", _MIX_RATES, key_col="doc_id"
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").cast("bigint").alias("idsum"),
    )


def _mix_oracle() -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN '{curation._hex_threshold(r)}'"
        for s, r in sorted(_MIX_RATES.items())
    )
    return f"""
    SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS idsum
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
          < CASE lang {cases} ELSE '0000' END
    GROUP BY lang
    """


register("corpus_mixture_sample", _q_mixture, _mix_oracle())


# ------------------------------------------------------ sequence packing
# Pretraining-style packing: per source shard, documents concatenate in
# doc_id order and split into fixed 4096-char budget sequences; each doc
# belongs to the sequence its starting offset falls in. One window cumsum
# PER SOURCE (shard-parallel — the global-order variant would serialize
# on a single partition at 100 TB, so packing is deliberately sharded,
# matching how training data is actually packed per input shard).
shared_sql(
    "sequence_packing",
    """
    WITH c AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents
    )
    SELECT source,
           CAST(FLOOR((cum - n_chars) / 4096.0) AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS seq_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM c
    GROUP BY source, CAST(FLOOR((cum - n_chars) / 4096.0) AS BIGINT)
    """,
)


# ------------------------------------------------- unicode normalization
# Composed vs decomposed spellings of the same visible string must
# collapse to ONE dedup key. Both engines synthesize the two byte forms
# from hex (no literal-escape portability games), Spark normalizes via
# the Arrow unicodedata operator, DuckDB via nfc_normalize.
def _q_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators.normalize import normalize_unicode

    ensure_views(spark, sf_dir)
    df = spark.sql(
        """SELECT n_nationkey AS k,
                  CASE WHEN n_nationkey % 2 = 0
                       THEN concat('caf', decode(unhex('C3A9'), 'UTF-8'))
                       ELSE concat('cafe', decode(unhex('CC81'), 'UTF-8'))
                  END AS s
           FROM nation"""
    )
    return (
        df.select(normalize_unicode("s").alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("c"))
    )


register(
    "unicode_nfc_dedup_key",
    _q_unicode_nfc,
    """
    SELECT nfc_normalize(CASE WHEN n_nationkey % 2 = 0
                              THEN 'caf' || decode(from_hex('C3A9'))
                              ELSE 'cafe' || decode(from_hex('CC81'))
                         END) AS n,
           COUNT(*) AS c
    FROM nation GROUP BY 1
    """,
)


# ------------------------------------------------------- stratified quotas

def _q_stratified_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed per-source training budget: named sources get explicit
    quotas, everything else the default — deterministic md5(key) pick."""
    docs = _docs(spark, sf_dir)
    out = curation.stratified_take(
        docs,
        stratum_col="source",
        quotas={"src0": 10, "src1": 7, "src2": 10},
        key_col="doc_id",
        default_quota=5,
    )
    return out.select("doc_id", "source")


register(
    "stratified_take_quota",
    _q_stratified_take,
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 7
                            WHEN 'src2' THEN 10 ELSE 5 END
    """,
)


# ------------------------------------------------- per-source token budgets

def _q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted mixture (the unit pretraining mixes are specified
    in): each source contributes documents in deterministic md5(key)
    order until its cumulative char count would exceed the budget —
    n_chars stands in for the token count, same operator contract."""
    docs = _docs(spark, sf_dir)
    out = curation.token_budget_take(
        docs,
        stratum_col="source",
        budgets={"src0": 40_000, "src1": 25_000},
        token_col="n_chars",
        key_col="doc_id",
        default_budget=10_000,
    )
    return out.select("doc_id", "source", "n_chars")


register(
    "token_budget_take",
    _q_token_budget,
    """
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             SUM(n_chars) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents)
    WHERE cum <= CASE source WHEN 'src0' THEN 40000 WHEN 'src1' THEN 25000
                             ELSE 10000 END
    """,
)


# ---------------------------------------------- temperature mixture (τ=2)

def _q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ=2 flattening over the skewed lang distribution: the rarest
    language keeps 100%, dominant ones are cut by sqrt(n_min/n_s)."""
    docs = _docs(spark, sf_dir)
    sampled, _rates = curation.temperature_mixture(
        docs, "lang", "doc_id", tau=2.0
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("keysum"),
    )


register(
    "temperature_mixture_tau2",
    _q_temperature_mixture,
    """
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT MIN(n) AS nmin FROM c),
    r AS (SELECT lang,
                 CAST(floor(sqrt(CAST(nmin AS DOUBLE)) /
                            sqrt(CAST(n AS DOUBLE)) * 65536) AS BIGINT)
                   AS thr
          FROM c, m),
    k AS (SELECT d.lang, d.doc_id
          FROM documents d JOIN r USING (lang)
          WHERE r.thr >= 65536
             OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                  < printf('%04x', r.thr))
    SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS keysum
    FROM k GROUP BY lang
    """,
)


# ------------------------------------------ UDTF context-window chunking

_CHUNK_SIZE, _CHUNK_STRIDE = 8, 6  # 2-token overlap between windows


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking via a Python UDTF (Spark 3.5+ table
    function): each document fans out to overlapping token windows of
    _CHUNK_SIZE tokens every _CHUNK_STRIDE — the RAG/pretraining chunk
    step — invoked through LATERAL so the fan-out stays row-parallel
    (one UDTF process per partition, never a driver loop). Tokenization
    matches the engine's shared regex contract (operators/text.py)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "doc_id bigint, chunk_id int, n_chunk_tokens int, chunk_text string"
    ))
    class ChunkDocs:
        def eval(self, doc_id, text):
            import re

            if text is None:
                return
            toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
            start, cid = 0, 0
            while start < len(toks):
                chunk = toks[start:start + _CHUNK_SIZE]
                yield doc_id, cid, len(chunk), " ".join(chunk)
                cid += 1
                start += _CHUNK_STRIDE

    ensure_views(spark, sf_dir)
    spark.udtf.register("graft_chunk_docs", ChunkDocs)
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_id, c.n_chunk_tokens, c.chunk_text
        FROM documents d,
             LATERAL graft_chunk_docs(d.doc_id, d.text) c
        """
    )


register(
    "chunk_documents_udtf",
    _q_chunk_documents,
    f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS toks
      FROM documents),
    starts AS (
      SELECT doc_id, toks, unnest(range(0, len(toks), {_CHUNK_STRIDE})) AS s
      FROM tok WHERE len(toks) > 0)
    SELECT doc_id,
           CAST(s / {_CHUNK_STRIDE} AS INT) AS chunk_id,
           CAST(len(toks[s + 1 : s + {_CHUNK_SIZE}]) AS INT)
             AS n_chunk_tokens,
           array_to_string(toks[s + 1 : s + {_CHUNK_SIZE}], ' ')
             AS chunk_text
    FROM starts
    """,
)


# --------------------------------------- binaryFile media ingestion

def _q_binaryfile_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION media-ingestion path: real PNG/WAV blobs staged as
    FILES on disk, read through Spark's ``binaryFile`` source (content +
    path/length metadata, binary stays in Arrow pages), decoded by the
    engine's stdlib codecs inside mapInPandas. Blob parameters are pure
    functions of the file index, so grouped sums are closed-form for
    the oracle — any corruption across stage→read→decode breaks it."""
    import os

    from gcp_etl_pipeline_spark.operators import codecs, multimodal

    n = 120
    root = session_root(spark, "binf")
    media_dir = f"{root}/media"
    if not os.path.exists(f"{root}/_done"):
        os.makedirs(media_dir, exist_ok=True)
        for i in range(n):
            if i % 2 == 0:
                w, h = 8 + i % 8, 8 + i % 5
                blob = codecs.encode_png(w, h, bytes([i % 251]) * (w * h))
                name = f"img_{i:04d}.png"
            else:
                nf = 100 + i % 50
                blob = codecs.encode_wav(
                    8000 + (i % 4) * 4000, bytes([i % 200]) * nf
                )
                name = f"aud_{i:04d}.wav"
            with open(f"{media_dir}/{name}", "wb") as fh:
                fh.write(blob)
        open(f"{root}/_done", "w").close()

    files = spark.read.format("binaryFile").load(media_dir)
    media = files.select(
        F.regexp_extract(F.col("path"), r"_(\d+)\.", 1)
        .cast("bigint")
        .alias("media_id"),
        F.col("content"),
    )
    dec = multimodal.decode_media(media)
    return dec.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("sample_rate").cast("bigint").alias("sum_rate"),
        F.sum("n_frames").cast("bigint").alias("sum_frames"),
    )


register(
    "binaryfile_media_ingest",
    _q_binaryfile_media,
    """
    WITH g AS (SELECT unnest(range(120)) AS i)
    SELECT CASE WHEN i % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN i % 2 = 0 THEN 8 + i % 8 ELSE 0 END)
                AS BIGINT) AS sum_width,
           CAST(SUM(CASE WHEN i % 2 = 0 THEN 0
                    ELSE 8000 + (i % 4) * 4000 END) AS BIGINT) AS sum_rate,
           CAST(SUM(CASE WHEN i % 2 = 0 THEN 1
                    ELSE 100 + i % 50 END) AS BIGINT) AS sum_frames
    FROM g GROUP BY 1
    """,
)


# --------------------------------------- deterministic train/val/test split
# The reproducible, leak-free split assignment (curation.dataset_split):
# a pure function of (salt, key) — stable across runs/engines/layouts and
# joinable across tables, unlike randomSplit's partition-dependent RNG.
# Grading is per-document (every assignment checked), plus the oracle
# recomputes the same md5-prefix banding, so a drifted salt separator,
# threshold rounding, or hex-comparison semantics all break the hash.

def _q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately UNSPREAD: split assignment is one md5 per row — a pure
    # projection that must fuse into the scan with zero exchanges (the
    # tests/test_physical_plans.py no-shuffle assertion); an exchange here
    # would cost more than the map work at every scale
    return curation.dataset_split(
        read_parquet(spark, f"{sf_dir}/documents.parquet"),
        "doc_id", val_pct=5.0, test_pct=5.0,
    ).select("doc_id", "lang", "split")


register(
    "dataset_split_assign",
    _q_dataset_split,
    f"""
    SELECT doc_id, lang,
           {curation.dataset_split_case_sql('doc_id', val_pct=5.0,
                                            test_pct=5.0)} AS split
    FROM documents
    """,
)


# ---------------------------------------------- Gopher-style quality gates
# The DECISION layer over the repetition signals: one boolean per rule +
# the conjunction, all integer cross-multiplications (no float ratio ever
# materialized), so the verdicts are bit-identical cross-engine.

def _q_gopher_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.gopher_gates(
        _docs(spark, sf_dir), min_tokens=8, max_tokens=2000,
        max_dup_pct=30, max_top_pct=20,
    )


register(
    "gopher_quality_gates",
    _q_gopher_gates,
    f"""
    WITH {_TOK_CTE},
    t AS (SELECT doc_id, unnest(toks) AS t FROM tok),
    per AS (SELECT doc_id, t, COUNT(*) AS c FROM t GROUP BY 1, 2),
    agg0 AS (SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct,
                   CAST(MAX(c) AS BIGINT) AS top_count
            FROM per GROUP BY doc_id),
    agg AS (SELECT d.doc_id,
                   COALESCE(a.n_tokens, 0) AS n_tokens,
                   COALESCE(a.n_distinct, 0) AS n_distinct,
                   COALESCE(a.top_count, 0) AS top_count
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN agg0 a USING (doc_id))
    SELECT doc_id, n_tokens, n_distinct, top_count,
           (n_tokens >= 8 AND n_tokens <= 2000) AS g_len,
           ((n_tokens - n_distinct) * 100 <= 30 * n_tokens) AS g_dup,
           (top_count * 100 <= 20 * n_tokens) AS g_top,
           ((n_tokens >= 8 AND n_tokens <= 2000)
            AND ((n_tokens - n_distinct) * 100 <= 30 * n_tokens)
            AND (top_count * 100 <= 20 * n_tokens)) AS keep
    FROM agg
    """,
)


# -------------------------------------------------- token-rarity scoring
# Log-free unigram quality proxy: corpus document-frequency of each
# document's rarest token + floor-div µ-unit mean df over its distinct
# tokens. Exact integer arithmetic end-to-end (DuckDB's // is floor
# division; operands are positive, so it matches Spark's DIV).

def _q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.token_rarity(_docs(spark, sf_dir))


register(
    "token_rarity_score",
    _q_token_rarity,
    f"""
    WITH {_TOK_CTE},
    t AS (SELECT DISTINCT doc_id, unnest(toks) AS t FROM tok),
    dfq AS (SELECT t, COUNT(*) AS df FROM t GROUP BY t)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
           CAST(MIN(df) AS BIGINT) AS min_df,
           CAST(SUM(df) * 1000000 // COUNT(*) AS BIGINT) AS mean_df_u
    FROM t JOIN dfq USING (t)
    GROUP BY t.doc_id
    """,
)


# ---------------------------------------- int8 embedding quantization audit
# operators/similarity.py:quantize_int8_error — per-vector reconstruction
# error of symmetric int8 codes over the µ-unit components. TRUNC
# division on positive-and-negative ints: DuckDB's CAST(TRUNC(...)) on
# exact-double quotients matches Spark's DIV (both truncate toward 0;
# products ≤ 1.27e8 are exact doubles).

def _q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators.similarity import quantize_int8_error

    embs = _scan(spark, f"{sf_dir}/embeddings.parquet")
    return quantize_int8_error(embs)


register(
    "embedding_int8_audit",
    _q_quantize_int8,
    """
    WITH base AS (
      SELECT vec_id,
             list_transform(range(1, len(embedding) + 1),
               i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
                         AS BIGINT)) AS qv
      FROM embeddings),
    m AS (SELECT vec_id, qv,
                 list_aggregate(list_transform(qv, x -> ABS(x)), 'max') AS mm
          FROM base),
    e AS (SELECT vec_id, mm,
                 CASE WHEN mm = 0 THEN [CAST(0 AS BIGINT)]
                      ELSE list_transform(qv, x -> ABS(x -
                        CAST(TRUNC(CAST(CAST(TRUNC(CAST(x * 127 AS DOUBLE)
                               / mm) AS BIGINT) * mm AS DOUBLE) / 127)
                             AS BIGINT)))
                 END AS errs
          FROM m)
    SELECT vec_id,
           CAST(mm AS BIGINT) AS max_abs_u,
           CAST(list_aggregate(errs, 'max') AS BIGINT) AS max_err_u,
           CAST(list_sum(errs) AS BIGINT) AS sum_err_u
    FROM e
    """,
)


# --------------------------------------- perceptual-hash image near-dup

def _q_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection end-to-end over REAL PNG blobs:
    480 spec-valid grayscale PNGs (160 groups x 3 variants — base,
    brightness-shifted, pixel-bumped) are generated distributed,
    dHash'd inside the Arrow decode loop, and paired by Hamming-banded
    bucket matching (never all-pairs). Pixels are a pure md5 function of
    (group, position), so the oracle replays encode → zlib decode →
    9x8 resample → gradient hash → band join → Hamming verify entirely
    closed-form — any corruption anywhere in that chain moves a hash
    and breaks the match. Brightness shifts (+24 everywhere) preserve
    every gradient sign (Hamming 0); the single-pixel bump variant
    flips at most one sampled comparison (Hamming <= 1) — the planted
    near-dup classes a perceptual hash must catch."""
    from gcp_etl_pipeline_spark.operators import multimodal

    media = spark.range(480).mapInPandas(
        _phash_fixture_gen, "media_id BIGINT, content BINARY"
    )
    return multimodal.phash_neardup_pairs(
        multimodal.image_dhash(media), max_hamming=3
    )


def _phash_fixture_gen(batches):
    """The 480-PNG near-dup fixture (160 groups x 3 variants: base,
    brightness +24 everywhere, single-pixel bump) shared by the pair
    and rep-level phash queries."""
    import hashlib as _hl

    import pandas as _p

    from gcp_etl_pipeline_spark.operators import codecs

    for pdf in batches:
        ids, blobs = [], []
        for i in pdf["id"]:
            i = int(i)
            g, v = divmod(i, 3)
            chunks = [
                _hl.md5(f"{g}|{c}".encode()).hexdigest()
                for c in range(18)
            ]
            px = bytearray(288)
            for p in range(288):
                hx = chunks[p // 16]
                b = int(hx[2 * (p % 16) : 2 * (p % 16) + 2], 16)
                px[p] = (
                    b % 200 + 8
                    + (24 if v == 1 else 0)
                    + (40 if v == 2 and p % 89 == 0 else 0)
                )
            blobs.append(codecs.encode_png(18, 16, bytes(px)))
            ids.append(i)
        yield _p.DataFrame({"media_id": ids, "content": blobs})


_PNIB1 = (
    "(strpos('0123456789abcdef', substring(md5(CAST(i // 3 AS VARCHAR) "
    "|| '|' || CAST(p // 16 AS VARCHAR)), 2 * (p % 16) + 1, 1)) - 1)"
)
_PNIB2 = (
    "(strpos('0123456789abcdef', substring(md5(CAST(i // 3 AS VARCHAR) "
    "|| '|' || CAST(p // 16 AS VARCHAR)), 2 * (p % 16) + 2, 1)) - 1)"
)

# the fixture's pixel -> bits -> 16-bit-bands replay, shared by the
# pair-level and rep-level oracles below
_PHASH_FIX_BANDS = f"""
    g AS (SELECT unnest(range(480)) AS i),
    px AS (SELECT i, list_transform(range(288), p ->
             ({_PNIB1} * 16 + {_PNIB2}) % 200 + 8
             + CASE WHEN i % 3 = 1 THEN 24 ELSE 0 END
             + CASE WHEN i % 3 = 2 AND p % 89 = 0 THEN 40 ELSE 0 END)
           AS px FROM g),
    bits AS (SELECT i, list_transform(range(64), k ->
               CASE WHEN px[36 * (k // 8) + 2 * (k % 8) + 1]
                       > px[36 * (k // 8) + 2 * (k % 8) + 3]
                    THEN 1 ELSE 0 END) AS bits FROM px),
    bands AS MATERIALIZED (
      SELECT i, k AS band_id,
             CAST(list_sum(list_transform(range(16),
                    j -> bits[16 * k + j + 1] * (1 << j))) AS BIGINT) AS bv
      FROM bits, (SELECT unnest(range(4)) AS k) ks)
"""

register(
    "image_phash_neardup",
    _q_image_phash_neardup,
    f"""
    WITH {_PHASH_FIX_BANDS},
    cand AS (SELECT DISTINCT l.i AS a, r.i AS b
             FROM bands l JOIN bands r
               ON l.band_id = r.band_id AND l.bv = r.bv AND l.i < r.i)
    SELECT c.a, c.b,
           CAST(SUM(bit_count(xor(ba.bv, bb.bv))) AS BIGINT) AS hamming
    FROM cand c
    JOIN bands ba ON ba.i = c.a
    JOIN bands bb ON bb.i = c.b AND bb.band_id = ba.band_id
    GROUP BY c.a, c.b
    HAVING SUM(bit_count(xor(ba.bv, bb.bv))) <= 3
    """,
)


def _q_image_phash_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REP-LEVEL near-dup form (expand=False) over the same 480-PNG
    fixture — the corpus-scale contract: one row per exact-dup cluster
    (rep, rep, 0, n, n) and one per verified cross-hash pair
    (rep_a, rep_b, hamming, na, nb), never the quadratic member-pair
    expansion. The oracle re-derives the clusters (group by the full
    4-band hash), the distinct-hash band join, and the size columns —
    a wrong collapse, a lost cluster member, or a pair that leaked
    through the collapse all break the hash."""
    from gcp_etl_pipeline_spark.operators import multimodal

    media = spark.range(480).mapInPandas(
        _phash_fixture_gen, "media_id BIGINT, content BINARY"
    )
    return multimodal.phash_neardup_pairs(
        multimodal.image_dhash(media), max_hamming=3, expand=False
    )


register(
    "image_phash_neardup_reps",
    _q_image_phash_reps,
    f"""
    WITH {_PHASH_FIX_BANDS},
    h4 AS (SELECT i,
             MAX(CASE WHEN band_id = 0 THEN bv END) AS b0,
             MAX(CASE WHEN band_id = 1 THEN bv END) AS b1,
             MAX(CASE WHEN band_id = 2 THEN bv END) AS b2,
             MAX(CASE WHEN band_id = 3 THEN bv END) AS b3
           FROM bands GROUP BY i),
    cl AS MATERIALIZED (
      SELECT b0, b1, b2, b3, MIN(i) AS rep, COUNT(*) AS n
      FROM h4 GROUP BY b0, b1, b2, b3),
    clb AS (SELECT rep, n, b0, b1, b2, b3, k AS band_id,
              CASE k WHEN 0 THEN b0 WHEN 1 THEN b1
                     WHEN 2 THEN b2 ELSE b3 END AS bv
            FROM cl, (SELECT unnest(range(4)) AS k) ks),
    crossp AS (SELECT DISTINCT l.rep AS a, r.rep AS b,
                 CAST(bit_count(xor(l.b0, r.b0)) + bit_count(xor(l.b1, r.b1))
                    + bit_count(xor(l.b2, r.b2)) + bit_count(xor(l.b3, r.b3))
                      AS BIGINT) AS hamming,
                 l.n AS na, r.n AS nb
               FROM clb l JOIN clb r
                 ON l.band_id = r.band_id AND l.bv = r.bv AND l.rep < r.rep)
    SELECT a, b, hamming, na, nb FROM crossp WHERE hamming <= 3
    UNION ALL
    SELECT rep AS a, rep AS b, CAST(0 AS BIGINT) AS hamming,
           n AS na, n AS nb
    FROM cl WHERE n >= 2
    """,
)


# --------------------------------------- learned quality classifier

def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-score in one plan: fit the hashed-feature linear
    classifier on the fixture corpus (label: lang = 'en' — the
    fastText-style lang/quality target) and score every document with
    the broadcast weights. The oracle retrains from scratch in SQL, so
    a drifted hash bucket, smoothing term, truncation direction, or
    sigmoid constant breaks the hash."""
    docs = _docs(spark, sf_dir)
    w = curation.fit_quality_classifier(docs, "lang = 'en'")
    return curation.quality_classifier_score(docs, w)


_QC_NIB = (
    "(strpos('0123456789abcdef', substring(md5(t), {p}, 1)) - 1)"
)
_QC_BUCKET = (
    f"(({_QC_NIB.format(p=1)} * 4096 + {_QC_NIB.format(p=2)} * 256"
    f" + {_QC_NIB.format(p=3)} * 16 + {_QC_NIB.format(p=4)}) % 64)"
)

from gcp_etl_pipeline_spark.operators.dedup_queries import _tok_cte as _dq_tok_cte

register(
    "quality_classifier_score",
    _q_quality_classifier,
    f"""
    WITH {_dq_tok_cte("doc_id, lang, text")},
    tb AS (SELECT doc_id, (lang = 'en') AS pos,
                  {_QC_BUCKET} AS bucket
           FROM (SELECT doc_id, lang, unnest(toks) AS t FROM tok)),
    w AS (SELECT bucket,
                 CAST((SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1) * 2000000
                      // (COUNT(*) + 2) - 1000000 AS BIGINT) AS w_u
          FROM tb GROUP BY bucket),
    ds AS (SELECT tb.doc_id,
                  CAST(COUNT(*) AS BIGINT) AS n_tokens,
                  CAST(SUM(COALESCE(w.w_u, 0)) AS BIGINT) AS s
           FROM tb LEFT JOIN w USING (bucket) GROUP BY tb.doc_id),
    sc AS (SELECT doc_id, n_tokens,
                  CASE WHEN s < 0 THEN -((-s) // n_tokens)
                       ELSE s // n_tokens END AS score_u
           FROM ds),
    pr AS (SELECT doc_id, n_tokens, score_u,
                  500000 + (CASE WHEN score_u < 0 THEN -1 ELSE 1 END)
                    * ((500000 * ABS(score_u)) // (1000000 + ABS(score_u)))
                    AS prob_u
           FROM sc),
    thr AS (SELECT SUM(prob_u) // COUNT(*) AS m FROM pr)
    SELECT d.doc_id,
           COALESCE(pr.n_tokens, 0) AS n_tokens,
           CAST(COALESCE(pr.score_u, 0) AS BIGINT) AS score_u,
           CAST(COALESCE(pr.prob_u, 500000) AS BIGINT) AS prob_u,
           COALESCE(pr.prob_u >= thr.m, false) AS keep
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN pr ON d.doc_id = pr.doc_id, thr
    """,
)


# --------------------------------------- acoustic fingerprint near-dup

def _q_audio_fp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection end-to-end over REAL WAV blobs:
    600 stdlib-encoded mono clips (200 groups x 3 variants — base,
    DC-offset +7, one-sample bump) are generated distributed,
    energy-fingerprinted inside the Arrow decode loop, and paired by
    the same Hamming-banded bucket matching as the image path. Samples
    are a pure md5 function of (group, position), so the oracle replays
    encode → wave decode → window sums → gradient fingerprint → band
    join → Hamming verify closed-form. The DC offset preserves every
    window comparison (Hamming 0); the single-sample bump perturbs one
    window (Hamming <= 1)."""
    from gcp_etl_pipeline_spark.operators import multimodal

    def gen(batches):
        import hashlib as _hl

        import pandas as _p

        from gcp_etl_pipeline_spark.operators import codecs

        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                g, v = divmod(i, 3)
                chunks = [
                    _hl.md5(f"a{g}|{c}".encode()).hexdigest()
                    for c in range(9)
                ]
                smp = bytearray(132)
                for t in range(132):
                    hx = chunks[t // 16]
                    b = int(hx[2 * (t % 16) : 2 * (t % 16) + 2], 16)
                    smp[t] = (
                        b % 180 + 10
                        + (7 if v == 1 else 0)
                        + (50 if v == 2 and t == 1 else 0)
                    )
                blobs.append(
                    codecs.encode_wav(8000 + (i % 4) * 4000, bytes(smp))
                )
                ids.append(i)
            yield _p.DataFrame({"media_id": ids, "content": blobs})

    media = spark.range(600).mapInPandas(gen, "media_id BIGINT, content BINARY")
    return multimodal.phash_neardup_pairs(
        multimodal.audio_fingerprint(media), max_hamming=3
    )


_ANIB1 = (
    "(strpos('0123456789abcdef', substring(md5('a' || CAST(i // 3 AS VARCHAR)"
    " || '|' || CAST(t // 16 AS VARCHAR)), 2 * (t % 16) + 1, 1)) - 1)"
)
_ANIB2 = (
    "(strpos('0123456789abcdef', substring(md5('a' || CAST(i // 3 AS VARCHAR)"
    " || '|' || CAST(t // 16 AS VARCHAR)), 2 * (t % 16) + 2, 1)) - 1)"
)

register(
    "audio_fingerprint_neardup",
    _q_audio_fp_neardup,
    f"""
    WITH g AS (SELECT unnest(range(600)) AS i),
    smp AS (SELECT i, list_transform(range(132), t ->
              ({_ANIB1} * 16 + {_ANIB2}) % 180 + 10
              + CASE WHEN i % 3 = 1 THEN 7 ELSE 0 END
              + CASE WHEN i % 3 = 2 AND t = 1 THEN 50 ELSE 0 END)
            AS s FROM g),
    w AS (SELECT i, list_transform(range(33), k ->
            s[4 * k + 1] + s[4 * k + 2] + s[4 * k + 3] + s[4 * k + 4]) AS ws
          FROM smp),
    bits AS (SELECT i, list_transform(range(32), k ->
               CASE WHEN ws[k + 1] > ws[k + 2] THEN 1 ELSE 0 END) AS bits
             FROM w),
    bands AS MATERIALIZED (
      SELECT i, k AS band_id,
             CAST(list_sum(list_transform(range(8),
                    j -> bits[8 * k + j + 1] * (1 << j))) AS BIGINT) AS bv
      FROM bits, (SELECT unnest(range(4)) AS k) ks),
    cand AS (SELECT DISTINCT l.i AS a, r.i AS b
             FROM bands l JOIN bands r
               ON l.band_id = r.band_id AND l.bv = r.bv AND l.i < r.i)
    SELECT c.a, c.b,
           CAST(SUM(bit_count(xor(ba.bv, bb.bv))) AS BIGINT) AS hamming
    FROM cand c
    JOIN bands ba ON ba.i = c.a
    JOIN bands bb ON bb.i = c.b AND bb.band_id = ba.band_id
    GROUP BY c.a, c.b
    HAVING SUM(bit_count(xor(ba.bv, bb.bv))) <= 3
    """,
)


# ------------------------------- learned-vs-rule gate agreement matrix

def _q_classifier_vs_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration cross-tab between the LEARNED quality gate and the
    RULE gates — the table a curation team reads before swapping a
    fastText-style classifier into a Gopher-rule pipeline: per
    (rule_keep, learned_keep) cell, document count and mean token count
    (µ-unit). High off-diagonal mass means the two tiers disagree and
    the threshold needs recalibration. Both gates run in one plan over
    one scan of the corpus; the classifier weights ride the same
    broadcast as quality_classifier_score."""
    from gcp_etl_pipeline_spark.operators.curation import gopher_gates

    docs = _docs(spark, sf_dir)
    w = curation.fit_quality_classifier(docs, "lang = 'en'")
    learned = curation.quality_classifier_score(docs, w).select(
        "doc_id", F.col("keep").alias("learned_keep"), "n_tokens"
    )
    # max_tokens at the fixture's ~p75 so the cross-tab has real mass
    # in BOTH rule classes (2000 left rule_keep vacuously true)
    rules = gopher_gates(docs, min_tokens=8, max_tokens=70).select(
        "doc_id", F.col("keep").alias("rule_keep")
    )
    return (
        learned.join(rules, "doc_id")
        .groupBy("rule_keep", "learned_keep")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("sum(n_tokens) * 1000000 div count(1)")
            .cast("bigint")
            .alias("mean_tokens_u"),
        )
    )


register(
    "classifier_vs_gates_confusion",
    _q_classifier_vs_gates,
    f"""
    WITH {_dq_tok_cte("doc_id, lang, text")},
    tb AS (SELECT doc_id, (lang = 'en') AS pos,
                  {_QC_BUCKET} AS bucket
           FROM (SELECT doc_id, lang, unnest(toks) AS t FROM tok)),
    w AS (SELECT bucket,
                 CAST((SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1) * 2000000
                      // (COUNT(*) + 2) - 1000000 AS BIGINT) AS w_u
          FROM tb GROUP BY bucket),
    ds AS (SELECT tb.doc_id,
                  CAST(COUNT(*) AS BIGINT) AS n_tokens,
                  CAST(SUM(COALESCE(w.w_u, 0)) AS BIGINT) AS s
           FROM tb LEFT JOIN w USING (bucket) GROUP BY tb.doc_id),
    pr2 AS (
        SELECT doc_id, n_tokens,
               500000 + (CASE WHEN score_u < 0 THEN -1 ELSE 1 END)
                 * ((500000 * ABS(score_u)) // (1000000 + ABS(score_u)))
                 AS prob_u
        FROM (SELECT doc_id, n_tokens,
                     CASE WHEN s < 0 THEN -((-s) // n_tokens)
                          ELSE s // n_tokens END AS score_u
              FROM ds)),
    thr2 AS (SELECT SUM(prob_u) // COUNT(*) AS m FROM pr2),
    learned AS (
      SELECT d.doc_id,
             COALESCE(pr2.n_tokens, 0) AS n_tokens,
             COALESCE(pr2.prob_u >= thr2.m, false) AS learned_keep
      FROM (SELECT DISTINCT doc_id FROM documents) d
      LEFT JOIN pr2 ON d.doc_id = pr2.doc_id, thr2),
    per AS (SELECT doc_id, t, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
            GROUP BY doc_id, t),
    agg AS (SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct,
                   MAX(c) AS top_count
            FROM per GROUP BY doc_id),
    rules AS (
      SELECT d.doc_id,
             (COALESCE(a.n_tokens, 0) BETWEEN 8 AND 70
              AND (COALESCE(a.n_tokens, 0) - COALESCE(a.n_distinct, 0)) * 100
                  <= 30 * COALESCE(a.n_tokens, 0)
              AND COALESCE(a.top_count, 0) * 100
                  <= 20 * COALESCE(a.n_tokens, 0)) AS rule_keep
      FROM (SELECT DISTINCT doc_id FROM documents) d
      LEFT JOIN agg a ON d.doc_id = a.doc_id)
    SELECT r.rule_keep, l.learned_keep,
           COUNT(*) AS n,
           CAST(SUM(l.n_tokens) * 1000000 // COUNT(*) AS BIGINT)
             AS mean_tokens_u
    FROM learned l JOIN rules r ON l.doc_id = r.doc_id
    GROUP BY r.rule_keep, l.learned_keep
    """,
)


# --------------------------------------- video frame-level near-dup

def _q_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level video near-dup end-to-end: 150 generated 4-frame
    videos (50 groups x 3 variants — base, brightness-shifted, half the
    frames replaced with unique ones), frames dHash'd in the Arrow
    loop, videos paired on >= 2 matching frames. Planted truth per
    group: (base, bright) share all 4 frames; each shares exactly 2
    with the half-replaced variant. The oracle replays frame pixels,
    hashes, band candidates, Hamming verify, and the video-pair
    rollup closed-form."""
    from gcp_etl_pipeline_spark.operators import multimodal

    def gen(batches):
        import hashlib as _hl

        import pandas as _p

        from gcp_etl_pipeline_spark.operators import codecs

        for pdf in batches:
            ids, frame_lists = [], []
            for i in pdf["id"]:
                i = int(i)
                g, v = divmod(i, 3)
                frames = []
                for f in range(4):
                    key = f"u{i}" if (v == 2 and f >= 2) else f"v{g}"
                    chunks = [
                        _hl.md5(f"{key}|{f}|{c}".encode()).hexdigest()
                        for c in range(18)
                    ]
                    px = bytearray(288)
                    for p in range(288):
                        hx = chunks[p // 16]
                        b = int(hx[2 * (p % 16) : 2 * (p % 16) + 2], 16)
                        px[p] = b % 200 + 8 + (24 if v == 1 else 0)
                    frames.append(codecs.encode_png(18, 16, bytes(px)))
                ids.append(i)
                frame_lists.append(frames)
            yield _p.DataFrame({"media_id": ids, "frames": frame_lists})

    videos = spark.range(150).mapInPandas(
        gen, "media_id BIGINT, frames ARRAY<BINARY>"
    )
    return multimodal.video_neardup_pairs(videos, max_hamming=3, min_shared=2)


_VKEY = (
    "(CASE WHEN i % 3 = 2 AND f >= 2 THEN 'u' || CAST(i AS VARCHAR) "
    "ELSE 'v' || CAST(i // 3 AS VARCHAR) END "
    "|| '|' || CAST(f AS VARCHAR) || '|' || CAST(p // 16 AS VARCHAR))"
)
_VNIB1 = (
    f"(strpos('0123456789abcdef', substring(md5({_VKEY}),"
    " 2 * (p % 16) + 1, 1)) - 1)"
)
_VNIB2 = (
    f"(strpos('0123456789abcdef', substring(md5({_VKEY}),"
    " 2 * (p % 16) + 2, 1)) - 1)"
)

register(
    "video_frame_neardup",
    _q_video_neardup,
    f"""
    WITH g AS (SELECT unnest(range(150)) AS i),
    fr AS (SELECT i, unnest(range(4)) AS f FROM g),
    px AS (SELECT i, f, list_transform(range(288), p ->
             ({_VNIB1} * 16 + {_VNIB2}) % 200 + 8
             + CASE WHEN i % 3 = 1 THEN 24 ELSE 0 END)
           AS px FROM fr),
    bits AS (SELECT i, f, list_transform(range(64), k ->
               CASE WHEN px[36 * (k // 8) + 2 * (k % 8) + 1]
                       > px[36 * (k // 8) + 2 * (k % 8) + 3]
                    THEN 1 ELSE 0 END) AS bits FROM px),
    bands AS MATERIALIZED (
      SELECT i, f, k AS band_id,
             CAST(list_sum(list_transform(range(16),
                    j -> bits[16 * k + j + 1] * (1 << j))) AS BIGINT) AS bv
      FROM bits, (SELECT unnest(range(4)) AS k) ks),
    cand AS (SELECT DISTINCT l.i AS a, l.f AS af, r.i AS b, r.f AS bf
             FROM bands l JOIN bands r
               ON l.band_id = r.band_id AND l.bv = r.bv AND l.i < r.i),
    ham AS (SELECT c.a, c.af, c.b, c.bf
            FROM cand c
            JOIN bands ba ON ba.i = c.a AND ba.f = c.af
            JOIN bands bb ON bb.i = c.b AND bb.f = c.bf
                         AND bb.band_id = ba.band_id
            GROUP BY c.a, c.af, c.b, c.bf
            HAVING SUM(bit_count(xor(ba.bv, bb.bv))) <= 3)
    SELECT a, b, CAST(COUNT(DISTINCT af) AS BIGINT) AS shared_frames
    FROM ham GROUP BY a, b
    HAVING COUNT(DISTINCT af) >= 2
    """,
)


# --------------------------------- cross-run image near-dup ledger

def _phash_corpus_gen(batches):
    """The planted-class PNG generator for the band-ledger lifecycles:
    i%4==1 is a brightness variant of the even i-1 (identical dHash ->
    cross-run drop via the ledger); i%8==7 is a brightness variant of
    the odd i-4 (in-batch drop); everything else is unique."""
    import hashlib as _hl

    import pandas as _p

    from gcp_etl_pipeline_spark.operators import codecs

    for pdf in batches:
        ids, blobs = [], []
        for i in pdf["id"]:
            i = int(i)
            if i % 4 == 1:
                key, bright = i - 1, 24
            elif i % 8 == 7:
                key, bright = i - 4, 24
            else:
                key, bright = i, 0
            chunks = [
                _hl.md5(f"L{key}|{c}".encode()).hexdigest()
                for c in range(18)
            ]
            px = bytearray(288)
            for p in range(288):
                hx = chunks[p // 16]
                b = int(hx[2 * (p % 16) : 2 * (p % 16) + 2], 16)
                px[p] = b % 200 + 8 + bright
            blobs.append(codecs.encode_png(18, 16, bytes(px)))
            ids.append(i)
        yield _p.DataFrame({"media_id": ids, "content": blobs})


def phash_ledger_corpus(spark: SparkSession) -> DataFrame:
    """The 300-image planted-class corpus SHARED by the batch and
    streaming band-ledger twins — generated once per session and cached
    as parquet, so repeated runs (bench warm-up + timed passes, and the
    two twins inside one sweep) measure the ENGINE lifecycles, not
    repeated in-query PNG generation (which made the streaming twin's
    bench slot fixture-dominated at 13.2s)."""
    return _session_cached_parquet(
        spark,
        "phcorpus",
        lambda: spark.range(300).mapInPandas(
            _phash_corpus_gen, "media_id BIGINT, content BINARY"
        ),
    )


import threading as _threading

_SESSION_PARQUET_CACHE: dict[tuple[str, str], str] = {}
# created at import (a lazy check-then-act init could mint two locks on
# a first-use race); RLock because html_intake_stream_src nests the
# cached-corpus build inside its own critical section
_CACHE_LOCK = _threading.RLock()


def _session_cached_path(spark, tag: str, build, validate):
    """THE generate-once-per-session fixture-cache discipline, shared by
    every cached fixture: ``build(root)`` materializes into a fresh
    ``root`` from `session.scratch_dir` (removed at interpreter exit, like
    all scratch) and returns the data path; ``validate(path)`` returns the
    caller's handle (a DataFrame, the path, ...) or raises to force ONE
    regeneration. Thread-safe (module-level RLock around the
    check-and-generate), resilient to a tmp cleaner deleting the
    directory between validation and read."""
    import os

    from gcp_etl_pipeline_spark.session import scratch_dir

    key = (spark.sparkContext.applicationId, tag)
    for _attempt in range(2):
        with _CACHE_LOCK:
            path = _SESSION_PARQUET_CACHE.get(key)
            if path is None or not os.path.isdir(path):
                path = build(scratch_dir(tag))
                _SESSION_PARQUET_CACHE[key] = path
        try:
            return validate(path)
        except Exception:  # noqa: BLE001 — dir vanished mid-session
            with _CACHE_LOCK:
                if _SESSION_PARQUET_CACHE.get(key) == path:
                    del _SESSION_PARQUET_CACHE[key]
    raise RuntimeError(f"session fixture cache for {tag!r} unreadable")


def session_root(spark, tag: str) -> str:
    """A scratch directory that stays the same for the whole session
    (``_session_cached_path`` with nothing to build): for fixtures that
    check for their own files, and roots a first call pins (catalog
    database locations)."""
    return _session_cached_path(spark, tag, lambda root: root, lambda path: path)


def _session_cached_parquet(spark, tag: str, build) -> DataFrame:
    """Parquet form of ``_session_cached_path``: ``build()`` returns the
    DataFrame to materialize once; repeated calls read the parquet
    back (footer read forced inside the retry guard)."""

    def _build(root: str) -> str:
        path = root + "/data"
        build().write.mode("overwrite").parquet(path)
        return path

    def _validate(path: str) -> DataFrame:
        df = read_parquet(spark, path)
        df.schema  # force the file-listing/footer read NOW, inside
        return df  # the retry guard, not at first downstream action

    return _session_cached_path(spark, tag, _build, _validate)


def _q_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image band-ledger lifecycle: increment 1 (even ids) seeds the
    perceptual-band store, increment 2 (odd ids) near-dedups against
    it. Planted classes per id: see _phash_corpus_gen. The oracle
    replays every hash and the full band set-algebra from the pixel
    recipe — including any incidental 16-bit band collisions between
    'unique' images — so a ledger leak, a self-read, or an
    attempt-partition slip changes the accept set and breaks the
    hash."""
    from gcp_etl_pipeline_spark.operators.dedup import phash_incremental
    from gcp_etl_pipeline_spark.session import scratch_dir

    media = phash_ledger_corpus(spark)
    store = scratch_dir("phledger") + "/bands"
    acc1 = phash_incremental(
        media.where("media_id % 2 = 0"), store, attempt_id="i1"
    ).localCheckpoint(eager=True)
    acc2 = phash_incremental(
        media.where("media_id % 2 = 1"), store, attempt_id="i2"
    )

    def tag(df: DataFrame, n: int) -> DataFrame:
        return df.select(
            F.lit(n).cast("int").alias("batch"), "media_id"
        )

    return tag(acc1, 1).unionByName(tag(acc2, 2))


_LKEY = (
    "('L' || CAST(CASE WHEN i % 4 = 1 THEN i - 1 "
    "WHEN i % 8 = 7 THEN i - 4 ELSE i END AS VARCHAR)"
    " || '|' || CAST(p // 16 AS VARCHAR))"
)
_LNIB1 = (
    f"(strpos('0123456789abcdef', substring(md5({_LKEY}),"
    " 2 * (p % 16) + 1, 1)) - 1)"
)
_LNIB2 = (
    f"(strpos('0123456789abcdef', substring(md5({_LKEY}),"
    " 2 * (p % 16) + 2, 1)) - 1)"
)

_PHASH_LEDGER_ORACLE = f"""
    WITH g AS (SELECT unnest(range(300)) AS i),
    px AS (SELECT i, list_transform(range(288), p ->
             ({_LNIB1} * 16 + {_LNIB2}) % 200 + 8
             + CASE WHEN i % 4 = 1 OR i % 8 = 7 THEN 24 ELSE 0 END)
           AS px FROM g),
    bits AS (SELECT i, list_transform(range(64), k ->
               CASE WHEN px[36 * (k // 8) + 2 * (k % 8) + 1]
                       > px[36 * (k // 8) + 2 * (k % 8) + 3]
                    THEN 1 ELSE 0 END) AS bits FROM px),
    bands AS MATERIALIZED (
      SELECT i, k AS band_id,
             CAST(list_sum(list_transform(range(16),
                    j -> bits[16 * k + j + 1] * (1 << j))) AS BIGINT) AS bv
      FROM bits, (SELECT unnest(range(4)) AS k) ks),
    b1 AS (SELECT * FROM bands WHERE i % 2 = 0),
    b2 AS (SELECT * FROM bands WHERE i % 2 = 1),
    drop1 AS (SELECT DISTINCT hi.i FROM b1 hi
              JOIN b1 lo ON lo.band_id = hi.band_id AND lo.bv = hi.bv
                        AND lo.i < hi.i),
    s1 AS MATERIALIZED (SELECT * FROM b1
                        WHERE i NOT IN (SELECT i FROM drop1)),
    drop2a AS (SELECT DISTINCT hi.i FROM b2 hi
               JOIN b2 lo ON lo.band_id = hi.band_id AND lo.bv = hi.bv
                         AND lo.i < hi.i),
    drop2b AS (SELECT DISTINCT b2.i FROM b2
               JOIN s1 ON s1.band_id = b2.band_id AND s1.bv = b2.bv
               WHERE b2.i NOT IN (SELECT i FROM drop2a)),
    a1 AS (SELECT DISTINCT i FROM s1),
    a2 AS (SELECT DISTINCT i FROM b2
           WHERE i NOT IN (SELECT i FROM drop2a)
             AND i NOT IN (SELECT i FROM drop2b))
    SELECT CAST(1 AS INT) AS batch, i AS media_id FROM a1
    UNION ALL
    SELECT CAST(2 AS INT), i FROM a2
    """

register(
    "image_phash_incremental_ledger",
    _q_phash_incremental,
    _PHASH_LEDGER_ORACLE,
)


# ------------------------------- media transform roundtrip (resize/clip)

def _q_media_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media TRANSFORM plumbing graded end-to-end: 400 generated
    blobs (even ids PNG, odd ids WAV) flow through resize_images(6, 5)
    THEN clip_audio(3ms, 7ms) — each transform touches its own modality
    and passes the other through — and the results are re-decoded.
    Pixels/samples are linear-congruential functions of (id, position),
    so the oracle replays generate → resize's nearest-neighbor gather /
    clip's frame slice → re-encode → decode closed-form, per row: any
    corruption in either transform's decode-modify-encode loop moves a
    sum and breaks the hash."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators import multimodal

    def gen(batches):
        import pandas as _p

        from gcp_etl_pipeline_spark.operators import codecs

        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                if i % 2 == 0:
                    w, h = 8 + i % 8, 8 + i % 5
                    px = bytes((i * 31 + p * 7) % 251 for p in range(w * h))
                    blobs.append(codecs.encode_png(w, h, px))
                else:
                    sr = 8000 + (i % 4) * 4000
                    nf = 200 + i % 100
                    smp = bytes((i * 13 + t * 5) % 200 for t in range(nf))
                    blobs.append(codecs.encode_wav(sr, smp))
                ids.append(i)
            yield _p.DataFrame({"media_id": ids, "content": blobs})

    media = spark.range(400).mapInPandas(gen, "media_id BIGINT, content BINARY")
    out = multimodal.clip_audio(
        multimodal.resize_images(media, 6, 5), start_ms=3, dur_ms=7
    )
    dec = multimodal.decode_media(out)
    return dec.select(
        "media_id",
        "kind",
        "width",
        "height",
        "n_frames",
        # exact content digest: mean_byte * element count recovers the
        # integer pixel/sample sum bit-exactly (numerator < 2^24)
        F.round(
            F.col("mean_byte")
            * F.when(F.col("kind") == "image", F.col("width") * F.col("height"))
            .otherwise(F.col("n_frames"))
        ).cast("bigint").alias("content_sum"),
    )


register(
    "media_transform_roundtrip",
    _q_media_transform,
    """
    WITH g AS (SELECT unnest(range(400)) AS i),
    img AS (SELECT i, 8 + i % 8 AS w, 8 + i % 5 AS h FROM g WHERE i % 2 = 0),
    rimg AS (SELECT i,
               list_sum(list_transform(range(30), k ->
                 (i * 31 + (LEAST(h - 1, ((k // 6) * h) // 5) * w
                            + LEAST(w - 1, ((k % 6) * w) // 6)) * 7) % 251))
               AS pix_sum
             FROM img),
    aud AS (SELECT i, 8000 + (i % 4) * 4000 AS sr, 200 + i % 100 AS nf
            FROM g WHERE i % 2 = 1),
    caud AS (SELECT i,
               (3 * sr) // 1000 AS lo,
               LEAST(nf, (10 * sr) // 1000) AS hi
             FROM aud),
    raud AS (SELECT i, hi - lo AS n_frames,
               list_sum(list_transform(range(lo, hi), t ->
                 (i * 13 + t * 5) % 200)) AS smp_sum
             FROM caud)
    SELECT i AS media_id, 'image' AS kind,
           CAST(6 AS INT) AS width, CAST(5 AS INT) AS height,
           CAST(1 AS INT) AS n_frames,
           CAST(pix_sum AS BIGINT) AS content_sum
    FROM rimg
    UNION ALL
    SELECT i, 'audio', CAST(0 AS INT), CAST(0 AS INT),
           CAST(n_frames AS INT), CAST(smp_sum AS BIGINT)
    FROM raud
    """,
)


# ------------------------------------------- video frame sampling fan-out

def _q_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frame-sampling FAN-OUT graded end-to-end: 100 synthetic
    videos (of 300 mixed media — images/audio must yield NO rows) fan
    out to every 2nd frame with 10 fps timestamps and 16-byte frame
    slices. The GRFT payload is md5 digests of "{seed}|{counter}" and
    every sampled slice aligns to one whole digest, so the oracle
    reproduces the exact frame BYTES with unhex(md5(...)) — a slice
    offset bug, a header misparse, or a non-video leak breaks the
    hash."""
    from gcp_etl_pipeline_spark.operators import multimodal

    media = multimodal.make_fake_media(spark, n=300)
    return multimodal.sample_frames(media, every_n=2, fps=10)


register(
    "video_frame_sampling",
    _q_frame_sampling,
    """
    WITH g AS (SELECT unnest(range(300)) AS i),
    v AS (SELECT i, 4 + i % 13 AS nf FROM g WHERE i % 3 = 2),
    fr AS (SELECT i, unnest(range(0, nf, 2)) AS fno FROM v)
    SELECT i AS media_id, CAST(fno AS INT) AS frame_no,
           CAST(fno * 100 AS BIGINT) AS frame_ms,
           unhex(md5(CAST(i AS VARCHAR) || '|' || CAST(fno AS VARCHAR)))
             AS frame_bytes
    FROM fr
    """,
)


# --------------------------------------- HTML/markup -> text extraction
#
# The crawl-corpus front door (reference parity: none — the reference
# ingests already-clean rows; this is the LLM-tier gap every crawl
# pipeline hits first). The fixture wraps each documents row in a
# deterministic HTML page — head chrome, script/style bodies, comments,
# attributes, entities, block structure — IDENTICALLY in both engines,
# then the oracle replays operators/text.py's exact strip/decode/
# normalize step tables compiled to RE2, so a drifted regex, decode
# order, or collapse rule anywhere in the chain breaks the value hash.

_HTML_PIECES: tuple[tuple[str, str], ...] = (
    (
        "lit",
        '<html><head><title>Corpus page</title>'
        '<style type="text/css">body { color: #abc; }</style>'
        '<script>if (1 < 2 && 3 > 0) { x = "boo"; }</script>'
        '</head><body><h1 class="t" id="h',
    ),
    ("col", "doc_id"),
    ("lit", '">Overview</h1><!-- crawl artifact --><p>'),
    ("col", "text"),
    ("lit", "</p><ul><li>lang hint: "),
    ("col", "lang"),
    ("lit", "</li><li>src: "),
    ("col", "source"),
    ("lit", '</li></ul><a href="https://ex.org/'),
    ("col", "source"),
    ("lit", "/"),
    ("col", "doc_id"),
    ("lit", '">more</a> <a class="x" href="https://mirror.example.com/item-'),
    ("col", "doc_id"),
    (
        "lit",
        '/">mirror</a><div>Tom &amp; Jerry &lt;3&nbsp;&quot;q&quot; '
        "&#39;n &apos;t &copy;stays</div></body></html>",
    ),
)


def _html_wrap(docs: DataFrame) -> DataFrame:
    parts = [
        F.lit(v) if kind == "lit" else F.col(v).cast("string")
        for kind, v in _HTML_PIECES
    ]
    return docs.select("doc_id", "source", F.concat(*parts).alias("html"))


# Planted encoding-damage classes (keyed doc_id % 5) appended to the
# wrapped page — the dirty-input fixture for the charset front door:
# CP1252-in-UTF-8 mojibake (quotes/dashes, accented letters), raw
# C0/C1 control characters, and U+FFFD replacement chars. Artifact
# strings are GENERATED from the target characters (text._cp1252_artifact)
# so the fixture and the repair table can never drift. Class 0 stays
# clean so the no-op path is graded too.

def _mk_dirty_suffixes() -> tuple[str, ...]:
    from gcp_etl_pipeline_spark.operators.text import _cp1252_artifact as mj

    return (
        "",
        (
            f" don{mj(chr(0x2019))}t {mj(chr(0x201C))}quote"
            f"{mj(chr(0x201D))} {mj(chr(0x2014))} ok"
        ),
        f" caf{mj(chr(0xE9))} {mj(chr(0x2013))} se{mj(chr(0xF1))}or",
        " ctl\x01mid\x1ftail\x7f\x9bx",
        " bad�char" + mj("\xa0") + "sp",
    )


_DIRTY_SUFFIXES = _mk_dirty_suffixes()

_DIRTY_SQL = (
    "(CASE doc_id % 5 "
    + " ".join(
        f"WHEN {i} THEN {_sql_lit(s)}"
        for i, s in enumerate(_DIRTY_SUFFIXES)
        if s
    )
    + " ELSE '' END)"
)


def _dirty_suffix_col(key: str = "doc_id") -> "F.Column":
    return F.element_at(
        F.array(*[F.lit(s) for s in _DIRTY_SUFFIXES]),
        (F.col(key) % 5 + 1).cast("int"),
    )


def _html_wrap_dirty(docs: DataFrame) -> DataFrame:
    """The wrapped page with planted encoding damage appended — what the
    charset-repair front door and the intake chain consume."""
    w = _html_wrap(docs)
    return w.select(
        "doc_id",
        "source",
        F.concat("html", _dirty_suffix_col("doc_id")).alias("html"),
    )


def html_intake_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dirty wrapped corpus SHARED by the batch and streaming intake
    twins, generated once per (session, sf_dir) and cached as parquet —
    the phash_ledger_corpus economics: bench warm-up + timed passes and
    the two twins inside one sweep measure the intake CHAIN, not
    repeated page wrapping (which made the streaming twin's bench slot
    fixture-heavy at ~10s)."""
    import re as _re

    tag = "htmlcorpus_" + _re.sub(r"\W+", "_", sf_dir).strip("_")
    return _session_cached_parquet(
        spark, tag, lambda: _html_wrap_dirty(_docs(spark, sf_dir))
    )


def html_intake_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached SOURCE DIRECTORY for the streaming intake twin:
    the dirty corpus split into two id-ordered, mtime-ordered parquet
    files (batch 0 = doc_id <= median, batch 1 = rest). The split is a
    pure function of the corpus, so the twin's repeated bench passes
    re-run the STREAMING LIFECYCLE (readStream -> foreachBatch chain ->
    ledger) against one fixed source instead of re-materializing two
    coalesce(1) splits per pass."""
    return _two_file_stream_src(
        spark, "htmlsrc", sf_dir,
        lambda: _key_halves(html_intake_corpus(spark, sf_dir), "doc_id"),
    )


_HTML_SQL = " || ".join(
    _sql_lit(v) if kind == "lit" else f"CAST({v} AS VARCHAR)"
    for kind, v in _HTML_PIECES
)


def _sql_rep(s: str) -> str:
    """Replacement literal for the oracle: a real newline must be chr(10)
    (DuckDB standard strings keep backslashes literal)."""
    return "chr(10)" if s == "\n" else _sql_lit(s)


def _html_to_text_sql(expr: str) -> str:
    """Compile text.py's step tables to one nested DuckDB expression —
    the SAME tuples the Spark column chain walks."""
    from gcp_etl_pipeline_spark.operators import text as _text

    out = expr
    for pat, rep in _text.HTML_STRIP_STEPS:
        out = f"regexp_replace({out}, {_sql_lit(pat)}, {_sql_rep(rep)}, 'g')"
    for ent, ch in _text.HTML_ENTITIES:
        out = f"replace({out}, {_sql_lit(ent)}, {_sql_rep(ch)})"
    for pat, rep in _text.HTML_WS_STEPS:
        out = f"regexp_replace({out}, {_sql_lit(pat)}, {_sql_rep(rep)}, 'g')"
    return f"trim({out})"


def _repair_encoding_sql(expr: str) -> str:
    """Compile text.py's charset-repair step tables (mojibake pairs, the
    control-character class, the replacement char) to one nested DuckDB
    expression — the front door ahead of ``_html_to_text_sql``, same
    shared-tuple discipline."""
    from gcp_etl_pipeline_spark.operators import text as _text

    out = expr
    for bad, good in _text.MOJIBAKE_STEPS:
        out = f"replace({out}, {_sql_lit(bad)}, {_sql_lit(good)})"
    out = (
        f"regexp_replace({out}, {_sql_lit(_text.CTRL_STRIP_RE)}, '', 'g')"
    )
    return f"replace({out}, {_sql_lit(_text.REPLACEMENT_CHAR)}, '')"


def _q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping as one codegen'd projection: page chrome, script
    and style bodies, and comments vanish; block boundaries become
    newlines; entities decode (unknown ones pass through); whitespace
    collapses. No shuffle, no Python — the transform fuses into the
    parquet scan."""
    from gcp_etl_pipeline_spark.operators import text as _text

    html = _html_wrap(_docs(spark, sf_dir))
    return html.select(
        "doc_id",
        _text.html_to_text("html").alias("clean_text"),
    ).withColumn("n_chars", F.length("clean_text").cast("bigint"))


register(
    "html_extract_text",
    _q_html_extract,
    f"""
    WITH h AS (SELECT doc_id, {_HTML_SQL} AS html FROM documents),
    x AS (SELECT doc_id, {_html_to_text_sql('html')} AS clean_text FROM h)
    SELECT doc_id, clean_text,
           CAST(length(clean_text) AS BIGINT) AS n_chars
    FROM x
    """,
)


def _q_html_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl front door COMPOSED ahead of the intake chain —
    DIRTY raw HTML in (planted mojibake / control chars / U+FFFD,
    classes keyed doc_id % 5), gated deduped rows out: charset repair
    (repair_encoding — the step every real feed needs before markup) ->
    strip/decode/normalize -> quality gates -> language gate -> exact
    dedup (keep min id). The page chrome the wrapper plants rides every
    document through tokenization, the gates, and the fingerprint, so
    the oracle replaying the same chain over the same HTML certifies
    repair + extraction are safe in FRONT of the existing curation
    tier. Gate survivors are pinned once before the fingerprint
    self-join (the corpus_intake_pipeline economics); the dirty corpus
    itself is session-cached parquet shared with the streaming twin."""
    from gcp_etl_pipeline_spark.operators import dedup as _dedup
    from gcp_etl_pipeline_spark.operators import text as _text

    html = html_intake_corpus(spark, sf_dir)
    # pin the extraction ONCE: downstream the text column feeds
    # n_tokens/alpha/uniq (quality_features), four lang-marker counts
    # (lang_id), and the output select — Catalyst inlines the 15-step
    # regex chain into EACH of those expressions without a
    # materialization barrier (measured 16.8s vs 4.2s at sf0.1)
    extracted = html.select(
        "doc_id",
        "source",
        _text.html_to_text(_text.repair_encoding("html")).alias("text"),
    ).localCheckpoint(eager=True)
    q = _text.quality_features(extracted)
    filtered = q.where(
        (F.col("n_tokens") >= 15)
        & (F.col("alpha_ratio") >= 0.45)
        & (_text.lang_id("text") == "en")
    )
    pinned = filtered.select(
        "doc_id", "source", "n_tokens", "text"
    ).localCheckpoint(eager=True)
    return _dedup.dedup_exact(pinned).select("doc_id", "source", "n_tokens")


def _html_intake_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.dedup_queries import (
        _FP,
        _lang_ctes,
    )

    return f"""
    WITH h AS (SELECT doc_id, source, {_HTML_SQL} || {_DIRTY_SQL} AS html
               FROM documents),
    x AS (SELECT doc_id, source,
            {_html_to_text_sql(_repair_encoding_sql('html'))} AS text
          FROM h),
    tok AS (SELECT doc_id, source, text,
              list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          t -> t <> '') AS toks
            FROM x),
    {_lang_ctes()},
    q AS (SELECT doc_id, source, text,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            CASE WHEN length(text) > 0 THEN
              CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   AS DOUBLE) / length(text) ELSE 0.0 END AS alpha_ratio
          FROM tok),
    f AS (SELECT q.* FROM q JOIN langd USING (doc_id)
          WHERE n_tokens >= 15 AND alpha_ratio >= 0.45
            AND lang_det = 'en'),
    fp AS (SELECT doc_id, source, n_tokens, {_FP} AS fhash FROM f),
    keep AS (SELECT fhash, MIN(doc_id) AS doc_id FROM fp GROUP BY fhash)
    SELECT fp.doc_id, fp.source, fp.n_tokens
    FROM fp JOIN keep ON fp.doc_id = keep.doc_id AND fp.fhash = keep.fhash
    """


register("html_intake_pipeline", _q_html_intake, _html_intake_oracle())


# anchor-href harvest — the crawl-frontier extraction that feeds a link
# graph / URL dedup. The tag name must be exactly 'a' (whitespace after
# it, so <audio>/<abbr> never match) and 'href' must start an attribute
# (preceded by whitespace — data-href never matches); case-insensitive;
# one pattern per quote style (RE2 has no backrefs to unify them).
# Patterns are passed as lit() columns on the Spark side — never through
# F.expr — so backslashes survive without SQL-literal escape semantics.
_HREF_RE_DQ = r'(?i)<a\s(?:[^>]*\s)?href\s*=\s*"([^"]*)"'
_HREF_RE_SQ = r"(?i)<a\s(?:[^>]*\s)?href\s*=\s*'([^']*)'"


def _q_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction as one codegen'd projection + explode: every
    href of every anchor tag (double-quoted matches in document order,
    then single-quoted), plus the per-doc outdegree — the crawl-
    frontier feed. No Python, no shuffle; the regexp_extract_alls fuse
    into the scan and the explode is a JVM generator."""
    html = _html_wrap(_docs(spark, sf_dir))
    arr = html.select(
        "doc_id",
        F.concat(
            F.regexp_extract_all("html", F.lit(_HREF_RE_DQ), F.lit(1)),
            F.regexp_extract_all("html", F.lit(_HREF_RE_SQ), F.lit(1)),
        ).alias("__hrefs"),
    )
    out = arr.select(
        "doc_id",
        F.posexplode("__hrefs").alias("__no", "href"),
        F.size("__hrefs").cast("bigint").alias("outdegree"),
    )
    return out.select(
        "doc_id",
        F.col("__no").cast("bigint").alias("link_no"),
        "href",
        "outdegree",
    )


register(
    "html_link_extract",
    _q_html_links,
    f"""
    WITH h AS (SELECT doc_id, {_HTML_SQL} AS html FROM documents),
    l AS (SELECT doc_id,
                 regexp_extract_all(html, {_sql_lit(_HREF_RE_DQ)}, 1)
                 || regexp_extract_all(html,
                      {_sql_lit(_HREF_RE_SQ)}, 1) AS hrefs
          FROM h)
    SELECT doc_id,
           CAST(unnest(range(len(hrefs))) AS BIGINT) AS link_no,
           unnest(hrefs) AS href,
           CAST(len(hrefs) AS BIGINT) AS outdegree
    FROM l
    """,
)


def _q_html_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup-density quality signals per page — the cheap pre-gate a
    crawl pipeline applies BEFORE full extraction (boilerplate-heavy and
    script-only pages score low): extracted-text-to-markup ratio
    (µ-unit integer division, exact on both engines), tag count, and
    script presence. One scan, zero shuffle."""
    from gcp_etl_pipeline_spark.operators import text as _text

    html = _html_wrap(_docs(spark, sf_dir))
    return html.select(
        "doc_id",
        F.length("html").cast("bigint").alias("n_chars_html"),
        F.length(_text.html_to_text("html")).cast("bigint").alias(
            "n_chars_text"
        ),
        F.size(F.expr("regexp_extract_all(html, '<[^>]+>', 0)"))
        .cast("bigint")
        .alias("n_tags"),
        F.col("html").rlike("(?i)<script\\b").alias("has_script"),
    ).withColumn(
        "density_u",
        F.expr("n_chars_text * 1000000 div n_chars_html").cast("bigint"),
    )


register(
    "html_text_density",
    _q_html_density,
    f"""
    WITH h AS (SELECT doc_id, {_HTML_SQL} AS html FROM documents),
    m AS (SELECT doc_id,
            CAST(length(html) AS BIGINT) AS n_chars_html,
            CAST(length({_html_to_text_sql('html')}) AS BIGINT)
              AS n_chars_text,
            CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT)
              AS n_tags,
            regexp_matches(html, '(?i)<script\\b') AS has_script
          FROM h)
    SELECT doc_id, n_chars_html, n_chars_text, n_tags, has_script,
           n_chars_text * 1000000 // n_chars_html AS density_u
    FROM m
    """,
)


# --------------------------------------- URL canonicalization + dedup

# raw-URL fixture shared verbatim by both engines (pure SQL CASE/concat
# over o_orderkey — only the string-cast keyword differs by dialect):
# planted variant classes per key: scheme case (%3), host case (%2),
# explicit default port (%5), trailing slash (%7), fragment (%11)
_RAW_URL = (
    "CASE o_orderkey % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP' "
    "ELSE 'https' END || '://' || "
    "CASE o_orderkey % 2 WHEN 0 THEN 'Ex.ORG' ELSE 'ex.org' END || "
    "CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 3 <= 1 THEN ':80' "
    "WHEN o_orderkey % 5 = 0 THEN ':443' ELSE '' END || "
    "'/p/' || CAST(o_orderkey % 97 AS {V}) || "
    "CASE WHEN o_orderkey % 7 = 0 THEN '/' ELSE '' END || "
    "CASE WHEN o_orderkey % 11 = 0 THEN '#sec' ELSE '' END"
)


def _q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL dedup: canonicalize (scheme/host lowercase,
    default-port strip, fragment drop, trailing-slash trim —
    text.normalize_url) then group — the URL-level dedup that runs
    before any content is fetched. The fixture plants five orthogonal
    variant classes over the orders keys, so the oracle's replay breaks
    if any normalization step drifts. One scan + one groupBy shuffle."""
    from gcp_etl_pipeline_spark.operators import text as _text

    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    raw = orders.select(
        "o_orderkey",
        F.expr(_RAW_URL.format(V="STRING")).alias("__raw"),
    )
    return (
        raw.select(
            "o_orderkey", _text.normalize_url("__raw").alias("norm_url")
        )
        .groupBy("norm_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_raw"),
            F.min("o_orderkey").alias("first_key"),
        )
    )


register(
    "url_normalize_dedup",
    _q_url_normalize,
    f"""
    WITH raw AS (SELECT o_orderkey, {_RAW_URL.format(V="VARCHAR")} AS u
                 FROM orders),
    p1 AS (SELECT o_orderkey,
             lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
           FROM raw),
    p2 AS (SELECT o_orderkey, scheme,
             lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS auth,
             regexp_replace(rest, '^[^/?#]*', '') AS tail
           FROM p1),
    p3 AS (SELECT o_orderkey, scheme,
             CASE WHEN scheme = 'http'
                    THEN regexp_replace(auth, ':80$', '')
                  WHEN scheme = 'https'
                    THEN regexp_replace(auth, ':443$', '')
                  ELSE auth END AS auth,
             regexp_replace(tail, '#.*$', '') AS tail
           FROM p2),
    p4 AS (SELECT o_orderkey, scheme, auth,
             regexp_replace(regexp_extract(tail, '^([^?]*)', 1),
                            '/+$', '')
               || regexp_replace(tail, '^[^?]*', '') AS tail
           FROM p3)
    SELECT scheme || '://' || auth || tail AS norm_url,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           MIN(o_orderkey) AS first_key
    FROM p4
    GROUP BY 1
    """,
)


# ------------------------------------ line-level boilerplate removal

def _q_line_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction -> line-level boilerplate excision in one plan: the
    HTML wrapper's chrome lines ('Corpus page', 'Overview', the entity
    line, the per-lang/per-source list labels) recur across (subsets
    of) the corpus and cross the min_df threshold; each document's own
    text line survives. The oracle recomputes extraction, the per-line
    distinct-doc counts, the excision, and the ordered reassembly."""
    from gcp_etl_pipeline_spark.operators import dedup as _dedup
    from gcp_etl_pipeline_spark.operators import text as _text

    html = _html_wrap(_docs(spark, sf_dir))
    extracted = html.select(
        "doc_id", _text.html_to_text("html").alias("text")
    )
    return _dedup.line_boilerplate_removal(extracted, min_df=10)


register(
    "html_line_boilerplate",
    _q_line_boilerplate,
    f"""
    WITH h AS (SELECT doc_id, {_HTML_SQL} AS html FROM documents),
    x AS (SELECT doc_id, {_html_to_text_sql('html')} AS text FROM h),
    ln AS (SELECT doc_id,
             CAST(unnest(range(len(ls))) AS BIGINT) AS idx,
             unnest(ls) AS line
           FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM x)),
    hot AS (SELECT md5(line) AS hh FROM ln
            GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 10),
    kept AS (SELECT doc_id, idx, line FROM ln
             WHERE md5(line) NOT IN (SELECT hh FROM hot)),
    agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
              string_agg(line, chr(10) ORDER BY idx) AS clean_text
            FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM ln GROUP BY doc_id)
    SELECT t.doc_id, t.n_lines,
           t.n_lines - COALESCE(a.n_kept, 0) AS removed_lines,
           COALESCE(a.clean_text, '') AS clean_text
    FROM tot t LEFT JOIN agg a USING (doc_id)
    """,
)


# ------------------------------ charset / encoding repair (front door)

def _q_charset_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encoding front door graded standalone: documents text with
    planted damage classes (doc_id % 5 — mojibake quote/dash/accent
    artifacts, C0/C1 controls, U+FFFD) flows through repair_encoding;
    the damage counters are measured BEFORE repair (the gate signals).
    One narrow projection, fuses into the scan — the oracle replays the
    shared step tables, so a drifted pair, pattern, or order breaks the
    hash."""
    from gcp_etl_pipeline_spark.operators import text as _text

    docs = _docs(spark, sf_dir)
    dirty = docs.select(
        "doc_id",
        F.concat(F.col("text"), _dirty_suffix_col("doc_id")).alias("raw"),
    )
    return dirty.select(
        "doc_id",
        _text.control_char_count("raw").alias("n_ctrl"),
        _text.replacement_char_count("raw").alias("n_fffd"),
        _text.repair_encoding("raw").alias("clean_text"),
    ).withColumn("n_chars", F.length("clean_text").cast("bigint"))


def _charset_repair_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    ctrl = _sql_lit(_text.CTRL_STRIP_RE)
    fffd = _sql_lit(_text.REPLACEMENT_CHAR)
    return f"""
    WITH d AS (SELECT doc_id, text || {_DIRTY_SQL} AS raw FROM documents),
    r AS (SELECT doc_id,
            CAST(length(raw)
                 - length(regexp_replace(raw, {ctrl}, '', 'g'))
                 AS BIGINT) AS n_ctrl,
            CAST(length(raw) - length(replace(raw, {fffd}, ''))
                 AS BIGINT) AS n_fffd,
            {_repair_encoding_sql('raw')} AS clean_text
          FROM d)
    SELECT doc_id, n_ctrl, n_fffd, clean_text,
           CAST(length(clean_text) AS BIGINT) AS n_chars
    FROM r
    """


register("charset_repair", _q_charset_repair, _charset_repair_oracle())


# ------------------------------------- per-host crawl budgets (frontier)

# URL fixture over orders keys: two high-volume registrable hosts (one
# pooled across subdomain/case/port/userinfo variants, one under a
# multi-part ccTLD) plus 50 long-tail hosts — both quota regimes (capped
# and under-quota) are exercised at every SF.
_HOST_URL = (
    "'https://' || CASE o_orderkey % 4 "
    "WHEN 0 THEN 'News.Example.COM' "
    "WHEN 1 THEN 'u@cdn.example.com:8080' "
    "WHEN 2 THEN 'blog.Sample.CO.uk' "
    "ELSE 'www.unique-' || CAST(o_orderkey % 50 AS {V}) || '.org' END "
    "|| '/art/' || CAST(o_orderkey AS {V})"
)

_HOST_SLDS_SQL = "('ac', 'co', 'com', 'edu', 'gov', 'net', 'org')"


def _q_per_host_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier politeness: registrable-host extraction (subdomains,
    case, ports, userinfo all pool; co.uk keeps three labels) + an
    exact 100-URL budget per host picked in md5(url) order — the
    deterministic two-level top-q (stratified_take discipline). The
    oracle replays host extraction and the ranked pick."""
    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    urls = orders.select(
        "o_orderkey", F.expr(_HOST_URL.format(V="STRING")).alias("url")
    )
    kept = curation.per_host_budget(urls, "url", quota=100)
    return kept.select("o_orderkey", "host", "url")


register(
    "per_host_budget_take",
    _q_per_host_budget,
    f"""
    WITH raw AS (SELECT o_orderkey, {_HOST_URL.format(V="VARCHAR")} AS url
                 FROM orders),
    h AS (SELECT o_orderkey, url,
            lower(regexp_replace(regexp_replace(
              regexp_extract(
                regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                '^([^/?#]*)', 1),
              '^[^@]*@', ''), ':[0-9]*$', '')) AS hostname
          FROM raw),
    lab AS (SELECT o_orderkey, url, hostname,
                   string_split(hostname, '.') AS ls
            FROM h),
    reg AS (SELECT o_orderkey, url,
              CASE WHEN len(ls) <= 1 THEN hostname
                   WHEN len(ls) >= 3 AND length(ls[len(ls)]) = 2
                        AND ls[len(ls) - 1] IN {_HOST_SLDS_SQL}
                     THEN ls[len(ls) - 2] || '.' || ls[len(ls) - 1]
                          || '.' || ls[len(ls)]
                   ELSE ls[len(ls) - 1] || '.' || ls[len(ls)] END AS host
            FROM lab),
    rk AS (SELECT o_orderkey, host, url,
             ROW_NUMBER() OVER (PARTITION BY host
               ORDER BY md5(url), url) AS rn
           FROM reg)
    SELECT o_orderkey, host, url FROM rk WHERE rn <= 100
    """,
)


# --------------------------- main-content extraction (readability-style)

def _q_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page densest-text-block selection over the newline-preserving
    extraction — the readability heuristic's core, page-level complement
    to corpus-level line_boilerplate_removal: the body <p> block (letter-
    dense) wins over the wrapper's chrome lines (short, symbol-heavy).
    Expression-only (one transform + one fold over the line array, zero
    shuffle, zero Python); the oracle replays extraction, per-line letter
    scores, and the (score desc, idx asc) pick."""
    from gcp_etl_pipeline_spark.operators import text as _text

    html = _html_wrap(_docs(spark, sf_dir))
    extracted = html.select(
        "doc_id", _text.html_to_text("html").alias("text")
    )
    return _text.main_content_block(extracted)


register(
    "html_main_content",
    _q_html_main_content,
    f"""
    WITH h AS (SELECT doc_id, {_HTML_SQL} AS html FROM documents),
    x AS (SELECT doc_id, {_html_to_text_sql('html')} AS text FROM h),
    ln AS (SELECT doc_id, len(ls) AS n_blocks,
                  CAST(unnest(range(len(ls))) AS BIGINT) AS idx,
                  unnest(ls) AS line
           FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM x)),
    sc AS (SELECT doc_id, n_blocks, idx, line,
             CAST(length(regexp_replace(line, '[^A-Za-z]', '', 'g'))
                  AS BIGINT) AS sc
           FROM ln),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY sc DESC, idx) AS rn
           FROM sc)
    SELECT doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
           idx AS block_idx, sc AS block_score, line AS main_text
    FROM rk WHERE rn = 1
    """,
)


# ------------------- perceptual near-dup RECALL beyond the Hamming-3 bound

# mask(d) flips bit 8*j for j < d: every flip lands in a DISTINCT 8-bit
# band — the ADVERSARIAL placement for 8-band decomposition (a d-flip
# pair touches d of the 8 bands, so it collides iff d < 8; with the
# default four 16-bit bands the same masks touch min(d, 4) bands and
# recall dies at d = 4). 60 groups x 10 variants (d = i % 10, d = 9
# re-plants d = 0 -> one exact-dup cluster per group): the exact pair
# set holds every distance 0..8 — (d1, d2) within a group sit at
# Hamming |d2 - d1| because the masks are nested.
_PH_RECALL_MASKS = [sum(1 << (8 * j) for j in range(d)) for d in range(9)]


def _q_phash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the banded near-dup join at n_bands=8, graded per
    Hamming distance against a brute-force exact join over the same
    600 closed-form hashes (base = md5-derived 60-bit value per group,
    variants XOR the adversarial nested masks). Expected shape: n_hit
    = n_exact at every distance <= 7 (the pigeonhole guarantee the
    operator documents), and n_hit = 0 at distance 8 (every band
    touched — the sharp edge of the bound, visible, not silent). The
    oracle replays hashes, the exact join, AND the band-collision rule
    closed-form, so a banding slip (wrong width, signed-shift smear,
    missed exact-dup cluster) breaks the hash."""
    from gcp_etl_pipeline_spark.operators import multimodal

    d = (
        F.when(F.col("id") % 10 < 9, F.col("id") % 10)
        .otherwise(F.lit(0))
        .cast("int")
    )
    base = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("G"), F.expr("CAST(id div 10 AS STRING)"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    mask = F.element_at(
        F.array(*[F.lit(m) for m in _PH_RECALL_MASKS]), d + F.lit(1)
    )
    hashes = spark.range(600).select(
        F.col("id").alias("media_id"),
        base.bitwiseXOR(mask).alias("dhash"),
    )
    pairs = multimodal.phash_neardup_pairs(
        hashes, max_hamming=8, n_bands=8
    ).select("a", "b", F.lit(1).alias("__hit"))
    ha = hashes.select(F.col("media_id").alias("a"), F.col("dhash").alias("__da"))
    hb = hashes.select(F.col("media_id").alias("b"), F.col("dhash").alias("__db"))
    exact = (
        ha.join(hb, F.col("a") < F.col("b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("__da").bitwiseXOR(F.col("__db"))).cast("bigint"),
        )
        .where(F.col("hamming") <= 8)
    )
    return (
        exact.join(pairs, ["a", "b"], "left")
        .groupBy("hamming")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("bigint").alias("n_hit"),
        )
    )


register(
    "image_phash_recall",
    _q_phash_recall,
    f"""
    WITH g AS (SELECT unnest(range(600)) AS i),
    v AS (SELECT i,
            CAST(CASE WHEN i % 10 < 9 THEN i % 10 ELSE 0 END AS INT) AS dc
          FROM g),
    b AS (SELECT i, dc,
            CAST(list_sum(list_transform(range(15), k ->
              CAST(strpos('0123456789abcdef',
                     substring(md5('G' || CAST(i // 10 AS VARCHAR)),
                               CAST(k + 1 AS INT), 1)) - 1 AS BIGINT)
              * (CAST(1 AS BIGINT) << CAST(4 * (14 - k) AS INT))))
            AS BIGINT) AS base
          FROM v),
    h AS (SELECT i AS media_id,
                 xor(base, ({_PH_RECALL_MASKS})[dc + 1]) AS dhash
          FROM b),
    ex AS (SELECT a.media_id AS pa, b.media_id AS pb,
             CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming,
             a.dhash AS da, b.dhash AS db
           FROM h a JOIN h b ON a.media_id < b.media_id
           WHERE bit_count(xor(a.dhash, b.dhash)) <= 8),
    hx AS (SELECT hamming,
             CASE WHEN hamming = 0 THEN 1
                  WHEN list_max(list_transform(range(8), j ->
                    CASE WHEN (da >> CAST(8 * j AS INT)) & 255
                              = (db >> CAST(8 * j AS INT)) & 255
                         THEN 1 ELSE 0 END)) = 1
                  THEN 1 ELSE 0 END AS hit
           FROM ex)
    SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(hit) AS BIGINT) AS n_hit
    FROM hx GROUP BY hamming
    """,
)


# --------------------- tracking-param stripping (frontier, second stage)

# planted classes keyed o_orderkey % 5: no query / all-tracking /
# tracking mid-list / ref between kept params / tracking-prefix page
_TRK_URL = (
    "'https://ex.org/p/' || CAST(o_orderkey % 97 AS {V}) || "
    "CASE o_orderkey % 5 WHEN 0 THEN '' "
    "WHEN 1 THEN '?utm_source=news&utm_campaign=x' "
    "WHEN 2 THEN '?id=' || CAST(o_orderkey % 11 AS {V}) || '&utm_medium=m' "
    "WHEN 3 THEN '?a=1&ref=tw&b=2' "
    "ELSE '?fbclid=z&gclid=1&page=' || CAST(o_orderkey % 7 AS {V}) END"
)


def _q_url_strip_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-tracking query params stripped (utm_*/fbclid/gclid/msclkid/
    ref), remaining params kept in original order, bare '?' dropped when
    nothing survives — then the frontier group-by, so the oracle breaks
    if any class canonicalizes wrong. One scan + one shuffle."""
    from gcp_etl_pipeline_spark.operators import text as _text

    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    raw = orders.select(
        "o_orderkey", F.expr(_TRK_URL.format(V="STRING")).alias("__raw")
    )
    return (
        raw.select(
            "o_orderkey",
            _text.strip_tracking_params("__raw").alias("canon_url"),
        )
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_raw"),
            F.min("o_orderkey").alias("first_key"),
        )
    )


def _url_strip_tracking_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    trk = _sql_lit(_text.TRACKING_PARAM_RE)
    return f"""
    WITH raw AS (SELECT o_orderkey, {_TRK_URL.format(V="VARCHAR")} AS u
                 FROM orders),
    p AS (SELECT o_orderkey,
            regexp_extract(u, '^([^?]*)', 1) AS head,
            regexp_replace(u, '^[^?]*\\??', '') AS query,
            u
          FROM raw),
    k AS (SELECT o_orderkey, head, query, u,
            list_filter(string_split(query, '&'),
              x -> NOT regexp_matches(x, {trk}) AND x <> '') AS kept
          FROM p),
    c AS (SELECT o_orderkey,
            CASE WHEN length(query) = 0 THEN u
                 ELSE head || CASE WHEN len(kept) > 0
                                   THEN '?' || array_to_string(kept, '&')
                                   ELSE '' END END AS canon_url
          FROM k)
    SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_raw,
           MIN(o_orderkey) AS first_key
    FROM c GROUP BY 1
    """


register(
    "url_strip_tracking",
    _q_url_strip_tracking,
    _url_strip_tracking_oracle(),
)


# ----------------------------- anchor-text harvest (link-graph labels)

# tag discipline mirrors the href patterns: 'a' exactly (optional
# attribute block), non-greedy body, case-insensitive, dotall for
# anchors spanning the wrapper's structure
_ANCHOR_RE = r"(?is)<a(\s[^>]*)?>(.*?)</a\s*>"


def _q_html_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The link-graph LABEL source: every anchor's inner text in
    document order (inline tags stripped, trimmed), plus per-doc anchor
    count — the companion to html_link_extract's hrefs. Zero Python,
    zero shuffle."""
    html = _html_wrap(_docs(spark, sf_dir))
    arr = html.select(
        "doc_id",
        F.regexp_extract_all("html", F.lit(_ANCHOR_RE), F.lit(2)).alias(
            "__a"
        ),
    )
    out = arr.select(
        "doc_id",
        F.posexplode("__a").alias("__no", "__raw"),
        F.size("__a").cast("bigint").alias("n_anchors"),
    )
    return out.select(
        "doc_id",
        F.col("__no").cast("bigint").alias("anchor_no"),
        F.trim(F.regexp_replace("__raw", "<[^>]*>", "")).alias(
            "anchor_text"
        ),
        "n_anchors",
    )


register(
    "html_anchor_texts",
    _q_html_anchor_texts,
    f"""
    WITH h AS (SELECT doc_id, {_HTML_SQL} AS html FROM documents),
    l AS (SELECT doc_id,
                 regexp_extract_all(html, {_sql_lit(_ANCHOR_RE)}, 2) AS a
          FROM h)
    SELECT doc_id,
           CAST(unnest(range(len(a))) AS BIGINT) AS anchor_no,
           trim(regexp_replace(unnest(a), '<[^>]*>', '', 'g'))
             AS anchor_text,
           CAST(len(a) AS BIGINT) AS n_anchors
    FROM l
    """,
)


# ----------------------- unicode script profile (multilingual curation)

# planted non-Latin runs (Cyrillic / Hiragana+CJK / Arabic / Greek)
# repeated 10 + doc_id % 30 times, so the dominant script flips per
# document depending on its Latin text length — the argmax is graded,
# not just the counts. The snippet is dialect-identical (CASE || repeat)
# and runs verbatim in both engines.
_SCRIPT_TEXT_SQL = "text || CASE doc_id % 5 WHEN 1 THEN repeat(' Привет', 10 + doc_id % 30) WHEN 2 THEN repeat(' こんにちは世界', 10 + doc_id % 30) WHEN 3 THEN repeat(' مرحبا', 10 + doc_id % 30) WHEN 4 THEN repeat(' γεια', 10 + doc_id % 30) ELSE '' END"


def _q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class census + dominant script per document — the cheap
    script detector that sanity-checks language ID (an 'en' doc that is
    80% CJK is mislabeled). Exact integer counts (length deltas over
    shared \\x{..} ranges); one scan, zero shuffle, zero Python."""
    from gcp_etl_pipeline_spark.operators import text as _text

    docs = _docs(spark, sf_dir)
    dirty = docs.select("doc_id", F.expr(_SCRIPT_TEXT_SQL).alias("t"))
    return dirty.select(
        "doc_id",
        *_text.script_counts("t"),
        _text.dominant_script("t").alias("dominant"),
    )


def _script_profile_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    counts = ",\n            ".join(
        f"CAST(length(t) - length(regexp_replace(t, {_sql_lit(pat)}, '', 'g'))"
        f" AS BIGINT) AS n_{name}"
        for name, pat in _text.SCRIPT_RANGES
    )
    first_max = " ".join(
        f"WHEN n_{name} = mx THEN '{name}'"
        for name, _ in _text.SCRIPT_RANGES
    )
    greatest = ", ".join(f"n_{name}" for name, _ in _text.SCRIPT_RANGES)
    return f"""
    WITH d AS (SELECT doc_id, {_SCRIPT_TEXT_SQL} AS t FROM documents),
    c AS (SELECT doc_id,
            {counts}
          FROM d),
    m AS (SELECT *, GREATEST({greatest}) AS mx FROM c)
    SELECT doc_id, {greatest},
           CASE WHEN mx = 0 THEN 'none' {first_max} END AS dominant
    FROM m
    """


register("script_profile", _q_script_profile, _script_profile_oracle())


# --------------------------- robots.txt directive evaluation (politeness)

# closed-form directive table over the _HOST_URL fixture's ORIGINS
# (robots scope is per exact hostname — RFC 9309 §2.3): nested prefixes
# (longest match must win), an equal-prefix allow/disallow pair (Allow
# must win the tie), a root disallow with a deeper allow override,
# per-origin divergence within one registrable domain (news.* rules
# differ from cdn.*), and rule-less hosts (default allowed)
_ROBOTS_RULES: tuple[tuple[str, str, bool], ...] = (
    ("news.example.com", "/art/1", False),
    ("news.example.com", "/art/12", True),
    ("news.example.com", "/art/13", False),
    ("news.example.com", "/art/13", True),
    ("cdn.example.com", "/", False),
    ("cdn.example.com", "/art/7", True),
    ("blog.sample.co.uk", "/art/9", False),
)


def _q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 precedence graded end-to-end: most specific (longest)
    matching prefix wins, Allow wins a length tie, no-match defaults to
    allowed; scope is PER ORIGIN — News.Example.COM (case-folded) and
    u@cdn.example.com:8080 (userinfo/port-stripped) resolve to
    DIFFERENT rule sets within one registrable domain. The rule join
    broadcasts (plan census); precedence is one max_by aggregate over
    distinct URLs, joined back so duplicate frontier rows each keep a
    verdict."""
    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    urls = orders.select(
        "o_orderkey", F.expr(_HOST_URL.format(V="STRING")).alias("url")
    )
    rules = spark.createDataFrame(
        list(_ROBOTS_RULES), "host STRING, path_prefix STRING, allow BOOLEAN"
    )
    return curation.robots_filter(urls, rules).select(
        "o_orderkey", "url", "allowed", "matched_prefix"
    )


def _robots_oracle() -> str:
    vals = ", ".join(
        f"({_sql_lit(h)}, {_sql_lit(p)}, {str(a).lower()})"
        for h, p, a in _ROBOTS_RULES
    )
    return f"""
    WITH raw AS (SELECT o_orderkey, {_HOST_URL.format(V="VARCHAR")} AS url
                 FROM orders),
    h AS (SELECT o_orderkey, url,
            regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
          FROM raw),
    p AS (SELECT o_orderkey, url,
            lower(regexp_replace(regexp_replace(
              regexp_extract(rest, '^([^/?#]*)', 1),
              '^[^@]*@', ''), ':[0-9]*$', '')) AS hostname,
            regexp_replace(rest, '^[^/?#]*', '') AS rawpath
          FROM h),
    g AS (SELECT o_orderkey, url, hostname,
            CASE WHEN starts_with(rawpath, '/') THEN rawpath
                 ELSE '/' || rawpath END AS path
          FROM p),
    rules AS (SELECT * FROM (VALUES {vals}) AS t(host, pfx, allow)),
    cand AS (SELECT g.o_orderkey, g.url, r.pfx, r.allow
             FROM g LEFT JOIN rules r
               ON g.hostname = r.host AND starts_with(g.path, r.pfx)),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY url
             ORDER BY length(pfx) DESC, allow DESC, pfx DESC) AS rn
           FROM cand)
    SELECT o_orderkey, url,
           COALESCE(allow, true) AS allowed,
           COALESCE(pfx, '') AS matched_prefix
    FROM rk WHERE rn = 1
    """


register("robots_filter_frontier", _q_robots_filter, _robots_oracle())


# ------------------- composed crawl-frontier pipeline (the fetch list)

# raw-URL fixture crossing every frontier hazard: scheme case (%3),
# host variants incl. userinfo + non-default port (%4), a SHARED path
# space (key % 600 -> cross-key duplicates after canonicalization),
# tracking params (%5), trailing slash (%7), fragment (%11)
_FRONTIER_URL = (
    "CASE o_orderkey % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTPS' "
    "ELSE 'https' END || '://' || "
    "CASE o_orderkey % 4 WHEN 0 THEN 'News.Example.COM' "
    "WHEN 1 THEN 'u@cdn.example.com:8080' "
    "WHEN 2 THEN 'blog.Sample.CO.uk' "
    "ELSE 'www.unique-' || CAST(o_orderkey % 50 AS {V}) || '.org' END "
    "|| '/art/' || CAST(o_orderkey % 600 AS {V}) || "
    "CASE WHEN o_orderkey % 7 = 0 THEN '/' ELSE '' END || "
    "CASE o_orderkey % 5 WHEN 1 THEN '?utm_source=n&utm_campaign=x' "
    "WHEN 2 THEN '?id=' || CAST(o_orderkey % 11 AS {V}) || '&utm_medium=m' "
    "WHEN 3 THEN '?a=1&ref=tw&b=2' ELSE '' END || "
    "CASE WHEN o_orderkey % 11 = 0 THEN '#sec' ELSE '' END"
)


def _q_frontier_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE frontier, one lazy plan — what actually runs between
    'URLs discovered' and 'fetcher queue': canonicalize (normalize_url
    -> strip_tracking_params) -> URL-level dedup (min discovering key
    per canonical URL) -> robots gate (per-origin RFC 9309 verdicts,
    disallowed URLs dropped) -> per-host fetch budget (deterministic
    50-URL md5-order quota). The oracle replays every stage, so a drift
    in ANY canonicalization rule, the dedup key, a robots verdict, or
    the quota pick breaks the hash."""
    from gcp_etl_pipeline_spark.operators import text as _text

    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    raw = orders.select(
        "o_orderkey", F.expr(_FRONTIER_URL.format(V="STRING")).alias("__raw")
    )
    canon = raw.select(
        "o_orderkey",
        _text.strip_tracking_params(
            _text.normalize_url("__raw")
        ).alias("url"),
    )
    deduped = canon.groupBy("url").agg(
        F.min("o_orderkey").alias("first_key"),
        F.count(F.lit(1)).cast("bigint").alias("n_raw"),
    )
    rules = spark.createDataFrame(
        list(_ROBOTS_RULES), "host STRING, path_prefix STRING, allow BOOLEAN"
    )
    fetchable = (
        curation.robots_filter(deduped, rules, assume_distinct=True)
        .where(F.col("allowed"))
        .drop("allowed", "matched_prefix")
    )
    return curation.per_host_budget(fetchable, "url", quota=50).select(
        "url", "host", "first_key", "n_raw"
    )


def _frontier_verdict_cte() -> str:
    """The frontier chain's shared oracle prefix — canonicalize ->
    min-key dedup -> per-origin robots verdict (CTE ``verd``). The
    batch oracle appends the budget stage; the streaming twin's oracle
    stops at the allowed set. ONE definition, so the two graded
    surfaces can never drift."""
    from gcp_etl_pipeline_spark.operators import text as _text

    vals = ", ".join(
        f"({_sql_lit(h)}, {_sql_lit(p)}, {str(a).lower()})"
        for h, p, a in _ROBOTS_RULES
    )
    trk = _sql_lit(_text.TRACKING_PARAM_RE)
    return f"""
    WITH raw AS (SELECT o_orderkey, {_FRONTIER_URL.format(V="VARCHAR")} AS u
                 FROM orders),
    n1 AS (SELECT o_orderkey,
             lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
           FROM raw),
    n2 AS (SELECT o_orderkey, scheme,
             lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS auth,
             regexp_replace(rest, '^[^/?#]*', '') AS tail
           FROM n1),
    n3 AS (SELECT o_orderkey, scheme,
             CASE WHEN scheme = 'http'
                    THEN regexp_replace(auth, ':80$', '')
                  WHEN scheme = 'https'
                    THEN regexp_replace(auth, ':443$', '')
                  ELSE auth END AS auth,
             regexp_replace(tail, '#.*$', '') AS tail
           FROM n2),
    n4 AS (SELECT o_orderkey,
             scheme || '://' || auth
               || regexp_replace(regexp_extract(tail, '^([^?]*)', 1),
                                 '/+$', '')
               || regexp_replace(tail, '^[^?]*', '') AS nu
           FROM n3),
    t1 AS (SELECT o_orderkey, nu,
             regexp_extract(nu, '^([^?]*)', 1) AS head,
             regexp_replace(nu, '^[^?]*\\??', '') AS query
           FROM n4),
    t2 AS (SELECT o_orderkey,
             CASE WHEN length(query) = 0 THEN nu
                  ELSE head || CASE WHEN len(kept) > 0
                                    THEN '?' || array_to_string(kept, '&')
                                    ELSE '' END END AS url
           FROM (SELECT *, list_filter(string_split(query, '&'),
                   x -> NOT regexp_matches(x, {trk}) AND x <> '') AS kept
                 FROM t1)),
    ded AS (SELECT url, MIN(o_orderkey) AS first_key,
                   CAST(COUNT(*) AS BIGINT) AS n_raw
            FROM t2 GROUP BY url),
    pp AS (SELECT url, first_key, n_raw,
             lower(regexp_replace(regexp_replace(
               regexp_extract(regexp_replace(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1),
               '^[^@]*@', ''), ':[0-9]*$', '')) AS hostname,
             regexp_replace(regexp_replace(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/?#]*', '')
               AS rawpath
           FROM ded),
    pq AS (SELECT *, CASE WHEN starts_with(rawpath, '/') THEN rawpath
                          ELSE '/' || rawpath END AS path
           FROM pp),
    rules AS (SELECT * FROM (VALUES {vals}) AS t(host, pfx, allow)),
    cand AS (SELECT pq.url, pq.first_key, pq.n_raw, pq.hostname,
                    r.pfx, r.allow
             FROM pq LEFT JOIN rules r
               ON pq.hostname = r.host AND starts_with(pq.path, r.pfx)),
    vrk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY url
              ORDER BY length(pfx) DESC, allow DESC, pfx DESC) AS vrn
            FROM cand),
    verd AS (SELECT url, first_key, n_raw, hostname,
               COALESCE(allow, true) AS allowed
             FROM vrk WHERE vrn = 1)"""


def _frontier_oracle() -> str:
    return f"""{_frontier_verdict_cte()},
    fet AS (SELECT url, first_key, n_raw,
              lower(regexp_replace(regexp_replace(
                regexp_extract(regexp_replace(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1),
                '^[^@]*@', ''), ':[0-9]*$', '')) AS hostname
            FROM verd WHERE allowed),
    lab AS (SELECT *, string_split(hostname, '.') AS ls FROM fet),
    reg AS (SELECT url, first_key, n_raw,
              CASE WHEN len(ls) <= 1 THEN hostname
                   WHEN len(ls) >= 3 AND length(ls[len(ls)]) = 2
                        AND ls[len(ls) - 1] IN {_HOST_SLDS_SQL}
                     THEN ls[len(ls) - 2] || '.' || ls[len(ls) - 1]
                          || '.' || ls[len(ls)]
                   ELSE ls[len(ls) - 1] || '.' || ls[len(ls)] END AS host
            FROM lab),
    rk AS (SELECT url, host, first_key, n_raw,
             ROW_NUMBER() OVER (PARTITION BY host
               ORDER BY md5(url), url) AS rn
           FROM reg)
    SELECT url, host, first_key, n_raw FROM rk WHERE rn <= 50
    """


register("frontier_pipeline", _q_frontier_pipeline, _frontier_oracle())


# ----------------------- crawl-trap URL detection (frontier hygiene)

# planted trap classes per orders key (k % 6): 0 normal shallow page,
# 1 depth-10 nest, 2 self-repeating segments (k%5<2: a triple
# /cat/.../cat/.../cat nest = trap; else ONE repeat — /en/p/en —
# which legitimate sites produce and must NOT trap), 3 deep calendar
# walk, 4 session-token link (k%5<2 name-based, else 24-hex-value;
# %5 is coprime with the %6 class so both branches are live),
# 5 faceted-search param explosion — plus a SHALLOW calendar
# archive at k % 17 = 0 on class 0 (calendar alone must NOT trap)
_TRAP_URL = (
    "'https://trap-' || CAST(o_orderkey % 13 AS {V}) || '.example.org' || "
    "CASE o_orderkey % 6 "
    "WHEN 0 THEN CASE WHEN o_orderkey % 17 = 0 "
    "  THEN '/2024/' || CAST(1 + o_orderkey % 12 AS {V}) || '/' "
    "       || CAST(1 + o_orderkey % 28 AS {V}) || '/' "
    "  ELSE '/a/' || CAST(o_orderkey % 50 AS {V}) END "
    "WHEN 1 THEN '/d1/d2/d3/d4/d5/d6/d7/d8/d9/x' || CAST(o_orderkey % 10 AS {V}) "
    "WHEN 2 THEN CASE WHEN o_orderkey % 5 < 2 "
    "  THEN '/cat/p' || CAST(o_orderkey % 7 AS {V}) || '/cat/p' "
    "       || CAST(o_orderkey % 7 AS {V}) || '/cat/view' "
    "  ELSE '/en/p' || CAST(o_orderkey % 7 AS {V}) || '/en' END "
    "WHEN 3 THEN '/cal/2020/' || CAST(1 + o_orderkey % 12 AS {V}) || '/' "
    "  || CAST(1 + o_orderkey % 28 AS {V}) || '/w/x/y' "
    "WHEN 4 THEN '/p/' || CAST(o_orderkey % 50 AS {V}) || "
    "  CASE WHEN o_orderkey % 5 < 2 THEN '?sessionid=u' || CAST(o_orderkey AS {V}) "
    "       ELSE '?t=0123456789abcdef01234567' END "
    "ELSE '/s?a=1&b=2&c=3&d=4&e=' || CAST(o_orderkey % 9 AS {V}) || '&f=6' END"
)


def _q_url_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-trap detection over a frontier: exact structural signals
    (path depth, repeated path segments, param count, session tokens,
    calendar paths) and the enqueue verdict — one codegen'd projection,
    zero shuffle, zero Python; the signals fuse into the scan. The
    fixture plants every trap class plus the shallow-calendar negative
    (a /2024/05/17/ archive page must stay enqueueable)."""
    from gcp_etl_pipeline_spark.operators import text as _text

    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    urls = orders.select(
        "o_orderkey", F.expr(_TRAP_URL.format(V="STRING")).alias("url")
    )
    sig = urls.select("o_orderkey", "url", *_text.url_trap_signals("url"))
    return sig.select(
        "*",
        _text.is_crawl_trap(
            F.col("path_depth"),
            F.col("repeated_segments"),
            F.col("param_count"),
            F.col("has_session_param"),
            F.col("has_calendar_path"),
        ).alias("is_trap"),
    )


def _url_trap_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    return f"""
    WITH raw AS (SELECT o_orderkey, {_TRAP_URL.format(V="VARCHAR")} AS url
                 FROM orders),
    t AS (SELECT o_orderkey, url,
            regexp_replace(
              regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
              '^[^/?#]*', '') AS tail
          FROM raw),
    pq AS (SELECT o_orderkey, url,
             regexp_extract(regexp_replace(tail, '#.*$', ''),
                            '^([^?]*)', 1) AS path,
             regexp_replace(regexp_replace(tail, '#.*$', ''),
                            '^[^?]*\\??', '') AS query
           FROM t),
    seg AS (SELECT o_orderkey, url, query,
              list_filter(string_split(path, '/'), s -> s <> '') AS segs,
              list_filter(string_split(query, '&'), p -> p <> '') AS params,
              path
            FROM pq),
    sig AS (SELECT o_orderkey, url,
              CAST(len(segs) AS BIGINT) AS path_depth,
              CAST(len(segs) - len(list_distinct(segs)) AS BIGINT)
                AS repeated_segments,
              CAST(len(params) AS BIGINT) AS param_count,
              (regexp_matches(query, {_sql_lit(_text.SESSION_PARAM_RE)})
               OR regexp_matches(query, {_sql_lit(_text.HEX_TOKEN_PARAM_RE)}))
                AS has_session_param,
              regexp_matches(path, {_sql_lit(_text.CALENDAR_PATH_RE)})
                AS has_calendar_path
            FROM seg)
    SELECT *,
           (path_depth > 8 OR repeated_segments >= 2 OR param_count > 5
            OR has_session_param
            OR (has_calendar_path AND path_depth > 5)) AS is_trap
    FROM sig
    """


register("url_trap_detect", _q_url_trap, _url_trap_oracle())


# ------------------- recrawl scheduling (crawl freshness maintenance)

# fetch-log fixture over events: url classes planting every schedule
# tier — singleton URLs (event_id % 37 = 0: one fetch, no observed
# cadence), static pages (user_id % 5 = 0: fingerprint never changes),
# always-changing pages (user_id % 5 = 1: fingerprint = event id), and
# organically-churning pages (fingerprint = event_type, ~4/5 of
# consecutive fetches differ), and slow-drift pages (user_id % 5 = 2:
# fingerprint = 14-day epoch bucket — one or two changes across the
# fixture's 30-day span, the under-20%%-churn band). {EU} is the
# engine's epoch-µs form, {IDIV} its integer division.
_FETCH_URL_ID = (
    "CASE WHEN event_id % 37 = 0 THEN 10000000 + event_id "
    "ELSE user_id * 10 + event_id % 7 END"
)
_FETCH_FP = (
    "CASE WHEN user_id % 5 = 0 THEN 'static' "
    "WHEN user_id % 5 = 1 THEN 'v' || CAST(event_id AS {V}) "
    "WHEN user_id % 5 = 2 THEN 'w' || CAST({EU} {IDIV} 1209600000000 AS {V}) "
    "ELSE event_type END"
)


def _q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl-interval estimation over a fetch log: per-URL change
    ratio (consecutive-fetch fingerprint comparison) drives a
    geometric backoff multiplier on the observed mean inter-fetch
    interval — the scheduler that keeps a 100-TB crawl fresh without
    re-fetching the static web. One hash exchange on url_id serves
    both the lag window and the aggregate."""
    from gcp_etl_pipeline_spark.operators import curation as _cur

    ev = _scan(spark, f"{sf_dir}/events.parquet")
    fetches = ev.select(
        F.expr(_FETCH_URL_ID).alias("url_id"),
        "ts",
        F.col("event_id").alias("fetch_id"),
        F.expr(
            _FETCH_FP.format(
                V="STRING",
                EU="unix_micros(CAST(ts AS TIMESTAMP))",
                IDIV="DIV",
            )
        ).alias("content_fp"),
    )
    return _cur.recrawl_schedule(fetches)


def _recrawl_ctes() -> str:
    """The recrawl-schedule oracle chain, ending in a `sched` CTE with
    the full schedule projection — factored so the sitemap-freshness
    composition (`recrawl_sitemap_boost`) grades against the IDENTICAL
    rules."""
    return f"""f AS (SELECT {_FETCH_URL_ID} AS url_id, ts,
                      event_id AS fetch_id,
                      {_FETCH_FP.format(V="VARCHAR", EU="epoch_us(ts)",
                                          IDIV="//")} AS content_fp
               FROM events),
    m AS (SELECT url_id, epoch_us(ts) AS us,
            CAST(content_fp <> LAG(content_fp) OVER
              (PARTITION BY url_id ORDER BY epoch_us(ts), fetch_id)
              AS BIGINT) AS changed
          FROM f),
    a AS (SELECT url_id,
            COUNT(*) AS n_fetches,
            CAST(SUM(COALESCE(changed, 0)) AS BIGINT) AS n_changes,
            MAX(us) - MIN(us) AS span_us
          FROM m GROUP BY 1),
    r AS (SELECT *,
            CASE WHEN n_fetches > 1
                 THEN (n_changes * 1000000) // (n_fetches - 1)
                 ELSE 0 END AS change_ratio_u,
            CASE WHEN n_fetches > 1 THEN span_us // (n_fetches - 1)
                 ELSE 0 END AS mean_interval_us
          FROM a),
    sched AS (SELECT url_id, n_fetches, n_changes, span_us,
           change_ratio_u, mean_interval_us,
           CAST((CASE WHEN n_fetches > 1 THEN mean_interval_us
                      ELSE 86400000000 END)
                * (CASE WHEN change_ratio_u >= 500000 THEN 1
                        WHEN change_ratio_u >= 200000 THEN 4
                        WHEN change_ratio_u > 0 THEN 16
                        ELSE 64 END) AS BIGINT) AS recrawl_interval_us,
           CASE WHEN change_ratio_u >= 500000 THEN 'live'
                WHEN change_ratio_u >= 200000 THEN 'active'
                WHEN change_ratio_u > 0 THEN 'slow'
                ELSE 'static' END AS recrawl_tier
    FROM r)"""


def _recrawl_oracle() -> str:
    return f"""
    WITH {_recrawl_ctes()}
    SELECT url_id, n_fetches, n_changes, span_us, change_ratio_u,
           mean_interval_us, recrawl_interval_us, recrawl_tier
    FROM sched
    """


register("recrawl_schedule", _q_recrawl_schedule, _recrawl_oracle())


# ---------------- per-host reputation rollup (domain-level quality)

# planted host classes over documents: hosts 0-2 all-junk (every doc
# replaced by a short spam string -> block), hosts 3-7 quarter-junk
# (doc_id % 4 = 0 -> review), hosts 8+ organic (allow)
_HOST_DOC_TEXT = (
    "CASE WHEN doc_id % 23 < 3 THEN 'buy now ' || CAST(doc_id % 9 AS {V}) "
    "WHEN doc_id % 23 < 8 AND doc_id % 4 = 0 THEN 'click here' "
    "ELSE text END"
)


def _q_host_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality gate: per-document signals (short flag,
    token count) roll up to a per-host verdict — block / review / allow
    by exact micro-unit junk fraction. The verdict table is |hosts|
    rows, the thing that broadcasts back onto a 100-TB corpus; here the
    rollup itself is graded. One partial-aggregated exchange."""
    from gcp_etl_pipeline_spark.operators import curation as _cur

    docs = _scan(spark, f"{sf_dir}/documents.parquet")
    sig = docs.select(
        F.concat(
            F.lit("h"), (F.col("doc_id") % 23).cast("string"),
            F.lit(".example.org"),
        ).alias("host"),
        F.expr(_HOST_DOC_TEXT.format(V="STRING")).alias("__t"),
    ).select(
        "host",
        (F.length("__t") < 60).alias("is_short"),
        F.size(F.filter(F.split("__t", " "), lambda s: s != ""))
        .cast("bigint")
        .alias("n_tokens"),
    )
    return _cur.host_reputation(sig)


def _host_reputation_oracle() -> str:
    return f"""
    WITH d AS (SELECT doc_id,
                 'h' || CAST(doc_id % 23 AS VARCHAR) || '.example.org'
                   AS host,
                 {_HOST_DOC_TEXT.format(V="VARCHAR")} AS t
               FROM documents),
    s AS (SELECT host, length(t) < 60 AS is_short,
            CAST(len(list_filter(string_split(t, ' '), x -> x <> ''))
                 AS BIGINT) AS n_tokens
          FROM d),
    a AS (SELECT host,
            COUNT(*) AS n_docs,
            CAST(SUM(CAST(is_short AS BIGINT)) * 1000000 // COUNT(*)
                 AS BIGINT) AS short_frac_u,
            CAST(SUM(n_tokens) * 1000000 // COUNT(*) AS BIGINT)
              AS mean_tokens_u
          FROM s GROUP BY 1)
    SELECT *,
           CASE WHEN short_frac_u > 500000 THEN 'block'
                WHEN short_frac_u > 200000 THEN 'review'
                ELSE 'allow' END AS verdict
    FROM a
    """


register("host_reputation_rollup", _q_host_reputation, _host_reputation_oracle())


# ------------- snapshot latest-capture dedup (recrawl store hygiene)

# snapshot fingerprint: many URLs converge on few payloads (mirrored
# content), and re-fetches of a URL often repeat the previous payload
_SNAP_FP = "event_type || '-' || CAST(user_id % 17 AS {V})"


def _q_snapshot_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier dedup over a crawl snapshot store: (1) per URL keep
    only the LATEST capture (row_number over fetch time, sequence id
    as the tiebreak — a recrawl supersedes its history), then (2)
    exact content dedup ACROSS the latest captures (min url_id per
    fingerprint is canonical, mirrors point at it). Both tiers ride
    one exchange each: the latest-capture window partitions by url_id,
    the mirror-cluster window by fingerprint — and only fingerprints
    ever shuffle in tier 2, never payloads."""
    from pyspark.sql import Window

    ev = _scan(spark, f"{sf_dir}/events.parquet")
    snaps = ev.select(
        F.expr(_FETCH_URL_ID).alias("url_id"),
        "ts",
        F.col("event_id").alias("fetch_id"),
        F.expr(_SNAP_FP.format(V="STRING")).alias("content_fp"),
    )
    w_url = Window.partitionBy("url_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")).desc(),
        F.col("fetch_id").desc(),
    )
    latest = (
        snaps.withColumn("__rn", F.row_number().over(w_url))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    w_fp = Window.partitionBy("content_fp")
    return latest.select(
        "url_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("captured_us"),
        "content_fp",
        F.count(F.lit(1)).over(w_fp).cast("bigint").alias("cluster_size"),
        (F.col("url_id") == F.min("url_id").over(w_fp)).alias("is_canonical"),
    )


def _snapshot_latest_oracle() -> str:
    return f"""
    WITH s AS (SELECT {_FETCH_URL_ID} AS url_id, ts,
                      event_id AS fetch_id,
                      {_SNAP_FP.format(V="VARCHAR")} AS content_fp
               FROM events),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY url_id
            ORDER BY epoch_us(ts) DESC, fetch_id DESC) AS rn
          FROM s),
    latest AS (SELECT url_id, epoch_us(ts) AS captured_us, content_fp
               FROM r WHERE rn = 1)
    SELECT url_id, captured_us, content_fp,
           COUNT(*) OVER (PARTITION BY content_fp) AS cluster_size,
           url_id = MIN(url_id) OVER (PARTITION BY content_fp)
             AS is_canonical
    FROM latest
    """


register("snapshot_latest_dedup", _q_snapshot_latest, _snapshot_latest_oracle())


# -------------------- sitemap ingestion (crawl discovery front door)

# one <url> entry per orders key; entries aggregate into one sitemap
# document per host (o_orderkey % 8) in key order. Raw loc text plants
# normalization hazards (uppercase scheme/host, trailing slash,
# surrounding whitespace); every third entry omits <lastmod> — the
# alignment hazard parse_sitemap exists to survive
_SITEMAP_ENTRY = (
    "'<url>  <loc> HTTPS://Host' || CAST(o_orderkey % 8 AS {V}) || "
    "'.Example.org/p/' || CAST(o_orderkey AS {V}) || '/ </loc>' || "
    "CASE WHEN o_orderkey % 3 = 0 THEN '' "
    "ELSE '<lastmod>2024-' || lpad(CAST(1 + o_orderkey % 12 AS {V}), 2, '0') "
    "|| '-' || lpad(CAST(1 + o_orderkey % 28 AS {V}), 2, '0') || '</lastmod>' "
    "END || '<priority>0.5</priority></url>'"
)


def _q_sitemap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion end-to-end: per-host sitemap XML documents ->
    parse_sitemap (structural <url>-element explode, loc/lastmod
    sub-extracted per element so missing lastmods never misalign) ->
    normalize_url on every discovered loc -> freshness flag from the
    lastmod hint. One groupBy builds the fixture; the parse itself is
    a scan-fused projection + generator, zero Python."""
    from gcp_etl_pipeline_spark.operators import text as _text

    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    entries = orders.select(
        (F.col("o_orderkey") % 8).alias("host_id"),
        F.col("o_orderkey").alias("k"),
        F.expr(_SITEMAP_ENTRY.format(V="STRING")).alias("entry"),
    )
    sitemaps = entries.groupBy("host_id").agg(
        F.concat(
            F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("k", "entry"))),
                    lambda s: s["entry"],
                ),
                "",
            ),
            F.lit("</urlset>"),
        ).alias("xml")
    )
    parsed = _text.parse_sitemap(sitemaps, "xml")
    return parsed.select(
        "host_id",
        "entry_no",
        _text.normalize_url("loc").alias("url"),
        F.col("lastmod"),
        F.when(
            F.col("lastmod") != "",
            F.col("lastmod").cast("date") >= F.lit("2024-07-01").cast("date"),
        ).otherwise(F.lit(False)).alias("is_fresh"),
    )


def _sitemap_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    return f"""
    WITH e AS (SELECT o_orderkey % 8 AS host_id, o_orderkey AS k,
                      {_SITEMAP_ENTRY.format(V="VARCHAR")} AS entry
               FROM orders),
    sm AS (SELECT host_id,
             '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
             || string_agg(entry, '' ORDER BY k) || '</urlset>' AS xml
           FROM e GROUP BY 1),
    el AS (SELECT host_id,
             regexp_extract_all(xml, {_sql_lit(_text.SITEMAP_ENTRY_RE)}, 1)
               AS entries
           FROM sm),
    x AS (SELECT host_id,
            CAST(unnest(range(len(entries))) AS BIGINT) AS entry_no,
            unnest(entries) AS entry
          FROM el),
    p AS (SELECT host_id, entry_no,
            regexp_extract(entry, {_sql_lit(_text.SITEMAP_LOC_RE)}, 1)
              AS loc,
            regexp_extract(entry, {_sql_lit(_text.SITEMAP_LASTMOD_RE)}, 1)
              AS lastmod
          FROM x),
    n AS (SELECT host_id, entry_no, lastmod,
            lower(regexp_extract(loc, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
              AS scheme,
            regexp_replace(loc, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
          FROM p),
    n2 AS (SELECT host_id, entry_no, lastmod, scheme,
             lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS auth,
             regexp_replace(regexp_replace(rest, '^[^/?#]*', ''),
                            '#.*$', '') AS tail
           FROM n),
    n3 AS (SELECT host_id, entry_no, lastmod,
             scheme || '://' ||
             CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
                  WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
                  ELSE auth END ||
             regexp_replace(regexp_extract(tail, '^([^?]*)', 1), '/+$', '')
             || regexp_replace(tail, '^[^?]*', '') AS url
           FROM n2)
    SELECT host_id, entry_no, url, lastmod,
           CASE WHEN lastmod <> ''
                THEN CAST(lastmod AS DATE) >= DATE '2024-07-01'
                ELSE false END AS is_fresh
    FROM n3
    """


register("sitemap_url_extract", _q_sitemap_ingest, _sitemap_oracle())


# --------------- sitemap INDEX expansion (two-level site discovery)

def _q_sitemap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level sitemap discovery: per-host <sitemapindex> documents
    fan out to child <urlset> sitemaps (3 per host), which expand to
    page URLs — the index -> child -> pages walk every large site
    requires (a crawler reading only <urlset> documents never sees
    most of the site). The child join is by the index's <loc> string,
    so a mis-extracted child URL breaks the whole host's expansion
    loudly. Scale shape: sitemap documents are host-sized; one
    broadcast-able join on child loc, explodes fused into scans."""
    from gcp_etl_pipeline_spark.operators import text as _text

    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    entries = orders.select(
        (F.col("o_orderkey") % 8).alias("host_id"),
        F.expr("(o_orderkey DIV 8) % 3").alias("child_id"),
        F.col("o_orderkey").alias("k"),
        F.expr(_SITEMAP_ENTRY.format(V="STRING")).alias("entry"),
    )
    child_loc = F.concat(
        F.lit("https://h"), F.col("host_id").cast("string"),
        F.lit(".example.org/sm/"), F.col("child_id").cast("string"),
        F.lit(".xml"),
    )
    childs = entries.groupBy("host_id", "child_id").agg(
        F.concat(
            F.lit("<urlset>"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("k", "entry"))),
                    lambda s: s["entry"],
                ),
                "",
            ),
            F.lit("</urlset>"),
        ).alias("child_xml")
    ).select("host_id", "child_id", child_loc.alias("loc"), "child_xml")
    index = childs.select(
        "host_id", "child_id",
        F.concat(
            F.lit("<sitemap>  <loc> "), F.col("loc"), F.lit(" </loc>"),
            F.lit("<lastmod>2024-08-0"),
            (F.col("child_id") + 1).cast("string"),
            F.lit("</lastmod></sitemap>"),
        ).alias("sm_entry"),
    ).groupBy("host_id").agg(
        F.concat(
            F.lit("<sitemapindex>"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("child_id", "sm_entry"))
                    ),
                    lambda s: s["sm_entry"],
                ),
                "",
            ),
            F.lit("</sitemapindex>"),
        ).alias("xml")
    )
    kids = _text.parse_sitemap_index(index, "xml").select(
        "host_id", "child_no", F.col("loc").alias("child_loc")
    )
    joined = kids.join(
        childs.select(F.col("loc").alias("child_loc"), "child_xml"),
        "child_loc",
    )
    pages = _text.parse_sitemap(
        joined.select("host_id", "child_no", F.col("child_xml").alias("xml")),
        "xml",
    )
    return pages.select(
        "host_id", "child_no", "entry_no",
        F.col("loc").alias("url_raw"),
    )


def _sitemap_index_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    idx_re = _sql_lit(_text.SITEMAP_INDEX_ENTRY_RE)
    ent_re = _sql_lit(_text.SITEMAP_ENTRY_RE)
    loc_re = _sql_lit(_text.SITEMAP_LOC_RE)
    return f"""
    WITH e AS (SELECT o_orderkey % 8 AS host_id,
                      (o_orderkey // 8) % 3 AS child_id,
                      o_orderkey AS k,
                      {_SITEMAP_ENTRY.format(V="VARCHAR")} AS entry
               FROM orders),
    childs AS (SELECT host_id, child_id,
                 'https://h' || CAST(host_id AS VARCHAR)
                 || '.example.org/sm/' || CAST(child_id AS VARCHAR)
                 || '.xml' AS loc,
                 '<urlset>' || string_agg(entry, '' ORDER BY k)
                 || '</urlset>' AS child_xml
               FROM e GROUP BY 1, 2),
    idx AS (SELECT host_id,
              '<sitemapindex>' || string_agg(
                '<sitemap>  <loc> ' || loc || ' </loc>'
                || '<lastmod>2024-08-0' || CAST(child_id + 1 AS VARCHAR)
                || '</lastmod></sitemap>', '' ORDER BY child_id)
              || '</sitemapindex>' AS xml
            FROM childs GROUP BY 1),
    ie AS (SELECT host_id,
             regexp_extract_all(xml, {idx_re}, 1) AS ents
           FROM idx),
    kids AS (SELECT host_id,
               CAST(unnest(range(len(ents))) AS BIGINT) AS child_no,
               regexp_extract(unnest(ents), {loc_re}, 1) AS child_loc
             FROM ie),
    j AS (SELECT k.host_id, k.child_no, c.child_xml
          FROM kids k JOIN childs c ON c.loc = k.child_loc),
    pe AS (SELECT host_id, child_no,
             regexp_extract_all(child_xml, {ent_re}, 1) AS ents
           FROM j),
    p AS (SELECT host_id, child_no,
            CAST(unnest(range(len(ents))) AS BIGINT) AS entry_no,
            regexp_extract(unnest(ents), {loc_re}, 1) AS url_raw
          FROM pe)
    SELECT host_id, child_no, entry_no, url_raw FROM p
    """


register("sitemap_index_expand", _q_sitemap_index, _sitemap_index_oracle())


# ------------------ anchor-text target index (link-graph label signal)

# link pages with SHARED targets: every doc links page-(doc_id % 37)
# under a case-varied host (t.org vs T.org — canonicalization must
# pool them) with one of four label forms (one wrapped in inline
# markup), plus a 'next' link to page-(doc_id+5 % 37), plus a relative
# href on doc_id % 6 = 0 (schemeless passthrough: its own target)
_LINKPAGE_SQL = (
    "'<html><body><p>intro</p><a href=\"https://T.org/page-' || "
    "CAST(doc_id % 37 AS {V}) || '/\">' || "
    "CASE doc_id % 4 WHEN 0 THEN 'read more' WHEN 1 THEN 'details' "
    "WHEN 2 THEN '<b>Details</b>' "
    "ELSE 'page ' || CAST(doc_id % 37 AS {V}) END || "
    "'</a><a class=\"n\" href=\"https://t.org/page-' || "
    "CAST((doc_id + 5) % 37 AS {V}) || '/\">next</a>' || "
    "CASE WHEN doc_id % 6 = 0 THEN '<a href=\"/rel/' || "
    "CAST(doc_id % 9 AS {V}) || '\">rel</a>' ELSE '' END || "
    "'</body></html>'"
)

# href scoped to a single already-extracted anchor element
_ANCHOR_HREF_RE = r'(?is)\shref\s*=\s*"([^"]*)"'


def _q_anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic indexing signal: what the WEB calls a page. Anchor
    elements extract whole (href + inner text stay paired), targets
    canonicalize via normalize_url (case-varied hosts pool; relative
    hrefs pass through as their own keys), labels strip inline markup;
    then one aggregation tree per target: indegree, distinct label
    count, and the majority label (count desc, label asc tiebreak).
    Only (target, label) pairs shuffle — never pages."""
    from pyspark.sql import Window

    from gcp_etl_pipeline_spark.operators import text as _text

    docs = _scan(spark, f"{sf_dir}/documents.parquet")
    pages = docs.select(
        "doc_id", F.expr(_LINKPAGE_SQL.format(V="STRING")).alias("html")
    )
    anchors = pages.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("html", F.lit(_ANCHOR_RE), F.lit(0))
        ).alias("__a"),
    )
    pairs = anchors.select(
        _text.normalize_url(
            F.regexp_extract("__a", _ANCHOR_HREF_RE, 1)
        ).alias("target"),
        F.trim(
            F.regexp_replace(
                F.regexp_extract("__a", _ANCHOR_RE, 2), "<[^>]*>", ""
            )
        ).alias("label"),
    )
    counted = pairs.groupBy("target", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("target").orderBy(
        F.col("n").desc(), F.col("label")
    )
    return (
        counted.withColumn("__rk", F.row_number().over(w))
        .withColumn(
            "indegree",
            F.sum("n").over(Window.partitionBy("target")).cast("bigint"),
        )
        .withColumn(
            "n_labels",
            F.count(F.lit(1))
            .over(Window.partitionBy("target"))
            .cast("bigint"),
        )
        .where(F.col("__rk") == 1)
        .select(
            "target",
            "indegree",
            "n_labels",
            F.col("label").alias("top_label"),
            F.col("n").alias("top_label_n"),
        )
    )


def _anchor_index_oracle() -> str:
    return f"""
    WITH pg AS (SELECT doc_id, {_LINKPAGE_SQL.format(V="VARCHAR")} AS html
                FROM documents),
    a AS (SELECT doc_id,
                 unnest(regexp_extract_all(html, {_sql_lit(_ANCHOR_RE)}, 0))
                   AS el
          FROM pg),
    raw AS (SELECT regexp_extract(el, {_sql_lit(_ANCHOR_HREF_RE)}, 1)
              AS href,
            trim(regexp_replace(
              regexp_extract(el, {_sql_lit(_ANCHOR_RE)}, 2),
              '<[^>]*>', '', 'g')) AS label
            FROM a),
    n0 AS (SELECT label, href,
             regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*://')
               AS is_abs,
             lower(regexp_extract(href, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             regexp_replace(href, '^[A-Za-z][A-Za-z0-9+.-]*://', '')
               AS rest
           FROM raw),
    n1 AS (SELECT label, href, is_abs, scheme,
             lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS auth,
             regexp_replace(regexp_replace(rest, '^[^/?#]*', ''),
                            '#.*$', '') AS tail
           FROM n0),
    n2 AS (SELECT label,
             CASE WHEN NOT is_abs THEN href
                  ELSE scheme || '://' ||
                    CASE WHEN scheme = 'http'
                           THEN regexp_replace(auth, ':80$', '')
                         WHEN scheme = 'https'
                           THEN regexp_replace(auth, ':443$', '')
                         ELSE auth END ||
                    regexp_replace(regexp_extract(tail, '^([^?]*)', 1),
                                   '/+$', '')
                    || regexp_replace(tail, '^[^?]*', '')
             END AS target
           FROM n1),
    c AS (SELECT target, label, COUNT(*) AS n
          FROM n2 GROUP BY 1, 2),
    r AS (SELECT *,
            ROW_NUMBER() OVER (PARTITION BY target
                               ORDER BY n DESC, label) AS rk,
            SUM(n) OVER (PARTITION BY target) AS indegree,
            COUNT(*) OVER (PARTITION BY target) AS n_labels
          FROM c)
    SELECT target, CAST(indegree AS BIGINT) AS indegree,
           CAST(n_labels AS BIGINT) AS n_labels,
           label AS top_label, CAST(n AS BIGINT) AS top_label_n
    FROM r WHERE rk = 1
    """


register("anchor_text_index", _q_anchor_text_index, _anchor_index_oracle())


# ------------------ fetch-response triage (post-extraction gatekeeper)

# planted response classes over documents (doc_id % 7): 0 organic text,
# 1 soft-404, 2 login wall, 3 parked domain, 4 captcha interstitial,
# 5 near-empty page, 6 organic text that MENTIONS an error phrase in
# benign context ("wrote about a 404 error") — precedence still
# classifies it soft404 (marker triage is recall-biased by design;
# that honesty is part of the graded contract)
_TRIAGE_TEXT = (
    "CASE doc_id % 7 "
    "WHEN 1 THEN 'Sorry, this Page Not Found - error ' "
    "|| CAST(doc_id % 9 AS {V}) "
    "WHEN 2 THEN 'Please log in to continue reading item ' "
    "|| CAST(doc_id % 9 AS {V}) "
    "WHEN 3 THEN 'this domain was parked by registrar ' "
    "|| CAST(doc_id % 9 AS {V}) "
    "WHEN 4 THEN 'please verify you are human #' || CAST(doc_id % 9 AS {V}) "
    "WHEN 5 THEN 'ok ' || CAST(doc_id % 9 AS {V}) "
    "WHEN 6 THEN text || ' yesterday I wrote about a 404 error page' "
    "ELSE text END"
)


def _q_fetch_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP-200-is-not-content triage: marker-phrase classification of
    fetched pages into empty / soft404 / login_wall / parked / captcha
    / ok, first match wins, empty outranks all. One codegen'd
    projection, zero shuffle for the verdicts; one partial-aggregated
    exchange for the per-class census the crawl dashboard reads."""
    from gcp_etl_pipeline_spark.operators import text as _text

    docs = _scan(spark, f"{sf_dir}/documents.parquet")
    pages = docs.select(
        "doc_id", F.expr(_TRIAGE_TEXT.format(V="STRING")).alias("page")
    )
    return pages.select(
        "doc_id", _text.fetch_triage("page").alias("verdict")
    )


def _fetch_triage_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    verdict = "'ok'"
    for name, pat in reversed(_text.TRIAGE_CLASSES):
        verdict = (
            f"CASE WHEN regexp_matches(page, {_sql_lit(pat)}) "
            f"THEN '{name}' ELSE {verdict} END"
        )
    return f"""
    WITH p AS (SELECT doc_id, {_TRIAGE_TEXT.format(V="VARCHAR")} AS page
               FROM documents)
    SELECT doc_id,
           CASE WHEN length(page) < {_text.TRIAGE_MIN_CHARS} THEN 'empty'
                ELSE {verdict} END AS verdict
    FROM p
    """


register("fetch_triage_verdicts", _q_fetch_triage, _fetch_triage_oracle())


def frontier_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached source directory for the streaming frontier twin:
    the raw discovered-URL feed split into two key-ordered,
    mtime-ordered parquet files (the html_intake_stream_src
    discipline — id-ordered batches are what make the min-key ledger
    rule converge to the batch chain's global min)."""

    def halves() -> list[DataFrame]:
        # plain read, NOT _scan (the dataset_split carve-out): the
        # stager lands each half via coalesce(1) — one task
        # regardless — so a spread exchange buys nothing and breaks the
        # key-ordered file layout this docstring promises
        orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
        raw = orders.select(
            "o_orderkey",
            F.expr(_FRONTIER_URL.format(V="STRING")).alias("raw_url"),
        )
        return _key_halves(raw, "o_orderkey")

    return _two_file_stream_src(spark, "frontsrc", sf_dir, halves)


# ----------------- HTTP response-envelope parsing (fetch-store intake)

# raw fetch records over documents: status class by doc_id % 5,
# content-type class by doc_id % 4 (charset'd html, quoted-charset
# variant, pdf, MISSING header), CRLF vs LF line endings by doc_id % 2,
# and every body carries an adversarial "Content-Type: evil/fake" line
# that a head-scoped header extract must ignore
_HTTP_RAW = (
    "'HTTP/1.1 ' || CASE doc_id % 5 WHEN 3 THEN '404 Not Found' "
    "WHEN 4 THEN '301 Moved' ELSE '200 OK' END || {NL} || "
    "'Server: t' || CAST(doc_id % 7 AS {V}) || {NL} || "
    "CASE doc_id % 4 WHEN 0 THEN 'Content-Type: text/html; charset=UTF-8' || {NL} "
    "WHEN 1 THEN 'content-type: Text/HTML;charset=\"iso-8859-1\"' || {NL} "
    "WHEN 2 THEN 'Content-Type: application/pdf' || {NL} "
    "ELSE '' END || "
    "{NL} || "
    "'Content-Type: evil/fake' || {NL} || text"
)


def _q_http_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch-store record parsing: status code, content type (params
    stripped), charset (quoted or bare), body — header extraction
    scoped to the pre-body prefix so header-shaped body lines can't
    spoof fields; CRLF and LF records both planted. One codegen'd
    projection, zero shuffle; the is_fetchable gate is what routes
    records into the HTML intake chain."""
    from gcp_etl_pipeline_spark.operators import text as _text

    docs = _scan(spark, f"{sf_dir}/documents.parquet")
    nl = "CASE WHEN doc_id % 2 = 0 THEN chr(13) || chr(10) ELSE chr(10) END"
    raw = docs.select(
        "doc_id",
        F.expr(_HTTP_RAW.format(V="STRING", NL=nl)).alias("raw"),
    )
    parsed = raw.select("doc_id", *_text.http_response_fields("raw"))
    return parsed.select(
        "doc_id",
        "status_code",
        "content_type",
        "charset",
        F.length("body").cast("bigint").alias("body_len"),
        (
            (F.col("status_code") == 200)
            & F.col("content_type").startswith("text/")
        ).alias("is_fetchable"),
    )


def _http_parse_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    nl = "CASE WHEN doc_id % 2 = 0 THEN chr(13) || chr(10) ELSE chr(10) END"
    hdr = _text.http_header_pattern("Content-Type")
    return f"""
    WITH r AS (SELECT doc_id,
                 {_HTTP_RAW.format(V="VARCHAR", NL=nl)} AS raw
               FROM documents),
    h AS (SELECT doc_id, raw,
            regexp_extract(raw, '(?s)^(.*?)(\\r?\\n\\r?\\n|$)', 1) AS head
          FROM r),
    f AS (SELECT doc_id,
            regexp_extract(raw, {_sql_lit(_text.HTTP_STATUS_RE)}, 1)
              AS status,
            trim(regexp_extract(head, {_sql_lit(hdr)}, 1)) AS ctype_raw,
            regexp_extract(raw, {_sql_lit(_text.HTTP_BODY_RE)}, 1) AS body
          FROM h)
    SELECT doc_id,
           CAST(CASE WHEN status = '' THEN 0 ELSE CAST(status AS BIGINT)
                END AS BIGINT) AS status_code,
           lower(trim(regexp_extract(ctype_raw, '^([^;]*)', 1)))
             AS content_type,
           lower(regexp_extract(ctype_raw,
             '(?i)charset="?([A-Za-z0-9_-]+)', 1)) AS charset,
           CAST(length(body) AS BIGINT) AS body_len,
           (CASE WHEN status = '' THEN 0 ELSE CAST(status AS BIGINT) END
              = 200
            AND starts_with(lower(trim(regexp_extract(ctype_raw,
                  '^([^;]*)', 1))), 'text/')) AS is_fetchable
    FROM f
    """


register("http_response_parse", _q_http_parse, _http_parse_oracle())


# ------------- conditional-refetch planning (HTTP caching validators)

# planted validator classes: ETag only / Last-Modified only / both
# (ETag must win) / neither; Cache-Control no-store (% 5) preempts a
# max-age (% 3); every body carries spoofed header-shaped lines that a
# head-scoped extract must ignore
_REVAL_RAW = (
    "'HTTP/1.1 200 OK' || {NL} || "
    "CASE doc_id % 4 WHEN 0 THEN 'ETag: \"v' || CAST(doc_id AS {V}) "
    "|| '\"' || {NL} "
    "WHEN 1 THEN 'Last-Modified: Tue, 01 Aug 2026 00:00:00 GMT' || {NL} "
    "WHEN 2 THEN 'etag: W/\"w' || CAST(doc_id AS {V}) || '\"' || {NL} || "
    "'last-modified: Mon, 02 Mar 2026 12:00:00 GMT' || {NL} "
    "ELSE '' END || "
    "CASE WHEN doc_id % 5 = 0 THEN 'Cache-Control: no-store' || {NL} "
    "WHEN doc_id % 3 = 0 THEN 'Cache-Control: max-age=' "
    "|| CAST(600 + doc_id % 7 * 600 AS {V}) || ', public' || {NL} "
    "ELSE '' END || "
    "{NL} || "
    "'ETag: \"evil\"' || {NL} || 'Cache-Control: max-age=999999' || {NL} "
    "|| text"
)


def _q_revalidation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-refetch planner over a fetch store: head-scoped
    validator extraction (in-body 'ETag:'/'Cache-Control:' spoof lines
    planted in EVERY record), If-None-Match precedence over
    If-Modified-Since, no-store preempting max-age. The action split
    is what turns a recrawl due-list into cheap 304 checks vs full
    fetches."""
    from gcp_etl_pipeline_spark.operators import text as _text

    docs = _scan(spark, f"{sf_dir}/documents.parquet")
    nl = "CASE WHEN doc_id % 2 = 0 THEN chr(13) || chr(10) ELSE chr(10) END"
    raw = docs.select(
        "doc_id",
        F.expr(_REVAL_RAW.format(V="STRING", NL=nl)).alias("raw"),
    )
    # materialize the head section behind a Generate barrier: the three
    # validator extracts would otherwise each re-run the full-document
    # head regex (the documented re-inlining trap)
    heads = raw.select(
        "doc_id",
        F.posexplode(F.array(_text.http_head("raw"))).alias("__x", "head"),
    ).drop("__x")
    return heads.select(
        "doc_id", *_text.revalidation_fields("head", assume_head=True)
    )


def _revalidation_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    nl = "CASE WHEN doc_id % 2 = 0 THEN chr(13) || chr(10) ELSE chr(10) END"
    etag_re = _sql_lit(_text.http_header_pattern("ETag"))
    lm_re = _sql_lit(_text.http_header_pattern("Last-Modified"))
    cc_re = _sql_lit(_text.http_header_pattern("Cache-Control"))
    return f"""
    WITH r AS (SELECT doc_id,
                 {_REVAL_RAW.format(V="VARCHAR", NL=nl)} AS raw
               FROM documents),
    h AS (SELECT doc_id,
            regexp_extract(raw, '(?s)^(.*?)(\\r?\\n\\r?\\n|$)', 1) AS head
          FROM r),
    f AS (SELECT doc_id,
            trim(regexp_extract(head, {etag_re}, 1)) AS etag,
            trim(regexp_extract(head, {lm_re}, 1)) AS last_modified,
            trim(regexp_extract(head, {cc_re}, 1)) AS cache_ctl
          FROM h),
    g AS (SELECT *,
            regexp_matches(cache_ctl, '(?i)no-store') AS no_store,
            regexp_extract(cache_ctl, '(?i)max-age=([0-9]+)', 1)
              AS max_age_s
          FROM f)
    SELECT doc_id, etag, last_modified,
           CASE WHEN etag <> '' THEN 'conditional_etag'
                WHEN last_modified <> '' THEN 'conditional_modified'
                ELSE 'full_fetch' END AS action,
           CASE WHEN etag <> '' THEN etag ELSE last_modified END
             AS validator,
           CAST(CASE WHEN no_store OR max_age_s = '' THEN 0
                ELSE CAST(max_age_s AS BIGINT) END AS BIGINT)
             AS fresh_for_s
    FROM g
    """


register("revalidation_plan", _q_revalidation_plan, _revalidation_oracle())


# ------------- RFC 9111 cache freshness (Cache-Control / Expires / Age)

# per-response header fixture over events: Date always present, Age
# always present (sometimes invalid via user_id), and a 7-class
# Cache-Control/Expires/Last-Modified rotation incl. a malformed
# max-age, a case-noised no-cache, s-maxage overriding max-age, a
# sometimes-before-Date Expires (clamps to 0), and the heuristic-only
# Last-Modified class
_CACHE_HDR = (
    "'Date: ' || {FMT_D} || {CRLF} || "
    "'Age: ' || CASE WHEN event_id % 11 = 0 THEN 'xx' "
    "ELSE CAST(event_id % 900 AS {V}) END || {CRLF} || "
    "CASE event_id % 7 "
    "WHEN 0 THEN CASE WHEN user_id % 5 = 0 "
    "  THEN 'Cache-Control: max-age=abc' "
    "  ELSE 'Cache-Control: max-age=' || CAST(user_id % 7200 AS {V}) END "
    "WHEN 1 THEN 'Cache-Control: public, max-age=' "
    "  || CAST(user_id % 600 AS {V}) "
    "  || ', s-maxage=' || CAST(user_id % 1200 AS {V}) "
    "WHEN 2 THEN 'cache-control: No-Cache, max-age=600' "
    "WHEN 3 THEN 'Cache-Control: no-store, max-age=100' "
    "WHEN 4 THEN 'Cache-Control: private, max-age=300' "
    "WHEN 5 THEN 'Expires: ' || {FMT_EXP} "
    "ELSE 'Last-Modified: ' || {FMT_LM} END "
    "|| CASE WHEN event_id % 3 = 0 THEN {CRLF} || 'ETag: ' || chr(34) "
    "|| 'e' || CAST(user_id AS {V}) || chr(34) ELSE '' END"
)


def _cache_responses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared (url_id, headers) fixture both cache queries grade
    against — ONE construction, so a header-class edit can never
    silently diverge the two."""
    ev = _scan(spark, f"{sf_dir}/events.parquet")
    es = "(unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000)"
    fmt = (
        "date_format(timestamp_seconds({e}),"
        " 'EEE, dd MMM yyyy HH:mm:ss') || ' GMT'"
    )
    hdr = _CACHE_HDR.format(
        V="STRING",
        CRLF="(chr(13) || chr(10))",
        FMT_D=fmt.format(e=es),
        FMT_EXP=fmt.format(e=f"({es} + user_id % 2000 - 500)"),
        FMT_LM=fmt.format(e=f"({es} - user_id % 90000)"),
    )
    return ev.select(
        F.col("event_id").alias("url_id"), F.expr(hdr).alias("headers")
    )


def _q_cache_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9111 shared-cache freshness end to end: raw header blocks
    (IMF-fixdate Date/Expires/Last-Modified GENERATED engine-side from
    epoch seconds, so the differential gate covers the format
    round-trip) -> cache_freshness -> per-response lifetime, verdict
    and stale-at. The fixture rotates every §4.2 branch including the
    conservative malformed-max-age fall-through and an invalid Age."""
    from gcp_etl_pipeline_spark.operators import curation as _cur

    return _cur.cache_freshness(_cache_responses(spark, sf_dir))


def _cache_hdr_sql() -> str:
    """The DuckDB twin of the engine's header fixture expression."""
    es = "(epoch_us(ts) // 1000000)"
    fmt = (
        "strftime(make_timestamp(({e}) * 1000000),"
        " '%a, %d %b %Y %H:%M:%S') || ' GMT'"
    )
    return _CACHE_HDR.format(
        V="VARCHAR",
        CRLF="(chr(13) || chr(10))",
        FMT_D=fmt.format(e=es),
        FMT_EXP=fmt.format(e=f"({es} + user_id % 2000 - 500)"),
        FMT_LM=fmt.format(e=f"({es} - user_id % 90000)"),
    )


def _cache_parse_ctes() -> str:
    """Shared oracle chain r -> x -> y -> z -> v: header fixture,
    header-field extraction (incl. ETag for the revalidation
    composition), directive/epoch parsing, freshness lifetime, and
    the verdict ladder — both cache oracles ride one definition."""
    from gcp_etl_pipeline_spark.operators import text as _text

    cc_re = _sql_lit(_text.http_header_pattern("Cache-Control"))
    age_re = _sql_lit(_text.http_header_pattern("Age"))
    date_re = _sql_lit(_text.http_header_pattern("Date"))
    exp_re = _sql_lit(_text.http_header_pattern("Expires"))
    lm_re = _sql_lit(_text.http_header_pattern("Last-Modified"))
    etag_re = _sql_lit(_text.http_header_pattern("ETag"))
    num = r"(?i)(?:^|[,\s])%s\s*=\s*\x22?(\d+)"
    tok = r"(?i)(?:^|[,\s])%s($|[,\s])"
    maxage_re = _sql_lit(num % "max-age")
    smax_re = _sql_lit(num % "s-maxage")
    nostore_re = _sql_lit(tok % "no-store")
    nocache_re = _sql_lit(tok % "no-cache")
    private_re = _sql_lit(tok % "private")
    wd = "'^[A-Za-z]{3}, '"
    hdr = _cache_hdr_sql()

    def dparse(v: str) -> str:
        # CAST to BIGINT immediately: DuckDB epoch() returns DOUBLE,
        # and double // is plain division (8.0 // 10 = 0.8) that a
        # later BIGINT cast ROUNDS — the heuristic branch would be off
        # by one for diffs ending in 5-9. (.replace, not .format: wd's
        # '{3}' quantifier would read as a positional format index.)
        return (
            "CAST(epoch(try_strptime(regexp_replace(@V@, " + wd + ", ''),"
            " '%d %b %Y %H:%M:%S GMT')) AS BIGINT)"
        ).replace("@V@", v)

    return f"""r AS (SELECT event_id AS url_id, {hdr} AS h FROM events),
    x AS (SELECT url_id,
            trim(regexp_extract(h, {cc_re}, 1)) AS cc,
            trim(regexp_extract(h, {age_re}, 1)) AS age_v,
            trim(regexp_extract(h, {date_re}, 1)) AS date_v,
            trim(regexp_extract(h, {exp_re}, 1)) AS exp_v,
            trim(regexp_extract(h, {lm_re}, 1)) AS lm_v,
            trim(regexp_extract(h, {etag_re}, 1)) AS etag_v
          FROM r),
    y AS (SELECT url_id, lm_v, etag_v,
            TRY_CAST(regexp_extract(cc, {maxage_re}, 1) AS BIGINT)
              AS max_age,
            TRY_CAST(regexp_extract(cc, {smax_re}, 1) AS BIGINT)
              AS s_maxage,
            regexp_matches(cc, {nostore_re}) AS no_store,
            regexp_matches(cc, {nocache_re}) AS no_cache,
            regexp_matches(cc, {private_re}) AS private,
            GREATEST(COALESCE(TRY_CAST(age_v AS BIGINT), 0), 0) AS age_s,
            {dparse("CASE WHEN date_v <> '' THEN date_v END")}
              AS date_s,
            {dparse("CASE WHEN exp_v <> '' THEN exp_v END")}
              AS expires_s,
            {dparse("CASE WHEN lm_v <> '' THEN lm_v END")}
              AS lastmod_s
          FROM x),
    z AS (SELECT *,
            CAST(CASE
              WHEN s_maxage IS NOT NULL THEN s_maxage
              WHEN max_age IS NOT NULL THEN max_age
              WHEN expires_s IS NOT NULL AND date_s IS NOT NULL
                THEN GREATEST(expires_s - date_s, 0)
              WHEN lastmod_s IS NOT NULL AND date_s IS NOT NULL
                THEN GREATEST(date_s - lastmod_s, 0) // 10
              ELSE 0 END AS BIGINT) AS lifetime_s
          FROM y),
    v AS (SELECT *,
            CASE WHEN no_store THEN 'no_store'
                 WHEN private THEN 'private'
                 WHEN no_cache THEN 'revalidate'
                 WHEN lifetime_s > age_s THEN 'fresh'
                 ELSE 'stale' END AS verdict
          FROM z)"""


def _cache_control_oracle() -> str:
    return f"""
    WITH {_cache_parse_ctes()}
    SELECT url_id,
           CAST(COALESCE(max_age, -1) AS BIGINT) AS max_age_s,
           CAST(COALESCE(s_maxage, -1) AS BIGINT) AS s_maxage_s,
           no_store, no_cache, private,
           CAST(age_s AS BIGINT) AS age_s,
           lifetime_s,
           verdict,
           CAST(COALESCE(date_s + lifetime_s, -1) AS BIGINT)
             AS stale_at_s
    FROM v
    """


register("cache_control_ttl", _q_cache_control, _cache_control_oracle())


def _q_cache_reval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full HTTP caching loop composed (RFC 9111 + conditional
    fetching): cache_freshness decides WHETHER a fetch happens, the
    stored validators decide HOW — fresh responses are served from
    cache (no request), revalidate/stale responses become cheap
    conditional checks (If-None-Match preferred over
    If-Modified-Since), and no_store/private/validator-less responses
    fall back to full fetches. The action split is the request-volume
    story of a polite recrawl at scale."""
    from gcp_etl_pipeline_spark.operators import curation as _cur
    from gcp_etl_pipeline_spark.operators.text import http_header

    responses = _cache_responses(spark, sf_dir)
    cf = _cur.cache_freshness(responses, keep=("url_id", "headers"))
    etag = http_header(F.col("headers"), "ETag")
    lm = http_header(F.col("headers"), "Last-Modified")
    conditional_ok = (
        (F.col("verdict") == "revalidate") | (F.col("verdict") == "stale")
    )
    action = (
        F.when(F.col("verdict") == "fresh", F.lit("serve_cached"))
        .when(conditional_ok & (etag != ""), F.lit("conditional_etag"))
        .when(conditional_ok & (lm != ""), F.lit("conditional_modified"))
        .otherwise(F.lit("full_fetch"))
    )
    validator = (
        F.when(conditional_ok & (etag != ""), etag)
        .when(conditional_ok & (lm != ""), lm)
        .otherwise(F.lit(""))
    )
    return cf.select(
        "url_id",
        "verdict",
        action.alias("action"),
        validator.alias("validator"),
        "lifetime_s",
        "age_s",
    )


def _cache_reval_oracle() -> str:
    return f"""
    WITH {_cache_parse_ctes()}
    SELECT url_id, verdict,
           CASE WHEN verdict = 'fresh' THEN 'serve_cached'
                WHEN verdict IN ('revalidate', 'stale') AND etag_v <> ''
                  THEN 'conditional_etag'
                WHEN verdict IN ('revalidate', 'stale') AND lm_v <> ''
                  THEN 'conditional_modified'
                ELSE 'full_fetch' END AS action,
           CASE WHEN verdict IN ('revalidate', 'stale') AND etag_v <> ''
                  THEN etag_v
                WHEN verdict IN ('revalidate', 'stale') AND lm_v <> ''
                  THEN lm_v
                ELSE '' END AS validator,
           lifetime_s,
           CAST(age_s AS BIGINT) AS age_s
    FROM v
    """


register(
    "cache_revalidation_pipeline",
    _q_cache_reval_pipeline,
    _cache_reval_oracle(),
)


# ----------- WARC multi-record fetch-store framing (record splitter)

# Per-document payload: an HTTP envelope (CRLF) whose BODY carries an
# adversarial header-shaped line AND, on doc_id % 3 = 0, a full planted
# record frame ('WARC/1.0' magic + a 'Content-Length: 3' header + blank
# line + bytes) — a marker-driven splitter tears exactly there, while
# the Content-Length walk never reads the payload
_WARC_PAYLOAD = (
    "'HTTP/1.1 ' || CASE doc_id % 5 WHEN 3 THEN '404 Not Found' "
    "ELSE '200 OK' END || {NL} || "
    "CASE doc_id % 4 WHEN 2 THEN 'Content-Type: application/pdf' "
    "ELSE 'Content-Type: text/html; charset=UTF-8' END || {NL} || "
    "{NL} || "
    "'Content-Type: evil/fake' || {NL} || "
    "'doc ' || CAST(doc_id AS {V}) || ' ' || substring(text, 1, 40) || "
    "CASE WHEN doc_id % 7 = 0 THEN ' page not found ' ELSE '' END || "
    "CASE WHEN doc_id % 3 = 0 THEN {NL} || 'WARC/1.0' || {NL} || "
    "'Content-Length: 3' || {NL} || {NL} || 'xyz' ELSE '' END"
)

# the WARC record frame around one payload column (length computed by
# the engine, so the frame is self-consistent by construction)
_WARC_RECORD = (
    "'WARC/1.0' || {NL} || "
    "'WARC-Record-ID: <r' || CAST(doc_id AS {V}) || '>' || {NL} || "
    "'WARC-Target-URI: http://ex.org/d/' || CAST(doc_id AS {V}) || {NL} || "
    "'Content-Length: ' || CAST(length(payload) AS {V}) || {NL} || {NL} || "
    "payload || {NL} || {NL}"
)

_WARC_MAX_RECORDS = 8


def _warc_record_rows(
    spark: SparkSession, sf_dir: str, payload_expr: str | None = None
) -> DataFrame:
    """(blob_id, doc_id, record) rows for the WARC fixtures — the one
    payload->framed-record builder every store fixture (plaintext,
    pdf-branch, digest-dedup, compressed) derives from, mirroring the
    oracle side's payload_expr parameter on _warc_walk_ctes (three
    hand-copied twins of this block could drift)."""
    nl = "chr(13) || chr(10)"
    # plain read, NOT _scan (A/B): the
    # sentence explode + md5 shrink rows before the df-count shuffle,
    # and the spread exchange shuffled full document payloads for less
    # map work than the exchange cost (2.26 -> 0.99 s warm)
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    payload = docs.select(
        "doc_id",
        F.expr(
            (payload_expr or _WARC_PAYLOAD).format(V="STRING", NL=nl)
        ).alias("payload"),
    )
    return payload.select(
        F.expr("doc_id DIV 4").alias("blob_id"),
        "doc_id",
        F.expr(_WARC_RECORD.format(V="STRING", NL=nl)).alias("record"),
    )


def _warc_blobs(
    spark: SparkSession, sf_dir: str, payload_expr: str | None = None
) -> DataFrame:
    """The shared WARC fixture: 4-record concatenated blobs built from
    documents (real stores arrive already chunked — the groupBy here is
    fixture plumbing, not pipeline shape)."""
    rec = _warc_record_rows(spark, sf_dir, payload_expr)
    return rec.groupBy("blob_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "record"))),
                lambda s: s["record"],
            ),
            "",
        ).alias("blob")
    )


def _warc_walk_ctes(payload_expr: str | None = None, torn: bool = False) -> str:
    """Shared oracle CTE chain: fixture blobs + the depth-capped
    recursive Content-Length walk. Yields `walk` rows (blob_id, rest,
    recno, head, payload) with recno >= 1 being real records.

    ``payload_expr`` overrides the per-document payload (the warc.gz
    twin plants literal gzip magic); ``torn`` models the compressed
    fixture's truncated trailing member — the LAST record of every
    blob_id % 5 = 4 blob never inflates, so it is excluded from the
    plaintext reconstruction (gzip_members stops at a torn member)."""
    from gcp_etl_pipeline_spark.operators import text as _text

    nl = "chr(13) || chr(10)"
    clen_re = _sql_lit(_text.WARC_CONTENT_LENGTH_RE)
    payload = (payload_expr or _WARC_PAYLOAD).format(V="VARCHAR", NL=nl)
    torn_pred = (
        "QUALIFY NOT (blob_id % 5 = 4 AND doc_id = "
        "MAX(doc_id) OVER (PARTITION BY blob_id))"
        if torn
        else ""
    )
    return f"""
    p AS (SELECT doc_id,
            {payload} AS payload
          FROM documents),
    r AS (SELECT doc_id, doc_id // 4 AS blob_id,
            {_WARC_RECORD.format(V="VARCHAR", NL=nl)} AS record
          FROM p),
    rk AS (SELECT * FROM r {torn_pred}),
    blobs AS (SELECT blob_id, string_agg(record, '' ORDER BY doc_id)
                AS blob
              FROM rk GROUP BY 1),
    walk AS (
      SELECT blob_id, blob AS rest, 0 AS recno,
             CAST(NULL AS VARCHAR) AS head,
             CAST(NULL AS VARCHAR) AS payload
      FROM blobs
      UNION ALL
      -- nested subqueries, NOT same-level lateral aliases: inside a
      -- recursive term DuckDB silently resolves a lateral alias chain
      -- against the anchor's columns once the anchor comes from a
      -- real table (constant-folded inline anchors hide the bug)
      SELECT blob_id,
             substr(rest, hdr_end + 8 + clen) AS rest,
             recno + 1, head,
             substr(rest, hdr_end + 4, clen) AS payload
      FROM (
        SELECT *, TRY_CAST(regexp_extract(head, {clen_re}, 1) AS INT)
                    AS clen
        FROM (
          SELECT *, substr(rest, 1, hdr_end - 1) AS head
          FROM (
            SELECT blob_id, rest, recno,
                   position(({nl} || {nl}) IN rest) AS hdr_end
            FROM walk
            WHERE recno < {_WARC_MAX_RECORDS}
          )
        )
      )
      WHERE substr(rest, 1, 10) = 'WARC/1.0' || {nl}
        AND hdr_end > 0 AND clen IS NOT NULL
        AND hdr_end + 3 + clen <= length(rest)
    )"""


def _q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-record fetch-store intake: concatenated WARC-shaped blobs
    (4 records each, built from documents) -> Content-Length record
    walk (text.warc_records) -> per-record WARC header fields + the
    existing HTTP envelope parse over each payload. The graded output
    proves the framing: every planted in-body 'WARC/1.0' frame stays
    INSIDE its record's body (body_has_marker), record counts and
    byte-exact body lengths replay in the oracle's recursive-CTE walk.

    Scale shape: blob build is one groupBy (fixture only — real stores
    arrive already chunked); the walk itself is a zero-shuffle
    projection, one blob row per task, payloads never shuffle."""
    from gcp_etl_pipeline_spark.operators import text as _text

    blobs = _warc_blobs(spark, sf_dir)
    recs = blobs.select(
        "blob_id",
        F.posexplode(
            _text.warc_records("blob", max_records=_WARC_MAX_RECORDS)
        ).alias("pos", "rec"),
    )
    return _text.warc_envelope(recs).select(
        "blob_id",
        (F.col("pos") + 1).cast("bigint").alias("recno"),
        F.col("url").alias("target_uri"),
        "status_code",
        "content_type",
        F.length("body").cast("bigint").alias("body_len"),
        F.col("body").contains("WARC/1.0").alias("body_has_marker"),
    )


def _warc_extract_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    uri_re = _sql_lit(_text.http_header_pattern("WARC-Target-URI"))
    ct_re = _sql_lit(_text.http_header_pattern("Content-Type"))
    status_re = _sql_lit(_text.HTTP_STATUS_RE)
    body_re = _sql_lit(_text.HTTP_BODY_RE)
    return f"""
    WITH RECURSIVE
    {_warc_walk_ctes()},
    f AS (SELECT blob_id, recno, head, payload,
            regexp_extract(payload, {status_re}, 1) AS status,
            trim(regexp_extract(
              regexp_extract(payload, '(?s)^(.*?)(\\r?\\n\\r?\\n|$)', 1),
              {ct_re}, 1)) AS ctype_raw,
            regexp_extract(payload, {body_re}, 1) AS body
          FROM walk WHERE recno >= 1)
    SELECT blob_id,
           CAST(recno AS BIGINT) AS recno,
           trim(regexp_extract(head, {uri_re}, 1)) AS target_uri,
           CAST(CASE WHEN status = '' THEN 0
                ELSE CAST(status AS BIGINT) END AS BIGINT) AS status_code,
           lower(trim(regexp_extract(ctype_raw, '^([^;]*)', 1)))
             AS content_type,
           CAST(length(body) AS BIGINT) AS body_len,
           position('WARC/1.0' IN body) > 0 AS body_has_marker
    FROM f
    """


register("warc_record_extract", _q_warc_extract, _warc_extract_oracle())


def _q_warc_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fetch-store tier consuming a real multi-record crawl store
    END TO END: concatenated blobs -> Content-Length record walk ->
    HTTP envelope parse -> fetchability gate (200 + text/*) -> triage
    verdict + token count per surviving record. The fixture plants the
    full damage matrix: 404s and PDFs (gated), soft-404 marker text on
    doc_id % 7 = 0 (triaged), and in-body record frames on % 3 = 0
    (must stay inside their payloads — a mis-framed record would shift
    every downstream count)."""
    from gcp_etl_pipeline_spark.operators import text as _text

    blobs = _warc_blobs(spark, sf_dir)
    recs = blobs.select(
        F.posexplode(
            _text.warc_records("blob", max_records=_WARC_MAX_RECORDS)
        ).alias("pos", "rec"),
    )
    gated = _text.warc_envelope(recs).where(
        (F.col("status_code") == 200)
        & F.col("content_type").startswith("text/")
    )
    return gated.select(
        "url",
        _text.fetch_triage("body").alias("verdict"),
        _text.token_count("body").cast("bigint").alias("n_tokens"),
    )


def _warc_intake_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    uri_re = _sql_lit(_text.http_header_pattern("WARC-Target-URI"))
    ct_re = _sql_lit(_text.http_header_pattern("Content-Type"))
    status_re = _sql_lit(_text.HTTP_STATUS_RE)
    body_re = _sql_lit(_text.HTTP_BODY_RE)
    verdict = "'ok'"
    for name, pat in reversed(_text.TRIAGE_CLASSES):
        verdict = (
            f"CASE WHEN regexp_matches(body, {_sql_lit(pat)}) "
            f"THEN '{name}' ELSE {verdict} END"
        )
    return f"""
    WITH RECURSIVE
    {_warc_walk_ctes()},
    f AS (SELECT head, payload,
            regexp_extract(payload, {status_re}, 1) AS status,
            trim(regexp_extract(
              regexp_extract(payload, '(?s)^(.*?)(\\r?\\n\\r?\\n|$)', 1),
              {ct_re}, 1)) AS ctype_raw,
            regexp_extract(payload, {body_re}, 1) AS body
          FROM walk WHERE recno >= 1),
    g AS (SELECT trim(regexp_extract(head, {uri_re}, 1)) AS url, body
          FROM f
          WHERE CASE WHEN status = '' THEN 0
                     ELSE CAST(status AS BIGINT) END = 200
            AND starts_with(
                  lower(trim(regexp_extract(ctype_raw, '^([^;]*)', 1))),
                  'text/'))
    SELECT url,
           CASE WHEN length(body) < {_text.TRIAGE_MIN_CHARS}
                THEN 'empty' ELSE {verdict} END AS verdict,
           CAST(len(list_filter(
                  string_split_regex(lower(body), '[^a-z0-9]+'),
                  t -> t <> '')) AS BIGINT) AS n_tokens
    FROM g
    """


register("warc_intake_pipeline", _q_warc_intake, _warc_intake_oracle())


def _q_warc_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-shaped record index over the fetch store: per record, its
    BYTE OFFSET and framed length inside the store blob — the seek
    table real crawl archives ship so a single record can be fetched
    without walking the store. Offsets are derived from the walk
    output itself (record i starts at the cumulative framed length of
    records 1..i-1: len(head) + 4-byte header blank + payload +
    4-byte trailer), so the index is exactly as torn-tail-safe as the
    walk. One window cumsum per blob — record rows only, payload never
    shuffles (the index is keys + integers)."""
    from pyspark.sql import Window

    from gcp_etl_pipeline_spark.operators import text as _text

    blobs = _warc_blobs(spark, sf_dir)
    recs = blobs.select(
        "blob_id",
        F.posexplode(
            _text.warc_records("blob", max_records=_WARC_MAX_RECORDS)
        ).alias("pos", "rec"),
    )
    framed = recs.select(
        "blob_id",
        (F.col("pos") + 1).cast("bigint").alias("recno"),
        (
            F.length(F.col("rec")["head"])
            + F.length(F.col("rec")["payload"])
            + F.lit(8)
        )
        .cast("bigint")
        .alias("rec_len"),
        F.trim(
            F.regexp_extract(
                F.col("rec")["head"],
                _text.http_header_pattern("WARC-Target-URI"),
                1,
            )
        ).alias("target_uri"),
    )
    w = (
        Window.partitionBy("blob_id")
        .orderBy("recno")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return framed.select(
        "blob_id",
        "recno",
        F.coalesce(F.sum("rec_len").over(w), F.lit(0))
        .cast("bigint")
        .alias("offset"),
        "rec_len",
        "target_uri",
    )


def _warc_index_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    uri_re = _sql_lit(_text.http_header_pattern("WARC-Target-URI"))
    return f"""
    WITH RECURSIVE
    {_warc_walk_ctes()},
    f AS (SELECT blob_id, recno,
            CAST(length(head) + length(payload) + 8 AS BIGINT)
              AS rec_len,
            trim(regexp_extract(head, {uri_re}, 1)) AS target_uri
          FROM walk WHERE recno >= 1)
    SELECT blob_id,
           CAST(recno AS BIGINT) AS recno,
           CAST(COALESCE(SUM(rec_len) OVER (
             PARTITION BY blob_id ORDER BY recno
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS offset,
           rec_len, target_uri
    FROM f
    """


register("warc_record_index", _q_warc_index, _warc_index_oracle())


def _q_warc_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-range READ path over the seek table: per blob, pick one
    index row (the record with the greatest target_uri — an arbitrary
    interior position, ties recno asc) and extract exactly that record
    from the store with a (offset, length) substring — the CDX range-
    request pattern, no walk over the blob. The slice is then
    re-parsed: its own WARC-Target-URI must equal the index's, and the
    payload (between the head's blank line and the record trailer) is
    fingerprinted — proving the seek table actually addresses the
    store, not just describes it.

    Scale shape: the index is keys + integers; the only payload-sized
    operation is the per-blob substring, which on a range-capable
    store (HTTP Range, GCS/S3 ranged GET) becomes a remote partial
    read — the entire point of shipping the index."""
    from pyspark.sql import Window

    from gcp_etl_pipeline_spark.operators import text as _text

    idx = _q_warc_index(spark, sf_dir)
    w = Window.partitionBy("blob_id").orderBy(
        F.desc("target_uri"), F.asc("recno")
    )
    pick = (
        idx.where(F.col("target_uri") != "")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    blobs = _warc_blobs(spark, sf_dir)
    sliced = pick.join(blobs, "blob_id").withColumn(
        "__slice", F.expr("substring(blob, offset + 1, rec_len)")
    )
    parsed = sliced.withColumn(
        "__head",
        F.regexp_extract(F.col("__slice"), r"(?s)^(.*?)\r\n\r\n", 1),
    ).withColumn(
        "__payload",
        F.expr(
            "substring(__slice, length(__head) + 5,"
            " rec_len - length(__head) - 8)"
        ),
    )
    return parsed.select(
        "blob_id",
        "recno",
        "offset",
        "rec_len",
        "target_uri",
        F.trim(
            F.regexp_extract(
                F.col("__head"),
                _text.http_header_pattern("WARC-Target-URI"),
                1,
            )
        ).alias("sliced_uri"),
        F.length("__payload").cast("bigint").alias("n_payload_chars"),
        F.md5(F.col("__payload").cast("binary")).alias("payload_md5"),
    )


def _warc_fetch_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    uri_re = _sql_lit(_text.http_header_pattern("WARC-Target-URI"))
    return f"""
    WITH RECURSIVE
    {_warc_walk_ctes()},
    f AS (SELECT blob_id, recno,
            CAST(length(head) + length(payload) + 8 AS BIGINT)
              AS rec_len,
            trim(regexp_extract(head, {uri_re}, 1)) AS target_uri
          FROM walk WHERE recno >= 1),
    ix AS (SELECT blob_id,
             CAST(recno AS BIGINT) AS recno,
             CAST(COALESCE(SUM(rec_len) OVER (
               PARTITION BY blob_id ORDER BY recno
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS offset,
             rec_len, target_uri
           FROM f),
    pick AS (SELECT * FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY blob_id
                 ORDER BY target_uri DESC, recno ASC) AS rk
               FROM ix WHERE target_uri <> '') t
             WHERE rk = 1),
    sl AS (SELECT p.blob_id, p.recno, p.offset, p.rec_len,
             p.target_uri,
             substr(b.blob, CAST(p.offset + 1 AS BIGINT),
                    CAST(p.rec_len AS BIGINT)) AS slc
           FROM pick p JOIN blobs b ON p.blob_id = b.blob_id),
    pr AS (SELECT *,
             regexp_extract(slc, '(?s)^(.*?)\r\n\r\n', 1) AS head
           FROM sl),
    py AS (SELECT *,
             substr(slc, length(head) + 5,
                    CAST(rec_len - length(head) - 8 AS BIGINT))
               AS payload
           FROM pr)
    SELECT blob_id, recno, "offset", rec_len, target_uri,
           trim(regexp_extract(head, {uri_re}, 1)) AS sliced_uri,
           CAST(length(payload) AS BIGINT) AS n_payload_chars,
           md5(payload) AS payload_md5
    FROM py
    """


register("warc_record_fetch", _q_warc_fetch, _warc_fetch_oracle())


# ----------- gzip-member compressed fetch stores (warc.gz framing)

# the compressed twin of _WARC_PAYLOAD: records that compress as STORED
# blocks (doc_id % 3 = 0, level 0) also carry LITERAL gzip magic bytes
# in their body — the compressed store then contains '\x1f\x8b\x08'
# mid-member, exactly where a magic-scanning splitter tears and the
# zlib end-of-stream walk does not
_WARCGZ_PAYLOAD = (
    _WARC_PAYLOAD
    + " || CASE WHEN doc_id % 3 = 0 THEN chr(31) || chr(139) || chr(8) "
    "|| ' not a member' ELSE '' END"
)


def _warcgz_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed fetch-store fixture: one gzip member per WARC record
    (the warc.gz layout), members concatenated per 4-record blob.
    doc_id % 3 = 0 members are STORED (level 0) so their planted magic
    bytes appear verbatim in the compressed stream; every
    blob_id % 5 = 4 blob is truncated 7 bytes into its trailing
    member's gzip trailer — a torn member the walk must drop cleanly
    (never a partial record).

    Build shape: per-RECORD compression in one Arrow-batched
    mapInPandas pass, then a JVM binary-concat aggregate per blob —
    measured 40x faster than applyInPandas-per-blob (8-row pandas
    groups drown in per-group overhead; SCALE.md)."""
    from gcp_etl_pipeline_spark.operators.text import gzip_member

    rec = _warc_record_rows(spark, sf_dir, _WARCGZ_PAYLOAD)

    def compress(batches):
        for pdf in batches:
            out = pdf[["blob_id", "doc_id"]].copy()
            out["m"] = [
                gzip_member(
                    r.encode("ISO-8859-1"), 0 if int(d) % 3 == 0 else 6
                )
                for d, r in zip(pdf["doc_id"], pdf["record"])
            ]
            yield out

    members = rec.mapInPandas(
        compress, "blob_id BIGINT, doc_id BIGINT, m BINARY"
    )
    blobs = members.groupBy("blob_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "m"))),
                lambda s: s["m"],
            ),
            F.lit(b""),
            lambda acc, x: F.concat(acc, x),
        ).alias("gz")
    )
    return blobs.select(
        "blob_id",
        F.when(
            F.col("blob_id") % 5 == 4,
            F.expr("substring(gz, 1, length(gz) - 7)"),
        )
        .otherwise(F.col("gz"))
        .alias("gz"),
    )


_GZ_MAGIC_SQL = "chr(31) || chr(139) || chr(8)"


def _q_warcgz_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warc.gz record extraction END TO END: compressed member store
    -> stream-driven member split + inflate (text.gunzip_store, Arrow
    batches + stdlib zlib) -> the UNCHANGED Content-Length record walk
    and envelope parse. Hazards proven by the graded output: literal
    gzip magic inside STORED members stays in its body
    (body_has_gz_magic), torn trailing members vanish without a
    partial record (n_members drops, the oracle reconstruction drops
    the same record), and n_members == the walk's record count — the
    member framing and the record framing must agree blob by blob.

    Scale shape: parallel unit is the store blob row; inflate is one
    Arrow-batched pass, the walk a zero-shuffle projection — payloads
    never shuffle."""
    from gcp_etl_pipeline_spark.operators import text as _text

    blobs = _warcgz_blobs(spark, sf_dir)
    inflated = _text.gunzip_store(blobs, "gz", "blob")
    recs = inflated.select(
        "blob_id",
        F.col("n_members").cast("bigint").alias("n_members"),
        F.posexplode(
            _text.warc_records("blob", max_records=_WARC_MAX_RECORDS)
        ).alias("pos", "rec"),
    )
    return _text.warc_envelope(recs).select(
        "blob_id",
        "n_members",
        (F.col("pos") + 1).cast("bigint").alias("recno"),
        F.col("url").alias("target_uri"),
        "status_code",
        "content_type",
        F.length("body").cast("bigint").alias("body_len"),
        F.expr(f"locate({_GZ_MAGIC_SQL}, body) > 0").alias(
            "body_has_gz_magic"
        ),
    )


def _warcgz_extract_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    uri_re = _sql_lit(_text.http_header_pattern("WARC-Target-URI"))
    ct_re = _sql_lit(_text.http_header_pattern("Content-Type"))
    status_re = _sql_lit(_text.HTTP_STATUS_RE)
    body_re = _sql_lit(_text.HTTP_BODY_RE)
    return f"""
    WITH RECURSIVE
    {_warc_walk_ctes(payload_expr=_WARCGZ_PAYLOAD, torn=True)},
    nm AS (SELECT blob_id, COUNT(*) AS n_members FROM rk GROUP BY 1),
    f AS (SELECT blob_id, recno, head, payload,
            regexp_extract(payload, {status_re}, 1) AS status,
            trim(regexp_extract(
              regexp_extract(payload, '(?s)^(.*?)(\\r?\\n\\r?\\n|$)', 1),
              {ct_re}, 1)) AS ctype_raw,
            regexp_extract(payload, {body_re}, 1) AS body
          FROM walk WHERE recno >= 1)
    SELECT f.blob_id,
           CAST(nm.n_members AS BIGINT) AS n_members,
           CAST(recno AS BIGINT) AS recno,
           trim(regexp_extract(head, {uri_re}, 1)) AS target_uri,
           CAST(CASE WHEN status = '' THEN 0
                ELSE CAST(status AS BIGINT) END AS BIGINT) AS status_code,
           lower(trim(regexp_extract(ctype_raw, '^([^;]*)', 1)))
             AS content_type,
           CAST(length(body) AS BIGINT) AS body_len,
           position(({_GZ_MAGIC_SQL}) IN body) > 0 AS body_has_gz_magic
    FROM f JOIN nm ON f.blob_id = nm.blob_id
    """


register("warcgz_record_extract", _q_warcgz_extract, _warcgz_extract_oracle())


def _q_warcgz_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full intake chain over a COMPRESSED fetch store: member
    split + inflate -> record walk -> envelope -> fetchability gate
    (200 + text/*) -> triage verdict + token count. Identical
    downstream semantics to warc_intake_pipeline — the compression
    tier composes in front of the chain without touching it, which is
    the design point: a fix to the gate or triage lands once for
    plaintext and compressed stores alike."""
    from gcp_etl_pipeline_spark.operators import text as _text

    blobs = _warcgz_blobs(spark, sf_dir)
    inflated = _text.gunzip_store(blobs, "gz", "blob")
    recs = inflated.select(
        F.posexplode(
            _text.warc_records("blob", max_records=_WARC_MAX_RECORDS)
        ).alias("pos", "rec"),
    )
    gated = _text.warc_envelope(recs).where(
        (F.col("status_code") == 200)
        & F.col("content_type").startswith("text/")
    )
    return gated.select(
        "url",
        _text.fetch_triage("body").alias("verdict"),
        _text.token_count("body").cast("bigint").alias("n_tokens"),
    )


def _warcgz_intake_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    uri_re = _sql_lit(_text.http_header_pattern("WARC-Target-URI"))
    ct_re = _sql_lit(_text.http_header_pattern("Content-Type"))
    status_re = _sql_lit(_text.HTTP_STATUS_RE)
    body_re = _sql_lit(_text.HTTP_BODY_RE)
    verdict = "'ok'"
    for name, pat in reversed(_text.TRIAGE_CLASSES):
        verdict = (
            f"CASE WHEN regexp_matches(body, {_sql_lit(pat)}) "
            f"THEN '{name}' ELSE {verdict} END"
        )
    return f"""
    WITH RECURSIVE
    {_warc_walk_ctes(payload_expr=_WARCGZ_PAYLOAD, torn=True)},
    f AS (SELECT head, payload,
            regexp_extract(payload, {status_re}, 1) AS status,
            trim(regexp_extract(
              regexp_extract(payload, '(?s)^(.*?)(\\r?\\n\\r?\\n|$)', 1),
              {ct_re}, 1)) AS ctype_raw,
            regexp_extract(payload, {body_re}, 1) AS body
          FROM walk WHERE recno >= 1),
    g AS (SELECT trim(regexp_extract(head, {uri_re}, 1)) AS url, body
          FROM f
          WHERE CASE WHEN status = '' THEN 0
                     ELSE CAST(status AS BIGINT) END = 200
            AND starts_with(
                  lower(trim(regexp_extract(ctype_raw, '^([^;]*)', 1))),
                  'text/'))
    SELECT url,
           CASE WHEN length(body) < {_text.TRIAGE_MIN_CHARS}
                THEN 'empty' ELSE {verdict} END AS verdict,
           CAST(len(list_filter(
                  string_split_regex(lower(body), '[^a-z0-9]+'),
                  t -> t <> '')) AS BIGINT) AS n_tokens
    FROM g
    """


register("warcgz_intake_pipeline", _q_warcgz_intake, _warcgz_intake_oracle())


def warcgz_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached SOURCE DIRECTORY for the COMPRESSED fetch-store
    streaming twin: the warc.gz blob fixture split into two
    blob_id-ordered, mtime-ordered parquet files — compressed crawl
    chunks landing in object storage one at a time. Mirrors
    ``warc_stream_src``."""
    return _two_file_stream_src(
        spark, "warcgzsrc", sf_dir,
        lambda: _key_halves(_warcgz_blobs(spark, sf_dir), "blob_id"),
    )


# ----------------- PDF text extraction (the application/pdf branch)


def _q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scoped stdlib PDF codec end to end: real two-page PDFs built
    per document (even doc_ids FlateDecode-compressed, odd plaintext;
    page text plants parens AND a backslash so the string-literal
    escape round trip is exercised, doc_id % 11 truncated to 40 bytes
    — a torn file that must become a decode_error row, never a silent
    empty string) -> Arrow-batched pdf_text_stage. The oracle is
    closed-form: expected text is a pure function of (doc_id, text),
    so any corruption in xref layout, Flate round trip, Length-driven
    stream framing, or escape decoding breaks the hash."""
    import pandas as pd

    from gcp_etl_pipeline_spark.operators import text as _text
    from gcp_etl_pipeline_spark.operators.codecs import encode_pdf

    docs = _scan(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )

    def build(batches):
        for pdf in batches:
            rows = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                pages = [f"Doc {d} (crawl) \\ fetch", t[:60]]
                blob = encode_pdf(pages, compress=(d % 2 == 0))
                if d % 11 == 0:
                    blob = blob[:40]
                rows.append((d, blob))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    blobs = docs.mapInPandas(build, "doc_id BIGINT, content BINARY")
    return _text.pdf_text_stage(blobs, "content", "pdf_text").select(
        "doc_id", "pdf_text", "decode_error"
    )


_PDF_EXTRACT_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 11 = 0 THEN NULL
            ELSE 'Doc ' || CAST(doc_id AS VARCHAR) || ' (crawl) '
                 || chr(92) || ' fetch' || chr(10) || substr(text, 1, 60)
       END AS pdf_text,
       CASE WHEN doc_id % 11 = 0 THEN 'no content streams found'
            ELSE NULL END AS decode_error
FROM documents
"""


register("pdf_text_extract", _q_pdf_extract, _PDF_EXTRACT_ORACLE)


# the WARC payload variant whose application/pdf records carry a REAL
# (uncompressed, SQL-constructible) PDF body instead of opaque text —
# page text plants parens that the PDF writer must escape and the
# reader unescape; doc_id % 9 = 0 prepends a byte that breaks the
# magic (a torn/garbled fetch that must become pdf_error, not a crash)
def _pdf_body_sql() -> str:
    page = "substring(text, 1, 40) || ' (pg ' || CAST(doc_id AS {V}) || ')'"
    esc = (
        f"replace(replace({page}, '(', chr(92) || '('), "
        f"')', chr(92) || ')')"
    )
    ct = f"'BT /F1 12 Tf (' || {esc} || ') Tj ET'"
    return (
        "CASE WHEN doc_id % 9 = 0 THEN 'X' ELSE '' END || "
        "'%PDF-1.4' || chr(10) || '1 0 obj' || chr(10) || "
        f"'<< /Length ' || CAST(length({ct}) AS {{V}}) || ' >>' || chr(10)"
        f" || 'stream' || chr(10) || {ct} || chr(10) || 'endstream' || "
        "chr(10) || 'endobj'"
    )


_WARC_PDF_PAYLOAD = (
    "'HTTP/1.1 ' || CASE doc_id % 5 WHEN 3 THEN '404 Not Found' "
    "ELSE '200 OK' END || {NL} || "
    "CASE doc_id % 4 WHEN 2 THEN 'Content-Type: application/pdf' "
    "ELSE 'Content-Type: text/html; charset=UTF-8' END || {NL} || "
    "{NL} || "
    "CASE WHEN doc_id % 4 = 2 THEN " + _pdf_body_sql() + " ELSE "
    "'Content-Type: evil/fake' || {NL} || "
    "'doc ' || CAST(doc_id AS {V}) || ' ' || substring(text, 1, 40) || "
    "CASE WHEN doc_id % 7 = 0 THEN ' page not found ' ELSE '' END || "
    "CASE WHEN doc_id % 3 = 0 THEN {NL} || 'WARC/1.0' || {NL} || "
    "'Content-Length: 3' || {NL} || {NL} || 'xyz' ELSE '' END END"
)


def _q_warc_intake_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The intake gate STOPS dropping application/pdf: fetch-store walk
    -> envelope -> gate widened to (200, text/* OR application/pdf) ->
    the pdf branch routes through pdf_text_stage (magic-broken bodies
    become 'pdf_error', never a crash or a silent drop) and rejoins the
    text branch for the SAME shared triage + token counting. Output is
    (url, content_class, verdict, n_tokens) — one schema for both
    branches, the shape a mixed crawl corpus actually lands in.

    Scale: the pdf branch is the only Python stage (Arrow-batched,
    per-record parallel unit); text rows never leave the JVM."""
    from gcp_etl_pipeline_spark.operators import text as _text

    blobs = _warc_blobs(spark, sf_dir, _WARC_PDF_PAYLOAD)
    recs = blobs.select(
        F.posexplode(
            _text.warc_records("blob", max_records=_WARC_MAX_RECORDS)
        ).alias("pos", "rec"),
    )
    gated = _text.warc_envelope(recs).where(
        (F.col("status_code") == 200)
        & (
            F.col("content_type").startswith("text/")
            | (F.col("content_type") == "application/pdf")
        )
    )
    text_rows = gated.where(
        F.col("content_type").startswith("text/")
    ).select(
        "url",
        F.lit("text").alias("content_class"),
        _text.fetch_triage("body").alias("verdict"),
        _text.token_count("body").cast("bigint").alias("n_tokens"),
    )
    pdf_ex = _text.pdf_text_stage(
        gated.where(F.col("content_type") == "application/pdf").select(
            "url", "body"
        ),
        "body",
        "pdf_text",
    )
    pdf_rows = pdf_ex.select(
        "url",
        F.lit("pdf").alias("content_class"),
        F.when(F.col("decode_error").isNotNull(), F.lit("pdf_error"))
        .otherwise(_text.fetch_triage("pdf_text"))
        .alias("verdict"),
        F.when(F.col("decode_error").isNotNull(), F.lit(0))
        .otherwise(_text.token_count("pdf_text"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    return text_rows.unionByName(pdf_rows)


def _warc_intake_pdf_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    uri_re = _sql_lit(_text.http_header_pattern("WARC-Target-URI"))
    ct_re = _sql_lit(_text.http_header_pattern("Content-Type"))
    status_re = _sql_lit(_text.HTTP_STATUS_RE)
    body_re = _sql_lit(_text.HTTP_BODY_RE)

    def verdict(col: str) -> str:
        v = "'ok'"
        for name, pat in reversed(_text.TRIAGE_CLASSES):
            v = (
                f"CASE WHEN regexp_matches({col}, {_sql_lit(pat)}) "
                f"THEN '{name}' ELSE {v} END"
            )
        return (
            f"CASE WHEN length({col}) < {_text.TRIAGE_MIN_CHARS} "
            f"THEN 'empty' ELSE {v} END"
        )

    def tokens(col: str) -> str:
        return (
            f"CAST(len(list_filter(string_split_regex(lower({col}), "
            f"'[^a-z0-9]+'), t -> t <> '')) AS BIGINT)"
        )

    return f"""
    WITH RECURSIVE
    {_warc_walk_ctes(payload_expr=_WARC_PDF_PAYLOAD)},
    f AS (SELECT head, payload,
            regexp_extract(payload, {status_re}, 1) AS status,
            lower(trim(regexp_extract(
              regexp_extract(
                regexp_extract(payload, '(?s)^(.*?)(\\r?\\n\\r?\\n|$)', 1),
                {ct_re}, 1), '^([^;]*)', 1))) AS ctype,
            regexp_extract(payload, {body_re}, 1) AS body
          FROM walk WHERE recno >= 1),
    g AS (SELECT trim(regexp_extract(head, {uri_re}, 1)) AS url,
                 ctype, body
          FROM f
          WHERE CASE WHEN status = '' THEN 0
                     ELSE CAST(status AS BIGINT) END = 200
            AND (starts_with(ctype, 'text/')
                 OR ctype = 'application/pdf')),
    tx AS (SELECT url, 'text' AS content_class,
                 {verdict('body')} AS verdict,
                 {tokens('body')} AS n_tokens
          FROM g WHERE starts_with(ctype, 'text/')),
    px0 AS (SELECT url,
             starts_with(body, '%PDF-') AS ok,
             replace(replace(
               regexp_extract(body, '(?s)Tf \\((.*)\\) Tj ET', 1),
               chr(92) || '(', '('), chr(92) || ')', ')') AS extracted
           FROM g WHERE ctype = 'application/pdf'),
    px AS (SELECT url, 'pdf' AS content_class,
                 CASE WHEN NOT ok THEN 'pdf_error'
                      ELSE {verdict('extracted')} END AS verdict,
                 CASE WHEN NOT ok THEN CAST(0 AS BIGINT)
                      ELSE {tokens('extracted')} END AS n_tokens
          FROM px0)
    SELECT * FROM tx UNION ALL SELECT * FROM px
    """


register("warc_intake_pdf", _q_warc_intake_pdf, _warc_intake_pdf_oracle())


# ---------- conditional-fetch response merge (revalidation round trip)

# simulated revalidation RESPONSES for the _REVAL_RAW stored captures:
# 500s (doc_id % 7) keep everything untouched; 304s (doc_id % 3) reuse
# the stored body — including the PROTOCOL-VIOLATION 304 sent to a
# full_fetch plan (doc_id % 4 = 3 stored rows hold no validator, so a
# 304 there is a server bug that must fall to 'kept', never reuse a
# body the server could not have validated); 200s replace. Every
# response carries exactly one refreshed validator (ETag on even ids,
# Last-Modified on odd) and odd ids a Cache-Control freshness window.
_REVAL_RESP_RAW = (
    "'HTTP/1.1 ' || CASE WHEN doc_id % 7 = 0 "
    "THEN '500 Internal Server Error' "
    "WHEN doc_id % 3 = 0 THEN '304 Not Modified' ELSE '200 OK' END "
    "|| {NL} || "
    "CASE WHEN doc_id % 2 = 0 THEN 'ETag: \"n' || CAST(doc_id AS {V}) "
    "|| '\"' || {NL} "
    "ELSE 'Last-Modified: Wed, 12 Aug 2026 08:00:00 GMT' || {NL} END || "
    "CASE WHEN doc_id % 2 = 1 THEN 'Cache-Control: max-age=' "
    "|| CAST(300 + doc_id % 5 * 300 AS {V}) || {NL} ELSE '' END || "
    "{NL} || "
    "CASE WHEN doc_id % 3 = 0 OR doc_id % 7 = 0 THEN '' "
    "ELSE 'updated ' || substring(text, 5, 30) END"
)

_STORED_US = "1000000 + doc_id"
_RESP_US = "2000000 + doc_id"


def _q_revalidation_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESPONSE side of conditional fetching — what
    revalidation_plan only plans: stored captures (validators + body)
    joined with their revalidation responses, merged per RFC-9111
    shape. 200 -> replace body, validators, capture time; 304 on a
    CONDITIONAL plan -> reuse the stored body, refresh the capture
    time + freshness window, refresh each validator the 304 carries
    (stored value kept where the 304 is silent); 5xx or an unplanned
    304 (the stored row had no validator to send) -> keep the stored
    capture untouched. Output is the refreshed latest-capture table:
    (doc_id, outcome, content_fp, captured_us, etag, last_modified,
    fresh_for_s) — content_fp over the merged body is what the
    snapshot-dedup tier fingerprints.

    Scale: both sides are head-barriered single projections; the merge
    is one equi-join on the capture key (url/doc partition key at
    100 TB — co-partitioned store and fetch log make it shuffle-free)."""
    from gcp_etl_pipeline_spark.operators import text as _text

    docs = _scan(spark, f"{sf_dir}/documents.parquet")
    nl = "CASE WHEN doc_id % 2 = 0 THEN chr(13) || chr(10) ELSE chr(10) END"

    def sided(raw_expr: str, prefix: str, with_status: bool) -> DataFrame:
        raw = docs.select(
            "doc_id",
            F.expr(raw_expr.format(V="STRING", NL=nl)).alias("raw"),
        )
        # Generate barrier: head extracted once per record, the
        # documented re-inlining trap (same as revalidation_plan)
        h = raw.select(
            "doc_id",
            "raw",
            F.posexplode(F.array(_text.http_head("raw"))).alias(
                "__x", "head"
            ),
        ).drop("__x")
        cols = [
            F.col("doc_id"),
            F.regexp_extract("raw", _text.HTTP_BODY_RE, 1).alias(
                f"{prefix}_body"
            ),
        ]
        if with_status:
            cols.append(
                F.regexp_extract("raw", _text.HTTP_STATUS_RE, 1)
                .cast("int")
                .alias(f"{prefix}_status")
            )
        fields = _text.revalidation_fields("head", assume_head=True)
        names = ["etag", "last_modified", "action", "validator",
                 "fresh_for_s"]
        cols += [f.alias(f"{prefix}_{n}") for f, n in zip(fields, names)]
        return h.select(*cols)

    stored = sided(_REVAL_RAW, "st", with_status=False)
    resp = sided(_REVAL_RESP_RAW, "re", with_status=True)
    m = stored.join(resp, "doc_id")
    reused = (F.col("re_status") == 304) & (
        F.col("st_action") != "full_fetch"
    )
    replaced = F.col("re_status") == 200
    pick = lambda a, b: F.when(F.col(a) != "", F.col(a)).otherwise(  # noqa: E731
        F.col(b)
    )
    return m.select(
        "doc_id",
        F.when(replaced, F.lit("replaced"))
        .when(reused, F.lit("reused"))
        .otherwise(F.lit("kept"))
        .alias("outcome"),
        F.md5(
            F.when(replaced, F.col("re_body")).otherwise(F.col("st_body"))
        ).alias("content_fp"),
        F.when(replaced | reused, F.expr(_RESP_US))
        .otherwise(F.expr(_STORED_US))
        .cast("bigint")
        .alias("captured_us"),
        F.when(replaced, F.col("re_etag"))
        .when(reused, pick("re_etag", "st_etag"))
        .otherwise(F.col("st_etag"))
        .alias("etag"),
        F.when(replaced, F.col("re_last_modified"))
        .when(reused, pick("re_last_modified", "st_last_modified"))
        .otherwise(F.col("st_last_modified"))
        .alias("last_modified"),
        F.when(replaced | reused, F.col("re_fresh_for_s"))
        .otherwise(F.col("st_fresh_for_s"))
        .cast("bigint")
        .alias("fresh_for_s"),
    )


def _revalidation_merge_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    nl = "CASE WHEN doc_id % 2 = 0 THEN chr(13) || chr(10) ELSE chr(10) END"
    etag_re = _sql_lit(_text.http_header_pattern("ETag"))
    lm_re = _sql_lit(_text.http_header_pattern("Last-Modified"))
    cc_re = _sql_lit(_text.http_header_pattern("Cache-Control"))
    status_re = _sql_lit(_text.HTTP_STATUS_RE)
    body_re = _sql_lit(_text.HTTP_BODY_RE)

    def side(raw_expr: str, name: str) -> str:
        return f"""
    {name}0 AS (SELECT doc_id,
                  {raw_expr.format(V="VARCHAR", NL=nl)} AS raw
                FROM documents),
    {name}1 AS (SELECT doc_id, raw,
                  regexp_extract(raw, '(?s)^(.*?)(\\r?\\n\\r?\\n|$)', 1)
                    AS head
                FROM {name}0),
    {name} AS (SELECT doc_id,
                 regexp_extract(raw, {body_re}, 1) AS body,
                 TRY_CAST(regexp_extract(raw, {status_re}, 1) AS INT)
                   AS status,
                 trim(regexp_extract(head, {etag_re}, 1)) AS etag,
                 trim(regexp_extract(head, {lm_re}, 1)) AS last_modified,
                 regexp_matches(
                   trim(regexp_extract(head, {cc_re}, 1)),
                   '(?i)no-store') AS no_store,
                 regexp_extract(
                   trim(regexp_extract(head, {cc_re}, 1)),
                   '(?i)max-age=([0-9]+)', 1) AS max_age_s
               FROM {name}1)"""

    return f"""
    WITH {side(_REVAL_RAW, "st")},
    {side(_REVAL_RESP_RAW, "re")},
    j AS (SELECT st.doc_id,
            st.body AS st_body, st.etag AS st_etag,
            st.last_modified AS st_lm,
            CASE WHEN st.no_store OR st.max_age_s = '' THEN 0
                 ELSE CAST(st.max_age_s AS BIGINT) END AS st_fresh,
            st.etag <> '' OR st.last_modified <> '' AS conditional,
            re.status AS re_status, re.body AS re_body,
            re.etag AS re_etag, re.last_modified AS re_lm,
            CASE WHEN re.no_store OR re.max_age_s = '' THEN 0
                 ELSE CAST(re.max_age_s AS BIGINT) END AS re_fresh
          FROM st JOIN re ON st.doc_id = re.doc_id),
    k AS (SELECT *,
            re_status = 200 AS replaced,
            re_status = 304 AND conditional AS reused
          FROM j)
    SELECT doc_id,
           CASE WHEN replaced THEN 'replaced'
                WHEN reused THEN 'reused' ELSE 'kept' END AS outcome,
           md5(CASE WHEN replaced THEN re_body ELSE st_body END)
             AS content_fp,
           CAST(CASE WHEN replaced OR reused THEN {_RESP_US}
                ELSE {_STORED_US} END AS BIGINT) AS captured_us,
           CASE WHEN replaced THEN re_etag
                WHEN reused THEN
                  CASE WHEN re_etag <> '' THEN re_etag ELSE st_etag END
                ELSE st_etag END AS etag,
           CASE WHEN replaced THEN re_lm
                WHEN reused THEN
                  CASE WHEN re_lm <> '' THEN re_lm ELSE st_lm END
                ELSE st_lm END AS last_modified,
           CAST(CASE WHEN replaced OR reused THEN re_fresh
                ELSE st_fresh END AS BIGINT) AS fresh_for_s
    FROM k
    """


register(
    "revalidation_merge", _q_revalidation_merge, _revalidation_merge_oracle()
)


def warc_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached SOURCE DIRECTORY for the streaming fetch-store
    twin: the WARC blob fixture split into two blob_id-ordered,
    mtime-ordered parquet files — the shape of a crawl store landing
    in object storage one chunk at a time."""
    return _two_file_stream_src(
        spark, "warcsrc", sf_dir,
        lambda: _key_halves(_warc_blobs(spark, sf_dir), "blob_id"),
    )


# ------------ robots.txt PARSING -> rule table -> verdicts (end to end)

# raw robots documents per host class (h % 4): 0 = one '*' group with a
# nested allow override; 1 = a specific-agent group FIRST (its rules
# must not leak into the '*' evaluation), then the '*' group; 2 = a
# multi-User-agent group run ('a' then '*': one group), an inline
# comment on a rule line, a full comment line, and an empty-pattern
# Disallow (RFC: no effect, drops); 3 = an orphan rule before any
# group (invalid, drops) and a non-matching group only -> default
# allow. {NL} is the engine's newline literal.
_ROBOTS_TXT = (
    "CASE h % 4 "
    "WHEN 0 THEN 'User-agent: *' || {NL} || 'Disallow: /private' || {NL} "
    "|| 'Allow: /private/pub' "
    "WHEN 1 THEN 'User-agent: googlebot' || {NL} || 'Disallow: /' || {NL} "
    "|| {NL} || 'User-Agent: *' || {NL} || 'Allow: /' || {NL} "
    "|| 'Disallow: /tmp' "
    "WHEN 2 THEN 'User-agent: a' || {NL} || 'User-agent: *' || {NL} "
    "|| 'Disallow: /x  # inline comment' || {NL} "
    "|| '# full comment line' || {NL} || 'Disallow:' "
    "ELSE 'Disallow: /orphan' || {NL} || 'User-agent: other' || {NL} "
    "|| 'Disallow: /y' END"
)

_ROBOTS_URL = (
    "'https://r' || CAST(o_orderkey % 12 AS {V}) || '.test' || "
    "CASE o_orderkey % 5 "
    "WHEN 0 THEN '/private/pub/' || CAST(o_orderkey % 7 AS {V}) "
    "WHEN 1 THEN '/private/' || CAST(o_orderkey % 7 AS {V}) "
    "WHEN 2 THEN '/x/' || CAST(o_orderkey % 7 AS {V}) "
    "WHEN 3 THEN '/tmp/' || CAST(o_orderkey % 7 AS {V}) "
    "ELSE '/y' END"
)


def _q_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt end to end from RAW TEXT: parse (line split, comment
    strip, case-folded directives, consecutive-User-agent group runs,
    orphan/empty-pattern rules dropped, '*'-matching groups selected)
    -> rule table -> RFC 9309 precedence verdicts over a scaling URL
    frontier. Documents are host-sized; only the frontier scales."""
    from gcp_etl_pipeline_spark.operators import curation as _cur

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    hosts = orders.select(
        (F.col("o_orderkey") % 12).alias("h")
    ).distinct()
    docs = hosts.select(
        F.concat(F.lit("r"), F.col("h").cast("string"), F.lit(".test"))
        .alias("host"),
        F.expr(_ROBOTS_TXT.format(NL="chr(10)")).alias("robots_txt"),
    )
    rules = _cur.parse_robots_txt(docs)
    urls = orders.select(
        "o_orderkey", F.expr(_ROBOTS_URL.format(V="STRING")).alias("url")
    )
    return _cur.robots_filter(urls, rules).select(
        "o_orderkey", "url", "allowed", "matched_prefix"
    )


def _robots_parse_oracle() -> str:
    return f"""
    WITH hosts AS (SELECT DISTINCT o_orderkey % 12 AS h FROM orders),
    docs AS (SELECT 'r' || CAST(h AS VARCHAR) || '.test' AS host,
                    {_ROBOTS_TXT.format(NL="chr(10)")} AS txt
             FROM hosts),
    ls AS (SELECT host, string_split_regex(txt, '\\r?\\n') AS arr
           FROM docs),
    l AS (SELECT host,
            CAST(unnest(range(len(arr))) AS BIGINT) AS no,
            trim(regexp_replace(unnest(arr), '#.*$', '')) AS clean
          FROM ls),
    d0 AS (SELECT host, no,
             lower(regexp_extract(clean, '^\\s*([A-Za-z-]+)\\s*:', 1))
               AS kind,
             trim(regexp_replace(clean, '^\\s*[A-Za-z-]+\\s*:', ''))
               AS val
           FROM l),
    d AS (SELECT * FROM d0
          WHERE kind IN ('user-agent', 'allow', 'disallow')),
    d1 AS (SELECT *,
             COALESCE(LAG(kind) OVER (PARTITION BY host ORDER BY no), '')
               AS prev_kind
           FROM d),
    g AS (SELECT *,
            SUM(CASE WHEN kind = 'user-agent'
                      AND prev_kind <> 'user-agent'
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY host ORDER BY no
                    ROWS UNBOUNDED PRECEDING) AS gid
          FROM d1),
    m AS (SELECT DISTINCT host, gid FROM g
          WHERE kind = 'user-agent' AND val = '*'),
    rules AS (SELECT DISTINCT g.host, g.val AS pfx,
                     g.kind = 'allow' AS allow
              FROM g JOIN m ON g.host = m.host AND g.gid = m.gid
              WHERE g.kind <> 'user-agent' AND g.gid >= 1
                AND g.val <> ''),
    raw AS (SELECT o_orderkey, {_ROBOTS_URL.format(V="VARCHAR")} AS url
            FROM orders),
    p AS (SELECT o_orderkey, url,
            lower(regexp_replace(regexp_replace(
              regexp_extract(regexp_replace(url,
                '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1),
              '^[^@]*@', ''), ':[0-9]*$', '')) AS hostname,
            regexp_replace(regexp_replace(url,
              '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/?#]*', '')
              AS rawpath
          FROM raw),
    q AS (SELECT o_orderkey, url, hostname,
            CASE WHEN starts_with(rawpath, '/') THEN rawpath
                 ELSE '/' || rawpath END AS path
          FROM p),
    cand AS (SELECT q.o_orderkey, q.url, r.pfx, r.allow
             FROM q LEFT JOIN rules r
               ON q.hostname = r.host AND starts_with(q.path, r.pfx)),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY url, o_orderkey
             ORDER BY length(pfx) DESC, allow DESC, pfx DESC) AS rn
           FROM cand)
    SELECT o_orderkey, url,
           COALESCE(allow, true) AS allowed,
           COALESCE(pfx, '') AS matched_prefix
    FROM rk WHERE rn = 1
    """


register("robots_txt_parse_eval", _q_robots_parse, _robots_parse_oracle())


# --------- RFC 9309 §2.2.3 wildcard patterns (robots * and $ matching)

# per-host-class robots docs: trailing-$ anchors, mid-pattern literal
# '$', multi-segment '*', a query-string pattern ('?' must escape), a
# plain prefix as the degenerate pattern, and a host whose only group
# names ANOTHER agent (rules exist, none apply -> default allow)
_ROBOTS_WC_TXT = (
    "CASE h % 6 "
    "WHEN 0 THEN 'User-agent: *' || {NL} || 'Disallow: /*.gif$' || {NL} "
    "|| 'Allow: /img/*.gif$' "
    "WHEN 1 THEN 'User-agent: *' || {NL} || 'Disallow: /p/*/edit' || {NL} "
    "|| 'Allow: /p/' "
    "WHEN 2 THEN 'User-agent: *' || {NL} || 'Disallow: /search$' "
    "WHEN 3 THEN 'User-agent: *' || {NL} || 'Disallow: /a$b' || {NL} "
    "|| 'Disallow: /*sort=' "
    "WHEN 4 THEN 'User-agent: *' || {NL} || 'Disallow: /img/' "
    "ELSE 'User-agent: other' || {NL} || 'Disallow: /' END"
)

# URL paths cycling through the hazard set (k = o_orderkey): an
# allow-overridden .gif vs a blocked one, a literal-$ path, a
# mid-pattern-wildcard edit path, anchored /search vs /search/sub, and
# a query-string page
# NB: the inner alternation keys on (k // 6) % 2, NOT k % 2 — the
# host class is k % 6, so k's parity is CONSTANT per even/odd host
# class and a k%2 branch would never exercise both arms on one host
_ROBOTS_WC_PATH = (
    "CASE (o_orderkey // 6) % 5 "
    "WHEN 0 THEN CASE WHEN (o_orderkey // 6) % 2 = 0 "
    "  THEN '/img/p' || CAST(o_orderkey AS {V}) || '.gif' "
    "  ELSE '/pics/p' || CAST(o_orderkey AS {V}) || '.gif' END "
    "WHEN 1 THEN '/a$b/' || CAST(o_orderkey AS {V}) "
    "WHEN 2 THEN '/p/' || CAST(o_orderkey AS {V}) || '/edit' "
    "WHEN 3 THEN CASE WHEN (o_orderkey // 6) % 2 = 0 THEN '/search' "
    "  ELSE '/search/sub' || CAST(o_orderkey AS {V}) END "
    "ELSE '/items?sort=asc&id=' || CAST(o_orderkey AS {V}) END"
)


def _q_robots_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 §2.2.3 wildcard evaluation end to end: raw robots.txt
    with '*'/'$' path patterns -> parse_robots_txt (pattern-agnostic)
    -> robots_filter(wildcards=True): each rule compiles once to an
    anchored regex on the broadcast side, specificity = pattern-octet
    length with Allow winning ties. The fixture plants every pattern
    hazard: trailing-$ anchor (hit and near-miss), '$' as a literal
    mid-pattern, '*' spanning path segments, a regex-metachar-bearing
    query pattern, the degenerate plain prefix, and a host whose only
    group names another agent (default allow despite rules)."""
    from gcp_etl_pipeline_spark.operators import curation as _cur

    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    hosts = orders.select(
        (F.col("o_orderkey") % 6).alias("h")
    ).distinct()
    docs = hosts.select(
        F.concat(F.lit("w"), F.col("h").cast("string"), F.lit(".test"))
        .alias("host"),
        F.expr(_ROBOTS_WC_TXT.replace("{NL}", "chr(10)")).alias(
            "robots_txt"
        ),
    )
    rules = _cur.parse_robots_txt(docs)
    urls = orders.select(
        "o_orderkey",
        F.concat(
            F.lit("https://w"),
            (F.col("o_orderkey") % 6).cast("string"),
            F.lit(".test"),
            F.expr(
                _ROBOTS_WC_PATH.replace("//", "DIV").format(V="STRING")
            ),
        ).alias("url"),
    )
    return _cur.robots_filter(urls, rules, wildcards=True).select(
        "o_orderkey", "url", "allowed", "matched_prefix"
    )


def _robots_wildcard_oracle() -> str:
    txt = _ROBOTS_WC_TXT.replace("{NL}", "chr(10)")
    path = _ROBOTS_WC_PATH.format(V="VARCHAR")
    # RE2 twin of robots_pattern_regex: strip a trailing '$' (it
    # becomes the end anchor), escape every regex metachar EXCEPT '*',
    # then widen '*' to '.*' and re-anchor. Metachar class + backslash
    # replacement kept out of the f-string so no brace/backslash
    # doubling obscures them.
    esc_cls = r"([.^$+?(){}\[\]\\|])"
    esc_rep = r"\\\1"
    return f"""
    WITH hosts AS (SELECT DISTINCT o_orderkey % 6 AS h FROM orders),
    docs AS (SELECT 'w' || CAST(h AS VARCHAR) || '.test' AS host,
                    {txt} AS txt
             FROM hosts),
    ls AS (SELECT host, string_split_regex(txt, '\\r?\\n') AS arr
           FROM docs),
    l AS (SELECT host,
            CAST(unnest(range(len(arr))) AS BIGINT) AS no,
            trim(regexp_replace(unnest(arr), '#.*$', '')) AS clean
          FROM ls),
    d0 AS (SELECT host, no,
             lower(regexp_extract(clean, '^\\s*([A-Za-z-]+)\\s*:', 1))
               AS kind,
             trim(regexp_replace(clean, '^\\s*[A-Za-z-]+\\s*:', ''))
               AS val
           FROM l),
    d AS (SELECT * FROM d0
          WHERE kind IN ('user-agent', 'allow', 'disallow')),
    d1 AS (SELECT *,
             COALESCE(LAG(kind) OVER (PARTITION BY host ORDER BY no), '')
               AS prev_kind
           FROM d),
    g AS (SELECT *,
            SUM(CASE WHEN kind = 'user-agent'
                      AND prev_kind <> 'user-agent'
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY host ORDER BY no
                    ROWS UNBOUNDED PRECEDING) AS gid
          FROM d1),
    m AS (SELECT DISTINCT host, gid FROM g
          WHERE kind = 'user-agent' AND val = '*'),
    rules AS (SELECT DISTINCT g.host, g.val AS pfx,
                     g.kind = 'allow' AS allow
              FROM g JOIN m ON g.host = m.host AND g.gid = m.gid
              WHERE g.kind <> 'user-agent' AND g.gid >= 1
                AND g.val <> ''),
    rx AS (SELECT host, pfx, allow,
             '^' || replace(regexp_replace(
               CASE WHEN pfx LIKE '%$'
                    THEN substr(pfx, 1, length(pfx) - 1) ELSE pfx END,
               '{esc_cls}', '{esc_rep}', 'g'), '*', '.*')
             || CASE WHEN pfx LIKE '%$' THEN '$' ELSE '' END AS rex
           FROM rules),
    u AS (SELECT o_orderkey,
            'w' || CAST(o_orderkey % 6 AS VARCHAR) || '.test'
              AS hostname,
            {path} AS pth
          FROM orders),
    cand AS (SELECT u.o_orderkey,
               'https://' || u.hostname || u.pth AS url,
               r.pfx, r.allow
             FROM u LEFT JOIN rx r
               ON u.hostname = r.host AND regexp_matches(u.pth, r.rex)),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
             ORDER BY length(pfx) DESC, allow DESC, pfx DESC) AS rn
           FROM cand)
    SELECT o_orderkey, url,
           COALESCE(allow, true) AS allowed,
           COALESCE(pfx, '') AS matched_prefix
    FROM rk WHERE rn = 1
    """


register(
    "robots_wildcard_eval", _q_robots_wildcard, _robots_wildcard_oracle()
)


# ----------- RSS 2.0 / Atom feed discovery (the other standing channel)

# per-entry markup: even host classes publish RSS items (text-node
# <link>, IMF-fixdate <pubDate>), odd classes publish Atom entries
# (href ATTRIBUTE links, ISO 8601 <updated>); every third entry has no
# date, every seventh Atom entry has a rel-only <link> with no href —
# the ragged shapes per-element sub-extraction must never misalign
_FEED_URL = (
    "'HTTPS://Host' || CAST(o_orderkey % 8 AS {V}) || '.Example.org/a/'"
    " || CAST(o_orderkey AS {V}) || '/'"
)
_FEED_ITEM = (
    "CASE WHEN (o_orderkey % 8) % 2 = 0 THEN "
    "'<item><title>t' || CAST(o_orderkey AS {V}) || '</title><link> '"
    " || {URL} || ' </link>' || "
    "CASE WHEN o_orderkey % 3 = 0 THEN '' "
    "ELSE '<pubDate>' || {FMT_IMF} || '</pubDate>' END || '</item>' "
    "ELSE "
    "'<entry><title>t' || CAST(o_orderkey AS {V}) || '</title>' || "
    "CASE WHEN o_orderkey % 7 = 0 THEN "
    "'<link rel=' || chr(34) || 'alternate' || chr(34) || '/>' "
    "ELSE '<link href=' || chr(34) || {URL} || chr(34) || '/>' END || "
    "CASE WHEN o_orderkey % 3 = 0 THEN '' "
    "ELSE '<updated>' || {FMT_ISO} || '</updated>' END || '</entry>' "
    "END"
)


def _feed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed fixture: per-host (host_id, xml) RSS/Atom documents."""
    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    # feed clock rebased into the fetch-log window (Jan 2024 + ~34
    # days): TPC-H orderdates live in the 1990s, which would leave
    # every published hint older than every observed fetch — the
    # recrawl_feed_boost jump branch could never fire
    es = "(1704067200 + (o_orderkey * 40009) % 3000000)"
    imf = (
        "date_format(timestamp_seconds(" + es + "),"
        " 'EEE, dd MMM yyyy HH:mm:ss') || ' GMT'"
    )
    iso = (
        "date_format(timestamp_seconds(" + es + "),"
        " 'yyyy-MM-dd') || 'T' || "
        "date_format(timestamp_seconds(" + es + "), 'HH:mm:ss') || 'Z'"
    )
    item = _FEED_ITEM.format(
        V="STRING", URL=_FEED_URL.format(V="STRING"),
        FMT_IMF=imf, FMT_ISO=iso,
    )
    entries = orders.select(
        (F.col("o_orderkey") % 8).alias("host_id"),
        F.col("o_orderkey").alias("k"),
        F.expr(item).alias("entry"),
    )
    feeds = entries.groupBy("host_id").agg(
        F.concat(
            F.when(
                F.col("host_id") % 2 == 0,
                F.lit('<rss version="2.0"><channel>'),
            ).otherwise(
                F.lit('<feed xmlns="http://www.w3.org/2005/Atom">')
            ),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "entry"))),
                    lambda st: st["entry"],
                ),
                "",
            ),
            F.when(
                F.col("host_id") % 2 == 0, F.lit("</channel></rss>")
            ).otherwise(F.lit("</feed>")),
        ).alias("xml")
    )
    return feeds


def _q_feed_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-based discovery end to end: per-host RSS 2.0 / Atom feed
    documents -> parse_feed (root-element kind sniff, whole-element
    explode, per-element link/date sub-extraction) -> normalized page
    URLs + published epochs (IMF-fixdate pubDate for RSS, ISO 8601
    updated for Atom — both GENERATED engine-side from epoch seconds
    so the format round-trips through the differential gate). Ragged
    entries survive: no-date rows carry published_s = -1, rel-only
    Atom links carry url = ''."""
    return feed_discovery_stage(_feed_docs(spark, sf_dir))


def feed_discovery_stage(feeds: DataFrame) -> DataFrame:
    """The per-host feed-discovery chain over an ALREADY-LOADED
    (host_id, xml) frame: parse_feed -> normalized URLs + published
    epochs. Per-host stateless, so the streaming twin's micro-batch
    union equals the batch run — shared by both."""
    from gcp_etl_pipeline_spark.operators import text as _text

    parsed = _text.parse_feed(feeds, "xml")
    wd_strip = F.regexp_replace("published", r"^[A-Za-z]{3},[ ]", "")
    pub_s = F.when(
        F.col("published") == "", F.lit(None).cast("bigint")
    ).otherwise(
        F.when(
            F.col("kind") == "rss",
            F.unix_timestamp(wd_strip, "dd MMM yyyy HH:mm:ss 'GMT'"),
        ).otherwise(
            F.unix_timestamp(
                F.col("published"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
            )
        )
    )
    return parsed.select(
        "host_id",
        "entry_no",
        "kind",
        F.when(F.col("link") == "", F.lit("")).otherwise(
            _text.normalize_url("link")
        ).alias("url"),
        F.coalesce(pub_s, F.lit(-1)).cast("bigint").alias("published_s"),
    )


def feed_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached SOURCE DIRECTORY for the streaming feed twin:
    the per-host feed documents split into two host_id-ordered,
    mtime-ordered parquet files."""
    return _two_file_stream_src(
        spark, "feedsrc", sf_dir,
        lambda: _key_halves(_feed_docs(spark, sf_dir), "host_id"),
    )


def _feed_disc_ctes() -> str:
    """The feed-discovery oracle chain ending in `fd` (host_id,
    entry_no, kind, url, published_s) — factored so the recrawl
    composition grades against the IDENTICAL parse."""
    wd = "'^[A-Za-z]{3}, '"
    es = "(1704067200 + (o_orderkey * 40009) % 3000000)"
    imf = (
        "strftime(make_timestamp((" + es + ") * 1000000),"
        " '%a, %d %b %Y %H:%M:%S') || ' GMT'"
    )
    iso = (
        "strftime(make_timestamp((" + es + ") * 1000000),"
        " '%Y-%m-%dT%H:%M:%SZ')"
    )
    item = _FEED_ITEM.format(
        V="VARCHAR", URL=_FEED_URL.format(V="VARCHAR"),
        FMT_IMF=imf, FMT_ISO=iso,
    )
    from gcp_etl_pipeline_spark.operators import text as _text

    rss_doc = _sql_lit(_text.FEED_RSS_DOC_RE)
    rss_item = _sql_lit(_text.FEED_RSS_ITEM_RE)
    atom_entry = _sql_lit(_text.FEED_ATOM_ENTRY_RE)
    rss_link = _sql_lit(_text.FEED_RSS_LINK_RE)
    rss_pub = _sql_lit(_text.FEED_RSS_PUBDATE_RE)
    atom_href = _sql_lit(_text.FEED_ATOM_HREF_RE)
    atom_upd = _sql_lit(_text.FEED_ATOM_UPDATED_RE)
    return f"""e AS (SELECT o_orderkey % 8 AS host_id, o_orderkey AS k,
                 {item} AS entry
               FROM orders),
    feeds AS (SELECT host_id,
                CASE WHEN host_id % 2 = 0
                     THEN '<rss version="2.0"><channel>'
                     ELSE '<feed xmlns="http://www.w3.org/2005/Atom">'
                END || string_agg(entry, '' ORDER BY k) ||
                CASE WHEN host_id % 2 = 0 THEN '</channel></rss>'
                     ELSE '</feed>' END AS xml
              FROM e GROUP BY 1),
    kd AS (SELECT host_id, xml,
             regexp_matches(xml, {rss_doc}) AS is_rss
           FROM feeds),
    el AS (SELECT host_id, is_rss,
             CASE WHEN is_rss
                  THEN regexp_extract_all(xml, {rss_item}, 1)
                  ELSE regexp_extract_all(xml, {atom_entry}, 1)
             END AS entries
           FROM kd),
    x AS (SELECT host_id, is_rss,
            CAST(unnest(range(len(entries))) AS BIGINT) AS entry_no,
            unnest(entries) AS el
          FROM el),
    ff AS (SELECT host_id, entry_no,
            CASE WHEN is_rss THEN 'rss' ELSE 'atom' END AS kind,
            CASE WHEN is_rss THEN regexp_extract(el, {rss_link}, 1)
                 ELSE regexp_extract(el, {atom_href}, 1) END AS link,
            CASE WHEN is_rss THEN regexp_extract(el, {rss_pub}, 1)
                 ELSE regexp_extract(el, {atom_upd}, 1) END AS pub
          FROM x),
    n AS (SELECT host_id, entry_no, kind, pub,
            lower(regexp_extract(link, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
              AS scheme,
            regexp_replace(link, '^[A-Za-z][A-Za-z0-9+.-]*://', '')
              AS rest,
            link
          FROM ff),
    n2 AS (SELECT host_id, entry_no, kind, pub, link, scheme,
             lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS auth,
             regexp_replace(regexp_replace(rest, '^[^/?#]*', ''),
                            '#.*$', '') AS tail
           FROM n),
    n3 AS (SELECT host_id, entry_no, kind, pub,
             CASE WHEN link = '' THEN '' ELSE
               scheme || '://' ||
               CASE WHEN scheme = 'http'
                    THEN regexp_replace(auth, ':80$', '')
                    WHEN scheme = 'https'
                    THEN regexp_replace(auth, ':443$', '')
                    ELSE auth END ||
               regexp_replace(regexp_extract(tail, '^([^?]*)', 1),
                              '/+$', '')
               || regexp_replace(tail, '^[^?]*', '')
             END AS url
           FROM n2),
    fd AS (SELECT host_id, entry_no, kind, url,
           CAST(COALESCE(CASE WHEN pub = '' THEN NULL
             WHEN kind = 'rss' THEN
               CAST(epoch(try_strptime(regexp_replace(pub, {wd}, ''),
                 '%d %b %Y %H:%M:%S GMT')) AS BIGINT)
             ELSE
               CAST(epoch(try_strptime(pub, '%Y-%m-%dT%H:%M:%SZ'))
                 AS BIGINT)
             END, -1) AS BIGINT) AS published_s
    FROM n3)"""


def _feed_discovery_oracle() -> str:
    return f"""
    WITH {_feed_disc_ctes()}
    SELECT host_id, entry_no, kind, url, published_s FROM fd
    """


register("feed_discovery", _q_feed_discovery, _feed_discovery_oracle())


# -------- feed autodiscovery from HTML <link> elements

# fixture hazards per doc class: 0 = plain double-quoted rss link;
# 1 = UPPERCASE attribute names, single quotes, scrambled attribute
# order, multi-token rel ('alternate home'); 2 = decoys only — a
# stylesheet link and rel='alternates' (the word-boundary near-miss);
# 3 = two feeds on one page (rss then atom, document order graded)
_FEEDLINK_HTML = (
    "'<html><head><title>d' || CAST(doc_id AS {V}) || '</title>' || "
    "CASE doc_id % 4 "
    "WHEN 0 THEN '<link rel=' || {DQ} || 'alternate' || {DQ} "
    "|| ' type=' || {DQ} || 'application/rss+xml' || {DQ} "
    "|| ' href=' || {DQ} || 'https://h' || CAST(doc_id % 8 AS {V}) "
    "|| '.test/feed.xml' || {DQ} || '>' "
    "WHEN 1 THEN '<LINK TYPE=' || {SQ} || 'application/atom+xml' || {SQ} "
    "|| ' HREF=' || {SQ} || '/a' || CAST(doc_id AS {V}) || '.xml' || {SQ} "
    "|| ' REL=' || {SQ} || 'alternate home' || {SQ} || '>' "
    "WHEN 2 THEN '<link rel=' || {DQ} || 'stylesheet' || {DQ} "
    "|| ' href=' || {DQ} || '/s.css' || {DQ} || '>' "
    "|| '<link rel=' || {DQ} || 'alternates' || {DQ} || ' type=' "
    "|| {DQ} || 'application/rss+xml' || {DQ} || ' href=' || {DQ} "
    "|| '/no.xml' || {DQ} || '>' "
    "ELSE '<link rel=' || {DQ} || 'alternate' || {DQ} || ' type=' "
    "|| {DQ} || 'application/rss+xml' || {DQ} || ' href=' || {DQ} "
    "|| '/f1.xml' || {DQ} || '>' "
    "|| '<link rel=' || {DQ} || 'alternate' || {DQ} || ' type=' "
    "|| {DQ} || 'application/atom+xml' || {DQ} || ' href=' || {DQ} "
    "|| '/f2.xml' || {DQ} || '>' END "
    "|| '</head><body><a href=' || {DQ} || '/x' || {DQ} "
    "|| '>y</a></body></html>'"
)


def _q_feed_autodiscovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed autodiscovery from page markup — how a crawler finds the
    feeds `feed_discovery` then consumes: whole <link ...> elements
    extract, rel/type/href sub-extract per element in either quote
    style and any attribute order, and a tag qualifies iff rel carries
    the 'alternate' token (word match — 'alternates' must not) with a
    feed MIME type. Raw hrefs (base-URL resolution is the frontier's
    step), document order per page."""
    from gcp_etl_pipeline_spark.operators import text as _text

    docs = _docs(spark, sf_dir)
    html = docs.select(
        "doc_id",
        F.expr(
            _FEEDLINK_HTML.format(
                V="STRING", DQ="chr(34)", SQ="chr(39)"
            )
        ).alias("html"),
    )
    return _text.feed_links(html, "html")


def _feed_autodiscovery_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    tag_re = _sql_lit(_text.FEED_LINK_TAG_RE)

    def attr(name: str) -> str:
        dq = _sql_lit(_text._ATTR_DQ.format(name=name))
        sq = _sql_lit(_text._ATTR_SQ.format(name=name))
        return (
            f"CASE WHEN regexp_extract(tag, {dq}, 1) <> '' "
            f"THEN regexp_extract(tag, {dq}, 1) "
            f"ELSE regexp_extract(tag, {sq}, 1) END"
        )

    html = _FEEDLINK_HTML.format(V="VARCHAR", DQ="chr(34)", SQ="chr(39)")
    return f"""
    WITH h AS (SELECT doc_id, {html} AS html FROM documents),
    tt AS (SELECT doc_id,
             regexp_extract_all(html, {tag_re}, 1) AS tags
           FROM h),
    t AS (SELECT doc_id,
            CAST(unnest(range(len(tags))) AS BIGINT) AS tagno,
            unnest(tags) AS tag
          FROM tt),
    a AS (SELECT doc_id, tagno,
            lower({attr('rel')}) AS rel,
            lower({attr('type')}) AS typ,
            {attr('href')} AS href
          FROM t),
    q AS (SELECT doc_id, tagno, href,
            CASE typ WHEN 'application/rss+xml' THEN 'rss'
                     WHEN 'application/atom+xml' THEN 'atom' END AS kind
          FROM a
          WHERE typ IN ('application/rss+xml', 'application/atom+xml')
            AND regexp_matches(rel, '(^|\\s)alternate($|\\s)'))
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tagno)
                - 1 AS BIGINT) AS link_no,
           kind, href
    FROM q
    """


register(
    "feed_autodiscovery", _q_feed_autodiscovery,
    _feed_autodiscovery_oracle(),
)


def _q_recrawl_feed_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed freshness composed into the recrawl scheduler — the
    sitemap_boost operator applied to the OTHER discovery channel:
    RSS/Atom <pubDate>/<updated> hints (µs epochs) jump a URL's due
    queue when the feed declares a publication after our last
    observed fetch. One operator, two hint sources — the composition
    seam is the point. URL contract: fetch-log url_id maps to
    https://host{{url_id % 8}}.example.org/a/{{url_id}}, the feed
    fixture's page universe."""
    from gcp_etl_pipeline_spark.operators import curation as _cur

    ev = _scan(spark, f"{sf_dir}/events.parquet")
    fetches = ev.select(
        F.expr(_FETCH_URL_ID).alias("url_id"),
        "ts",
        F.col("event_id").alias("fetch_id"),
        F.expr(
            _FETCH_FP.format(
                V="STRING",
                EU="unix_micros(CAST(ts AS TIMESTAMP))",
                IDIV="DIV",
            )
        ).alias("content_fp"),
    )
    sched = _cur.recrawl_schedule(fetches)
    last = fetches.groupBy("url_id").agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp")))
        .cast("bigint")
        .alias("last_fetch_us")
    )
    hints = (
        _q_feed_discovery(spark, sf_dir)
        .where((F.col("published_s") != -1) & (F.col("url") != ""))
        .select(
            "url",
            (F.col("published_s") * F.lit(1_000_000)).alias("lastmod_us"),
        )
    )
    keyed = sched.join(last, "url_id").withColumn(
        "url",
        F.concat(
            F.lit("https://host"),
            (F.col("url_id") % 8).cast("string"),
            F.lit(".example.org/a/"),
            F.col("url_id").cast("string"),
        ),
    )
    return _cur.sitemap_boost(keyed, hints).select(
        "url_id",
        "n_fetches",
        "recrawl_tier",
        "recrawl_interval_us",
        "last_fetch_us",
        F.col("sitemap_lastmod_us").alias("feed_published_us"),
        F.col("sitemap_jump").alias("feed_jump"),
        "next_due_us",
    )


def _recrawl_feed_boost_oracle() -> str:
    return f"""
    WITH {_recrawl_ctes()},
    lastf AS (SELECT url_id, MAX(epoch_us(ts)) AS last_fetch_us
              FROM f GROUP BY 1),
    {_feed_disc_ctes()},
    hints AS (SELECT url,
                published_s * CAST(1000000 AS BIGINT) AS lastmod_us
              FROM fd WHERE published_s <> -1 AND url <> ''),
    keyed AS (SELECT s.*, l.last_fetch_us,
                'https://host' || CAST(s.url_id % 8 AS VARCHAR)
                || '.example.org/a/' || CAST(s.url_id AS VARCHAR) AS url
              FROM sched s JOIN lastf l USING (url_id))
    SELECT k.url_id, k.n_fetches, k.recrawl_tier, k.recrawl_interval_us,
           CAST(k.last_fetch_us AS BIGINT) AS last_fetch_us,
           CAST(COALESCE(h.lastmod_us, -1) AS BIGINT)
             AS feed_published_us,
           (h.lastmod_us IS NOT NULL
            AND h.lastmod_us > k.last_fetch_us) AS feed_jump,
           CAST(CASE WHEN h.lastmod_us IS NOT NULL
                          AND h.lastmod_us > k.last_fetch_us
                     THEN k.last_fetch_us
                     ELSE k.last_fetch_us + k.recrawl_interval_us
                END AS BIGINT) AS next_due_us
    FROM keyed k LEFT JOIN hints h USING (url)
    """


register(
    "recrawl_feed_boost", _q_recrawl_feed_boost,
    _recrawl_feed_boost_oracle(),
)


def recrawl_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached source directory for the streaming recrawl twin:
    the fetch-log fixture split into two TIME-ordered, mtime-ordered
    parquet files at the epoch midpoint (b0: us <= mid, b1: us > mid —
    a strict time split, so the state merge's boundary comparison sees
    true consecutive fetches and converges to the batch chain)."""

    def halves() -> list[DataFrame]:
        # plain read, NOT _scan: single-task coalesce(1) landing — see
        # frontier_stream_src's carve-out comment
        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        fetches = ev.select(
            F.expr(_FETCH_URL_ID).alias("url_id"),
            "ts",
            F.col("event_id").alias("fetch_id"),
            F.expr(
                _FETCH_FP.format(
                    V="STRING",
                    EU="unix_micros(CAST(ts AS TIMESTAMP))",
                    IDIV="DIV",
                )
            ).alias("content_fp"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("__us"),
        )
        lohi = fetches.agg(
            F.min("__us").alias("lo"), F.max("__us").alias("hi")
        ).collect()[0]
        mid = (lohi["lo"] + lohi["hi"]) // 2
        return [
            fetches.where(pred).drop("__us")
            for pred in (f"__us <= {mid}", f"__us > {mid}")
        ]

    return _two_file_stream_src(spark, "recrawlsrc", sf_dir, halves)


# ------------- sentence segmentation + cross-document sentence dedup

# synthetic prose per document: an intro sentence built from the doc's
# own text (unique-ish), an abbreviation trap ("Dr. Smith" must not
# split), a SHARED slogan on doc_id % 3 = 0 (the cross-doc boilerplate
# the dedup share exists to measure), and a unique tail question
_SENT_TEXT = (
    "'Intro about ' || substring(text, 1, 40) || '. ' || "
    "'Dr. Smith said e.g. nothing of note' || "
    "CASE doc_id % 4 WHEN 0 THEN '!' WHEN 1 THEN '?' "
    "WHEN 2 THEN '...' ELSE '.' END || ' ' || "
    "CASE WHEN doc_id % 3 = 0 "
    "THEN 'Subscribe to our newsletter today! ' ELSE '' END || "
    "'Unique tail number ' || CAST(doc_id AS {V}) || '?'"
)


def _q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level boilerplate measurement: segment (abbreviation-
    protected sentinel split — RE2-compatible, no lookbehind), then
    fingerprint each sentence and count, per document, how many of its
    sentences appear in 2+ documents — the sub-paragraph memorization/
    slogan signal. Only 32-byte sentence fingerprints shuffle."""
    from gcp_etl_pipeline_spark.operators import text as _text

    # plain read, NOT _scan (A/B): the
    # sentence explode + md5 shrink rows before the df-count shuffle,
    # and the spread exchange shuffled full document payloads for less
    # map work than the exchange cost (2.26 -> 0.99 s warm)
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    prose = docs.select(
        "doc_id", F.expr(_SENT_TEXT.format(V="STRING")).alias("body")
    )
    sent = prose.select(
        "doc_id",
        F.posexplode(_text.sentences("body")).alias("sent_no", "sentence"),
    ).select("doc_id", "sent_no", F.md5("sentence").alias("__fp"))
    df_count = sent.groupBy("__fp").agg(
        F.count_distinct("doc_id").alias("__df")
    )
    per_doc = (
        sent.join(df_count, "__fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sentences"),
            F.sum((F.col("__df") >= 2).cast("bigint"))
            .cast("bigint")
            .alias("n_shared"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_sentences",
        "n_shared",
        F.expr("n_shared * 1000000 div n_sentences")
        .cast("bigint")
        .alias("shared_frac_u"),
    )


def _sentence_dedup_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    ab = _sql_lit(_text.SENT_ABBREV_RE)
    bd = _sql_lit(_text.SENT_BOUNDARY_RE)
    return f"""
    WITH p AS (SELECT doc_id, {_SENT_TEXT.format(V="VARCHAR")} AS body
               FROM documents),
    m AS (SELECT doc_id,
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(body,
                    '[' || chr(0) || chr(1) || ']', '', 'g'),
                  {ab}, '\\1' || chr(1), 'g'),
                {bd}, '\\1' || chr(0), 'g'),
              chr(1), '.', 'g') AS marked
          FROM p),
    arr AS (SELECT doc_id,
              list_filter(list_transform(string_split(marked, chr(0)),
                                         s -> trim(s)),
                          s -> s <> '') AS sents
            FROM m),
    s AS (SELECT doc_id,
            CAST(unnest(range(len(sents))) AS BIGINT) AS sent_no,
            md5(unnest(sents)) AS fp
          FROM arr),
    dfc AS (SELECT fp, COUNT(DISTINCT doc_id) AS df FROM s GROUP BY 1),
    d AS (SELECT s.doc_id,
            COUNT(*) AS n_sentences,
            SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS n_shared
          FROM s JOIN dfc USING (fp) GROUP BY 1)
    SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST(n_shared * 1000000 // n_sentences AS BIGINT)
             AS shared_frac_u
    FROM d
    """


register("sentence_dedup_stats", _q_sentence_dedup, _sentence_dedup_oracle())


# ---------------- fetch-due queue (scheduler -> budgeted fetch list)

_DUE_QUOTA = 20


def _q_fetch_due_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scheduler's OUTPUT actually consumed by a fetcher: per-URL
    recrawl schedule (shared schedule_from_aggregates rules) joined
    back with each URL's last fetch time, due-ness evaluated at a
    deterministic instant (the log's max timestamp), then the due set
    budgeted per host (md5-order quota). Composes three certified
    operators end to end; the oracle replays every stage."""
    from pyspark.sql import Window

    from gcp_etl_pipeline_spark.operators import curation as _cur

    # plain read, NOT _scan (A/B): thin projection
    # straight into window/join exchanges — spread was pure overhead
    # (2.38 -> 1.48 s warm)
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    fetches = ev.select(
        F.expr(_FETCH_URL_ID).alias("url_id"),
        us.alias("__us"),
        F.col("event_id").alias("fetch_id"),
        F.expr(
            _FETCH_FP.format(
                V="STRING",
                EU="unix_micros(CAST(ts AS TIMESTAMP))",
                IDIV="DIV",
            )
        ).alias("content_fp"),
    )
    w = Window.partitionBy("url_id").orderBy("__us", "fetch_id")
    marked = fetches.select(
        "url_id",
        "__us",
        (F.col("content_fp") != F.lag("content_fp").over(w))
        .cast("bigint")
        .alias("__chg"),
    )
    agg = marked.groupBy("url_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fetches"),
        F.sum(F.coalesce("__chg", F.lit(0))).cast("bigint").alias("n_changes"),
        (F.max("__us") - F.min("__us")).alias("span_us"),
        F.max("__us").alias("__last_us"),
    )
    sched = _cur.schedule_from_aggregates(
        agg.select("url_id", "n_fetches", "n_changes", "span_us")
    ).join(agg.select("url_id", "__last_us"), "url_id")
    now = fetches.agg(F.max("__us").alias("__now"))
    due = (
        sched.crossJoin(F.broadcast(now))
        .withColumn(
            "overdue_us",
            (F.col("__now") - F.col("__last_us")
             - F.col("recrawl_interval_us")).cast("bigint"),
        )
        .where(F.col("overdue_us") >= 0)
        .select(
            "url_id",
            F.concat(
                F.lit("https://h"),
                (F.col("url_id") % 7).cast("string"),
                F.lit(".org/u/"),
                F.col("url_id").cast("string"),
            ).alias("url"),
            "recrawl_tier",
            "overdue_us",
        )
    )
    return _cur.per_host_budget(due, "url", quota=_DUE_QUOTA).select(
        "url_id", "url", "host", "recrawl_tier", "overdue_us"
    )


def _fetch_due_oracle() -> str:
    return f"""
    WITH f AS (SELECT {_FETCH_URL_ID} AS url_id, epoch_us(ts) AS us,
                      event_id AS fetch_id,
                      {_FETCH_FP.format(V="VARCHAR", EU="epoch_us(ts)",
                                        IDIV="//")} AS content_fp
               FROM events),
    m AS (SELECT url_id, us,
            CAST(content_fp <> LAG(content_fp) OVER
              (PARTITION BY url_id ORDER BY us, fetch_id)
              AS BIGINT) AS changed
          FROM f),
    a AS (SELECT url_id,
            COUNT(*) AS n_fetches,
            CAST(SUM(COALESCE(changed, 0)) AS BIGINT) AS n_changes,
            MAX(us) - MIN(us) AS span_us,
            MAX(us) AS last_us
          FROM m GROUP BY 1),
    r AS (SELECT *,
            CASE WHEN n_fetches > 1
                 THEN (n_changes * 1000000) // (n_fetches - 1)
                 ELSE 0 END AS change_ratio_u,
            CASE WHEN n_fetches > 1 THEN span_us // (n_fetches - 1)
                 ELSE 0 END AS mean_interval_us
          FROM a),
    s AS (SELECT url_id, last_us,
            CASE WHEN change_ratio_u >= 500000 THEN 'live'
                 WHEN change_ratio_u >= 200000 THEN 'active'
                 WHEN change_ratio_u > 0 THEN 'slow'
                 ELSE 'static' END AS recrawl_tier,
            CAST((CASE WHEN n_fetches > 1 THEN mean_interval_us
                       ELSE 86400000000 END)
                 * (CASE WHEN change_ratio_u >= 500000 THEN 1
                         WHEN change_ratio_u >= 200000 THEN 4
                         WHEN change_ratio_u > 0 THEN 16
                         ELSE 64 END) AS BIGINT) AS interval_us
          FROM r),
    nowt AS (SELECT MAX(us) AS now_us FROM f),
    due AS (SELECT url_id,
              'https://h' || CAST(url_id % 7 AS VARCHAR) || '.org/u/'
                || CAST(url_id AS VARCHAR) AS url,
              recrawl_tier,
              CAST(now_us - last_us - interval_us AS BIGINT) AS overdue_us
            FROM s CROSS JOIN nowt
            WHERE now_us - last_us - interval_us >= 0),
    hosted AS (SELECT *, 'h' || CAST(url_id % 7 AS VARCHAR) || '.org'
                 AS host
               FROM due),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY host
             ORDER BY md5(url), url) AS rn
           FROM hosted)
    SELECT url_id, url, host, recrawl_tier, overdue_us
    FROM rk WHERE rn <= {_DUE_QUOTA}
    """


register("fetch_due_queue", _q_fetch_due_queue, _fetch_due_oracle())


# ------------- adaptive per-host politeness delay (latency-derived)

_DELAY_HOST = "'h' || CAST(user_id % 19 AS {V}) || '.net'"


def _q_host_latency_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive politeness: a crawler sets its per-host delay from the
    host's OBSERVED response latency (slow host -> back off), here
    delay = clamp(2 x exact p95 latency, 1s, 60s). The p95 is the
    exact order statistic (rank ceil(0.95 n), latency ties broken by
    event id — deterministic under any partitioning), latencies held
    as exact integer centiseconds. One window pass + one host-sized
    aggregate."""
    from pyspark.sql import Window

    # plain read, NOT _scan (A/B, a thin aggregate): the
    # one light projection lands in a host-window shuffle anyway
    # (0.87 -> 0.55 s warm)
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    f = ev.select(
        F.expr(_DELAY_HOST.format(V="STRING")).alias("host"),
        F.round(F.col("value") * 100).cast("bigint").alias("lat_c"),
        "event_id",
    )
    w = Window.partitionBy("host").orderBy("lat_c", "event_id")
    ranked = f.select(
        "host",
        "lat_c",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy("host")).alias("__n"),
    )
    # integer ceil(n*95/100) = (n*95 + 99) DIV 100 — integer DIV, a
    # float division's rounding could pick the wrong order statistic
    p95 = ranked.where(
        F.col("__rn") == F.expr("CAST((__n * 95 + 99) DIV 100 AS BIGINT)")
    )
    return p95.select(
        "host",
        F.col("__n").cast("bigint").alias("n_fetches"),
        F.col("lat_c").alias("p95_latency_c"),
        F.greatest(
            F.lit(100),
            F.least(F.lit(6000), (F.col("lat_c") * 2).cast("bigint")),
        )
        .cast("bigint")
        .alias("crawl_delay_c"),
    )


def _host_latency_oracle() -> str:
    return f"""
    WITH f AS (SELECT {_DELAY_HOST.format(V="VARCHAR")} AS host,
                      CAST(ROUND(value * 100) AS BIGINT) AS lat_c,
                      event_id
               FROM events),
    r AS (SELECT host, lat_c,
            ROW_NUMBER() OVER (PARTITION BY host
                               ORDER BY lat_c, event_id) AS rn,
            COUNT(*) OVER (PARTITION BY host) AS n
          FROM f)
    SELECT host, CAST(n AS BIGINT) AS n_fetches,
           lat_c AS p95_latency_c,
           CAST(GREATEST(100, LEAST(6000, lat_c * 2)) AS BIGINT)
             AS crawl_delay_c
    FROM r WHERE rn = (n * 95 + 99) // 100
    """


register("host_latency_delay", _q_host_latency_delay, _host_latency_oracle())


# ------------- per-paragraph language mixture (monolingual hygiene)

# paragraphed fixture: the doc's own (English-marker) text, then a
# planted second paragraph by doc_id % 4 — Spanish, German, French, or
# none — plus a marker-free paragraph ('und') on doc_id % 5 = 0
_MIXED_BODY = (
    "text || CASE doc_id % 4 "
    "WHEN 1 THEN {NL} || {NL} || 'el gato y la casa de los vecinos que ven' "
    "WHEN 2 THEN {NL} || {NL} || 'der hund und die katze das ist gut und der tag' "
    "WHEN 3 THEN {NL} || {NL} || 'le chat et les chiens des villes est grand' "
    "ELSE '' END || "
    "CASE WHEN doc_id % 5 = 0 THEN {NL} || {NL} || 'zzz qqq 123 xxyy' "
    "ELSE '' END"
)


def _q_lang_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture detection at PARAGRAPH granularity — the
    monolingual-corpus hygiene gate document-level language ID cannot
    provide (a doc that is half English half Spanish IDs as one or the
    other and poisons both corpora). Paragraph posexplode, per-row
    language ID, then a per-doc rollup: paragraph count, distinct
    identified languages ('und' excluded), dominant first paragraph
    language, mixed flag.

    The earlier array form (transform(paras, lang_id) materialized as
    __langs and referenced 5x downstream) let CollapseProject re-inline
    the per-paragraph transform into every reference — the documented
    re-inlining trap, third instance (html extraction, bigram
    surprisal). The Generate node from posexplode is the barrier:
    lang_id runs once per paragraph ROW, and the rollup shuffles only
    tiny (doc_id, pno, plang) rows — 4.3s -> 0.55s at sf0.1.
    Zero-paragraph documents emit no row (the oracle rolls up from
    per-paragraph rows, so an all-whitespace body is absent there)."""
    from gcp_etl_pipeline_spark.operators import text as _text

    docs = _scan(spark, f"{sf_dir}/documents.parquet")
    body = docs.select(
        "doc_id",
        F.expr(_MIXED_BODY.format(NL="chr(10)")).alias("body"),
    )
    paras = F.filter(
        F.transform(F.split("body", "\n\n"), lambda p: F.trim(p)),
        lambda p: p != "",
    )
    pl = body.select(
        "doc_id", F.posexplode(paras).alias("pno", "para")
    ).select("doc_id", "pno", _text.lang_id("para").alias("plang"))
    ided = F.when(F.col("plang") != "und", F.col("plang"))
    return pl.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paragraphs"),
        F.count_distinct(ided).cast("bigint").alias("n_langs"),
        F.min(F.when(F.col("pno") == 0, F.col("plang")))
        .alias("primary_lang"),
        (F.count_distinct(ided) >= 2).alias("is_mixed"),
    )


def _lang_mixture_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    codes = sorted(_text.LANG_MARKERS)
    hit_cols = ", ".join(
        "len(list_filter(ptoks, t -> t IN ({}))) AS h_{}".format(
            ", ".join(f"'{w}'" for w in _text.LANG_MARKERS[c]), c
        )
        for c in codes
    )
    steps, prev_h, prev_c = [], f"h_{codes[0]}", f"'{codes[0]}'"
    for i, c in enumerate(codes[1:], 1):
        steps.append(
            f"w{i} AS (SELECT *, CASE WHEN h_{c} > {prev_h} "
            f"THEN h_{c} ELSE {prev_h} END AS bh{i}, "
            f"CASE WHEN h_{c} > {prev_h} THEN '{c}' ELSE {prev_c} END "
            f"AS bc{i} FROM {'phits' if i == 1 else f'w{i - 1}'})"
        )
        prev_h, prev_c = f"bh{i}", f"bc{i}"
    n = len(codes) - 1
    return f"""
    WITH b AS (SELECT doc_id, {_MIXED_BODY.format(NL="chr(10)")} AS body
               FROM documents),
    pa AS (SELECT doc_id,
             list_filter(list_transform(
               string_split(body, chr(10) || chr(10)), p -> trim(p)),
               p -> p <> '') AS paras
           FROM b),
    p AS (SELECT doc_id,
            CAST(unnest(range(len(paras))) AS BIGINT) AS pno,
            unnest(paras) AS para
          FROM pa),
    ptok AS (SELECT doc_id, pno,
               list_filter(string_split_regex(lower(para), '[^a-z0-9]+'),
                           t -> t <> '') AS ptoks
             FROM p),
    phits AS (SELECT doc_id, pno, {hit_cols} FROM ptok),
    {",".join(steps)},
    pl AS (SELECT doc_id, pno,
             CASE WHEN bh{n} > 0 THEN bc{n} ELSE 'und' END AS plang
           FROM w{n})
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(COUNT(DISTINCT CASE WHEN plang <> 'und' THEN plang END)
                AS BIGINT) AS n_langs,
           MIN(CASE WHEN pno = 0 THEN plang END) AS primary_lang,
           COUNT(DISTINCT CASE WHEN plang <> 'und' THEN plang END) >= 2
             AS is_mixed
    FROM pl GROUP BY doc_id
    """


register("doc_lang_mixture", _q_lang_mixture, _lang_mixture_oracle())


# ---------- robots.txt Sitemap: directive discovery (RFC 9309 §2.3)

# one robots document per order key (documents stay host-sized; the
# HOST COUNT scales). Classes plant the extraction hazards: 0 = the
# directive INSIDE a User-agent group (other records bind to the
# document, not the group) + uppercase scheme/host needing
# canonicalization; 1 = a directive BEFORE any group + case-variant
# directive names + an inline comment after the URL; 2 = a relative
# value (no defined base in robots.txt -> drops, host absent);
# 3 = no sitemap line at all (host absent); 4 = two values that are
# trailing-slash/scheme-case twins and must collapse to ONE row after
# normalize_url.
_ROBOTS_SM_TXT = (
    "CASE o_orderkey % 5 "
    "WHEN 0 THEN 'User-agent: *' || {NL} || 'Disallow: /x' || {NL} || "
    "'Sitemap: HTTPS://H' || CAST(o_orderkey AS {V}) "
    "|| '.Test/maps/sitemap.xml' "
    "WHEN 1 THEN 'sitemap: https://h' || CAST(o_orderkey AS {V}) "
    "|| '.test/sm1.xml' || {NL} || 'User-agent: *' || {NL} "
    "|| 'Disallow: /' || {NL} || 'SITEMAP: https://h' "
    "|| CAST(o_orderkey AS {V}) || '.test/sm2.xml   # weekly' "
    "WHEN 2 THEN 'Sitemap: /sitemap.xml' || {NL} || 'User-agent: *' "
    "|| {NL} || 'Allow: /' "
    "WHEN 3 THEN 'User-agent: *' || {NL} || 'Disallow: /tmp' "
    "ELSE 'Sitemap: https://h' || CAST(o_orderkey AS {V}) "
    "|| '.test/dup.xml/' || {NL} || 'Sitemap: HTTPS://h' "
    "|| CAST(o_orderkey AS {V}) || '.test/dup.xml' END"
)


def _q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from raw robots.txt: the RFC 9309 §2.3 'other
    records' extraction — group-independent, case-insensitive directive
    name, comment strip, absolute-URL gate — then normalize_url
    canonicalization and per-host dedup. The hand-off that feeds
    sitemap_url_extract / sitemap_index_expand's front door."""
    from gcp_etl_pipeline_spark.operators import curation as _cur

    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    docs = orders.select(
        F.concat(
            F.lit("h"), F.col("o_orderkey").cast("string"), F.lit(".test")
        ).alias("host"),
        F.expr(_ROBOTS_SM_TXT.format(NL="chr(10)", V="STRING")).alias(
            "robots_txt"
        ),
    )
    return _cur.robots_sitemaps(docs)


def _robots_sitemaps_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import curation as _cur

    return f"""
    WITH docs AS (SELECT 'h' || CAST(o_orderkey AS VARCHAR) || '.test'
                           AS host,
                         {_ROBOTS_SM_TXT.format(NL="chr(10)", V="VARCHAR")}
                           AS txt
                  FROM orders),
    l AS (SELECT host,
            trim(regexp_replace(
              unnest(string_split_regex(txt, '\\r?\\n')), '#.*$', ''))
              AS clean
          FROM docs),
    d AS (SELECT host,
            lower(regexp_extract(clean,
              {_sql_lit(_cur.ROBOTS_DIRECTIVE_RE)}, 1)) AS kind,
            trim(regexp_replace(clean, '^\\s*[A-Za-z-]+\\s*:', '')) AS val
          FROM l),
    s AS (SELECT host, val FROM d
          WHERE kind = 'sitemap'
            AND regexp_matches(val,
                  {_sql_lit(_cur.ROBOTS_SITEMAP_ABS_RE)})),
    n AS (SELECT host,
            lower(regexp_extract(val, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
              AS scheme,
            regexp_replace(val, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
          FROM s),
    n2 AS (SELECT host, scheme,
             lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS auth,
             regexp_replace(regexp_replace(rest, '^[^/?#]*', ''),
                            '#.*$', '') AS tail
           FROM n),
    n3 AS (SELECT host,
             scheme || '://' ||
             CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
                  WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
                  ELSE auth END ||
             regexp_replace(regexp_extract(tail, '^([^?]*)', 1), '/+$', '')
             || regexp_replace(tail, '^[^?]*', '') AS sitemap_url
           FROM n2)
    SELECT DISTINCT host, sitemap_url FROM n3
    """


register(
    "robots_sitemap_discover", _q_robots_sitemaps, _robots_sitemaps_oracle()
)


# --------------- HTML table extraction (structured-data harvest)

# one document per order key, two tables each, planting the framing
# hazards: mixed-case tags (<TABLE>/<TR>/<TH>), attribute noise, a
# <thead>/<tbody> wrapper (must pass through — only tr/td/th frame),
# inline markup inside a cell (stripped), an empty cell (survives as
# ''), whitespace-padded header text (collapsed+trimmed), a second
# table after intervening prose, and a RAGGED last row (1 cell vs 3 —
# per-row sub-extraction must not misalign columns across rows).
_HTML_TABLE_DOC = (
    "'<html><body><p>pre</p>"
    "<TABLE class=\"spec\"><thead><TR><TH>Name</TH><th> Qty </th></TR>"
    "</thead><tbody>"
    "<tr><td><b>widget-' || CAST(o_orderkey AS {V}) || '</b></td>"
    "<td>' || CAST(o_orderkey % 7 AS {V}) || '</td></tr>"
    "<tr><td></td><td align=\"r\"> ' || CAST(o_orderkey % 5 AS {V}) || "
    "' </td></tr></tbody></TABLE>"
    "<p>between tables</p>"
    "<table><tr><td>a-' || CAST(o_orderkey AS {V}) || '</td>"
    "<td>b</td><td>c</td></tr>"
    "<tr><td>ragged only</td></tr></table></body></html>'"
)


def _q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-data harvest: explode HTML documents into one row per
    table cell with (table_no, row_no, col_no, is_header, cell text) —
    three chained generators, structural alignment per element, zero
    Python. The tabular twin of html_extract_text's running-text path."""
    from gcp_etl_pipeline_spark.operators import text as _text

    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    docs = orders.select(
        F.col("o_orderkey").alias("doc_id"),
        F.expr(_HTML_TABLE_DOC.format(V="STRING")).alias("html"),
    )
    return _text.parse_html_tables(docs, "html")


def _html_tables_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    return f"""
    WITH docs AS (SELECT o_orderkey AS doc_id,
                         {_HTML_TABLE_DOC.format(V="VARCHAR")} AS html
                  FROM orders),
    ta AS (SELECT doc_id,
             regexp_extract_all(html, {_sql_lit(_text.HTML_TABLE_RE)}, 1)
               AS ts
           FROM docs),
    t AS (SELECT doc_id,
            CAST(unnest(range(len(ts))) AS BIGINT) AS table_no,
            unnest(ts) AS tbl
          FROM ta),
    ra AS (SELECT doc_id, table_no,
             regexp_extract_all(tbl, {_sql_lit(_text.HTML_TR_RE)}, 1) AS rs
           FROM t),
    r AS (SELECT doc_id, table_no,
            CAST(unnest(range(len(rs))) AS BIGINT) AS row_no,
            unnest(rs) AS rowtxt
          FROM ra),
    ca AS (SELECT doc_id, table_no, row_no,
             regexp_extract_all(rowtxt, {_sql_lit(_text.HTML_CELL_RE)}, 0)
               AS cs
           FROM r),
    c AS (SELECT doc_id, table_no, row_no,
            CAST(unnest(range(len(cs))) AS BIGINT) AS col_no,
            unnest(cs) AS celltxt
          FROM ca)
    SELECT doc_id, table_no, row_no, col_no,
           lower(substring(celltxt, 1, 3)) = '<th' AS is_header,
           trim(regexp_replace(regexp_replace(
             regexp_extract(celltxt, {_sql_lit(_text.HTML_CELL_INNER_RE)}, 1),
             '<[^>]*>', '', 'g'), '\\s+', ' ', 'g')) AS cell
    FROM c
    """


register("html_table_extract", _q_html_tables, _html_tables_oracle())


# ------------------------- BM25 top-k retrieval (inverted index)

# fixed query workload over the fixture vocabulary: multi-term hits, a
# partial-overlap query, and one zero-hit query (absent from output —
# retrieval returns nothing rather than minting a zero-score row)
_BM25_QUERIES = (
    ("q_storage", "spark hash table"),
    ("q_pipeline", "merge sort batch"),
    ("q_scan", "slow window scan"),
    ("q_nohit", "zebra quixotic"),
)


def _q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval end to end: posting lists from one
    (doc, term) count shuffle, query terms broadcast onto them,
    Robertson idf x k1/b-saturated tf µ-quantized per term BEFORE the
    per-(query, doc) BIGINT sum, top-5 per query."""
    from gcp_etl_pipeline_spark.operators import curation as _cur

    docs = _docs(spark, sf_dir)
    queries = spark.createDataFrame(
        list(_BM25_QUERIES), ["query_id", "query_text"]
    )
    return _cur.bm25_topk(docs, queries, k=5).select(
        "query_id", "rk", "doc_id", "score_u", "n_terms"
    )


def _bm25_oracle() -> str:
    vals = ", ".join(
        f"({_sql_lit(qid)}, {_sql_lit(qt)})" for qid, qt in _BM25_QUERIES
    )
    return f"""
    WITH {_TOK_CTE},
    tc AS (SELECT doc_id, unnest(toks) AS term FROM tok),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tc GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
    q AS (SELECT * FROM (VALUES {vals}) t(query_id, qtext)),
    qt AS (SELECT DISTINCT query_id,
             unnest(list_filter(
               string_split_regex(lower(qtext), '[^a-z0-9]+'),
               t -> t <> '')) AS term
           FROM q),
    sc AS (SELECT qt.query_id, tf.doc_id,
             CAST(ROUND(
               ln((CAST(n_docs AS DOUBLE) + 1.0)
                  / (CAST(df AS DOUBLE) + 0.5))
               * (CAST(tf AS DOUBLE) * 2.2)
                 / (CAST(tf AS DOUBLE)
                    + 1.2 * (0.25
                             + 0.75 * CAST(dl AS DOUBLE)
                               * CAST(n_docs AS DOUBLE)
                               / CAST(total_len AS DOUBLE)))
               * 1000000, 0) AS BIGINT) AS c_u
           FROM tf
           JOIN qt USING (term)
           JOIN dl USING (doc_id)
           JOIN dfreq USING (term), corpus),
    ag AS (SELECT query_id, doc_id,
             CAST(SUM(c_u) AS BIGINT) AS score_u,
             CAST(COUNT(*) AS BIGINT) AS n_terms
           FROM sc GROUP BY 1, 2),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score_u DESC, doc_id ASC) AS rk
           FROM ag)
    SELECT query_id, CAST(rk AS INT) AS rk, doc_id, score_u, n_terms
    FROM rk WHERE rk <= 5
    """


register("bm25_topk", _q_bm25, _bm25_oracle())


# ----------- WARC payload-digest dedup (cross-URL content identity)

# the Common-Crawl-style store dedup: the same body fetched from
# different URLs collapses by content digest, not by URL. Every 3-doc
# class shares one body (served at 3 distinct target URIs); the keeper
# is the first occurrence in (blob_id, recno) store order. A planted
# trailing-space twin (doc_id % 3 = 2 appends one space) must NOT
# collapse — digests are byte-exact, not whitespace-normalized.
_WARC_DUP_PAYLOAD = (
    "'HTTP/1.1 200 OK' || {NL} || "
    "'Content-Type: text/html; charset=UTF-8' || {NL} || {NL} || "
    "'shared body ' || CAST(doc_id - (doc_id % 3) AS {V}) || "
    "CASE WHEN doc_id % 3 = 2 THEN ' ' ELSE '' END"
)


def _q_warc_digest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-digest dedup over the fetch store: record walk ->
    envelope -> md5 over the exact body bytes -> first-occurrence-wins
    canonical verdict per digest group. Only 32-char digests shuffle;
    bodies stay in their scan partition — the same discipline as the
    exact-dedup ledger tier."""
    from pyspark.sql import Window

    from gcp_etl_pipeline_spark.operators import text as _text

    blobs = _warc_blobs(spark, sf_dir, _WARC_DUP_PAYLOAD)
    recs = blobs.select(
        "blob_id",
        F.posexplode(
            _text.warc_records("blob", max_records=_WARC_MAX_RECORDS)
        ).alias("pos", "rec"),
    )
    env = _text.warc_envelope(recs).select(
        "blob_id",
        (F.col("pos") + 1).cast("bigint").alias("recno"),
        F.col("url").alias("target_uri"),
        F.md5(F.encode("body", "UTF-8")).alias("digest"),
    )
    wd = Window.partitionBy("digest")
    wo = wd.orderBy("blob_id", "recno")
    return env.select(
        "blob_id",
        "recno",
        "target_uri",
        "digest",
        F.count(F.lit(1)).over(wd).alias("n_copies"),
        (F.row_number().over(wo) == 1).alias("is_canonical"),
    )


def _warc_digest_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    uri_re = _sql_lit(_text.http_header_pattern("WARC-Target-URI"))
    body_re = _sql_lit(_text.HTTP_BODY_RE)
    return f"""
    WITH RECURSIVE
    {_warc_walk_ctes(payload_expr=_WARC_DUP_PAYLOAD)},
    env AS (SELECT blob_id, CAST(recno AS BIGINT) AS recno,
              trim(regexp_extract(head, {uri_re}, 1)) AS target_uri,
              md5(regexp_extract(payload, {body_re}, 1)) AS digest
            FROM walk WHERE recno >= 1)
    SELECT blob_id, recno, target_uri, digest,
           COUNT(*) OVER (PARTITION BY digest) AS n_copies,
           ROW_NUMBER() OVER (PARTITION BY digest
                              ORDER BY blob_id, recno) = 1 AS is_canonical
    FROM env
    """


register("warc_digest_dedup", _q_warc_digest_dedup, _warc_digest_oracle())


def _q_warc_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC revisit-record construction (ISO 28500 §6.7.2 shape, the
    archive-side OUTPUT of digest dedup): every duplicate-digest
    record becomes a revisit row pointing at its canonical original
    (first occurrence by blob_id, recno) with the payload digest and
    the chars the archive saves by storing a reference instead of the
    body. Only digests and record keys shuffle; bodies are read once
    in the scan for length + digest and never move."""
    from pyspark.sql import Window

    from gcp_etl_pipeline_spark.operators import text as _text

    blobs = _warc_blobs(spark, sf_dir, _WARC_DUP_PAYLOAD)
    recs = blobs.select(
        "blob_id",
        F.posexplode(
            _text.warc_records("blob", max_records=_WARC_MAX_RECORDS)
        ).alias("pos", "rec"),
    )
    env = _text.warc_envelope(recs).select(
        "blob_id",
        (F.col("pos") + 1).cast("bigint").alias("recno"),
        F.col("url").alias("target_uri"),
        F.md5(F.encode("body", "UTF-8")).alias("digest"),
        F.length("body").cast("bigint").alias("body_chars"),
    )
    w = Window.partitionBy("digest").orderBy("blob_id", "recno")
    marked = env.withColumn("rk", F.row_number().over(w))
    canon = marked.where(F.col("rk") == 1).select(
        "digest",
        F.col("blob_id").alias("refers_to_blob"),
        F.col("recno").alias("refers_to_recno"),
        F.col("target_uri").alias("refers_to_uri"),
    )
    return (
        marked.where(F.col("rk") > 1)
        .join(canon, "digest")
        .select(
            "blob_id",
            "recno",
            "target_uri",
            "digest",
            "refers_to_blob",
            "refers_to_recno",
            "refers_to_uri",
            F.col("body_chars").alias("saved_chars"),
        )
    )


def _warc_revisit_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    uri_re = _sql_lit(_text.http_header_pattern("WARC-Target-URI"))
    body_re = _sql_lit(_text.HTTP_BODY_RE)
    return f"""
    WITH RECURSIVE
    {_warc_walk_ctes(payload_expr=_WARC_DUP_PAYLOAD)},
    env AS (SELECT blob_id, CAST(recno AS BIGINT) AS recno,
              trim(regexp_extract(head, {uri_re}, 1)) AS target_uri,
              md5(regexp_extract(payload, {body_re}, 1)) AS digest,
              CAST(length(regexp_extract(payload, {body_re}, 1))
                AS BIGINT) AS body_chars
            FROM walk WHERE recno >= 1),
    marked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY digest
                 ORDER BY blob_id, recno) AS rk
               FROM env),
    canon AS (SELECT digest, blob_id AS refers_to_blob,
                     recno AS refers_to_recno,
                     target_uri AS refers_to_uri
              FROM marked WHERE rk = 1)
    SELECT m.blob_id, m.recno, m.target_uri, m.digest,
           c.refers_to_blob, c.refers_to_recno, c.refers_to_uri,
           m.body_chars AS saved_chars
    FROM marked m JOIN canon c USING (digest)
    WHERE m.rk > 1
    """


register("warc_revisit_records", _q_warc_revisit, _warc_revisit_oracle())


# ------------------ robots.txt Crawl-delay extraction (politeness)

# one robots document per order key; classes plant the attribution
# hazards: 0 = delay among a '*' group's rules; 1 = a bot-specific
# group's delay must NOT leak into the '*' evaluation (star fallback
# keeps its own 3); 2 = non-numeric value drops -> host absent; 3 =
# TWO matching '*' groups with different delays -> MAX wins; 4 = a
# Crawl-delay BETWEEN two User-agent lines closes the first run, so
# the delay binds to agent 'a' only -> host absent under '*'.
_ROBOTS_CD_TXT = (
    "CASE o_orderkey % 5 "
    "WHEN 0 THEN 'User-agent: *' || {NL} || 'Disallow: /x' || {NL} "
    "|| 'Crawl-delay: 2' "
    "WHEN 1 THEN 'User-agent: bot' || {NL} || 'Crawl-delay: 9' || {NL} "
    "|| {NL} || 'User-agent: *' || {NL} || 'crawl-delay: 3  # polite' "
    "WHEN 2 THEN 'User-agent: *' || {NL} || 'Crawl-delay: fast' "
    "WHEN 3 THEN 'User-agent: *' || {NL} || 'Crawl-delay: 1' || {NL} "
    "|| {NL} || 'User-agent: *' || {NL} || 'Crawl-delay: 5' "
    "ELSE 'User-agent: a' || {NL} || 'Crawl-delay: 7' || {NL} "
    "|| 'User-agent: *' || {NL} || 'Disallow: /y' END"
)


def _q_robots_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay end to end from raw robots.txt: group-run detection
    with crawl-delay as a group-member record, exact-preempts-star
    selection, integer-validated values, MAX per host."""
    from gcp_etl_pipeline_spark.operators import curation as _cur

    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    docs = orders.select(
        F.concat(
            F.lit("h"), F.col("o_orderkey").cast("string"), F.lit(".test")
        ).alias("host"),
        F.expr(_ROBOTS_CD_TXT.format(NL="chr(10)")).alias("robots_txt"),
    )
    return _cur.robots_crawl_delays(docs)


def _robots_cd_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import curation as _cur

    return f"""
    WITH docs AS (SELECT 'h' || CAST(o_orderkey AS VARCHAR) || '.test'
                           AS host,
                         {_ROBOTS_CD_TXT.format(NL="chr(10)")} AS txt
                  FROM orders),
    ls AS (SELECT host, string_split_regex(txt, '\\r?\\n') AS arr
           FROM docs),
    l AS (SELECT host,
            CAST(unnest(range(len(arr))) AS BIGINT) AS no,
            trim(regexp_replace(unnest(arr), '#.*$', '')) AS clean
          FROM ls),
    d0 AS (SELECT host, no,
             lower(regexp_extract(clean,
               {_sql_lit(_cur.ROBOTS_DIRECTIVE_RE)}, 1)) AS kind,
             trim(regexp_replace(clean, '^\\s*[A-Za-z-]+\\s*:', ''))
               AS val
           FROM l),
    d AS (SELECT * FROM d0
          WHERE kind IN ('user-agent', 'allow', 'disallow',
                         'crawl-delay')),
    d1 AS (SELECT *,
             COALESCE(LAG(kind) OVER (PARTITION BY host ORDER BY no), '')
               AS prev_kind
           FROM d),
    g AS (SELECT *,
            SUM(CASE WHEN kind = 'user-agent'
                      AND prev_kind <> 'user-agent'
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY host ORDER BY no
                    ROWS UNBOUNDED PRECEDING) AS gid
          FROM d1),
    m AS (SELECT DISTINCT host, gid FROM g
          WHERE kind = 'user-agent' AND val = '*'),
    cd AS (SELECT g.host, TRY_CAST(g.val AS BIGINT) AS delay
           FROM g JOIN m ON g.host = m.host AND g.gid = m.gid
           WHERE g.kind = 'crawl-delay' AND g.gid >= 1)
    SELECT host, MAX(delay) AS crawl_delay_s
    FROM cd WHERE delay IS NOT NULL AND delay >= 0
    GROUP BY host
    """


register(
    "robots_crawl_delay", _q_robots_crawl_delay, _robots_cd_oracle()
)


# ------------ table harvest COMPOSED behind charset repair (intake)

# the table fixture with crawl dirt planted INSIDE cells: class 1 docs
# carry a CP1252 mojibake quote in the widget cell (must repair to
# "'"), class 3 docs a control byte in a header cell (must strip) —
# charset repair runs on the RAW markup ahead of the frame walk, the
# order every real intake needs (a control byte inside a tag name
# would otherwise break framing).
_HTML_TABLE_DIRTY = (
    "'<html><body>"
    "<TABLE class=\"spec\"><thead><TR><TH>Na' || "
    "CASE WHEN o_orderkey % 4 = 3 THEN chr(1) ELSE '' END || "
    "'me</TH><th> Qty </th></TR></thead><tbody>"
    "<tr><td><b>widget' || "
    "CASE WHEN o_orderkey % 4 = 1 THEN 'â€™' ELSE '-' END || "
    "CAST(o_orderkey AS {V}) || '</b></td>"
    "<td>' || CAST(o_orderkey % 7 AS {V}) || '</td></tr></tbody></TABLE>"
    "<table><tr><td>a-' || CAST(o_orderkey AS {V}) || '</td>"
    "<td>b</td></tr></table></body></html>'"
)


def _q_table_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-data harvest COMPOSED behind the charset front door:
    repair_encoding over the raw markup, then the three-generator
    table walk, then a per-(doc, table) rollup — n_rows, n_cells,
    n_header_cells, and an md5 over the ordered cell texts so any
    repaired byte that lands in the wrong cell breaks the hash."""
    from gcp_etl_pipeline_spark.operators import text as _text

    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    docs = orders.select(
        F.col("o_orderkey").alias("doc_id"),
        _text.repair_encoding(
            F.expr(_HTML_TABLE_DIRTY.format(V="STRING"))
        ).alias("html"),
    )
    cells = _text.parse_html_tables(docs, "html")
    return cells.groupBy("doc_id", "table_no").agg(
        (F.max("row_no") + 1).alias("n_rows"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.col("is_header").cast("bigint")).alias("n_header_cells"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("row_no", "col_no", "cell")
                        )
                    ),
                    lambda s: s["cell"],
                ),
                "\x1f",
            )
        ).alias("cells_md5"),
    )


def _table_harvest_oracle() -> str:
    from gcp_etl_pipeline_spark.operators import text as _text

    return f"""
    WITH docs AS (SELECT o_orderkey AS doc_id,
                    {_repair_encoding_sql(
                        _HTML_TABLE_DIRTY.format(V="VARCHAR"))} AS html
                  FROM orders),
    ta AS (SELECT doc_id,
             regexp_extract_all(html, {_sql_lit(_text.HTML_TABLE_RE)}, 1)
               AS ts
           FROM docs),
    t AS (SELECT doc_id,
            CAST(unnest(range(len(ts))) AS BIGINT) AS table_no,
            unnest(ts) AS tbl
          FROM ta),
    ra AS (SELECT doc_id, table_no,
             regexp_extract_all(tbl, {_sql_lit(_text.HTML_TR_RE)}, 1) AS rs
           FROM t),
    r AS (SELECT doc_id, table_no,
            CAST(unnest(range(len(rs))) AS BIGINT) AS row_no,
            unnest(rs) AS rowtxt
          FROM ra),
    ca AS (SELECT doc_id, table_no, row_no,
             regexp_extract_all(rowtxt, {_sql_lit(_text.HTML_CELL_RE)}, 0)
               AS cs
           FROM r),
    c AS (SELECT doc_id, table_no, row_no,
            CAST(unnest(range(len(cs))) AS BIGINT) AS col_no,
            unnest(cs) AS celltxt
          FROM ca),
    cell AS (SELECT doc_id, table_no, row_no, col_no,
               lower(substring(celltxt, 1, 3)) = '<th' AS is_header,
               trim(regexp_replace(regexp_replace(
                 regexp_extract(celltxt,
                   {_sql_lit(_text.HTML_CELL_INNER_RE)}, 1),
                 '<[^>]*>', '', 'g'), '\\s+', ' ', 'g')) AS cell
             FROM c)
    SELECT doc_id, table_no,
           MAX(row_no) + 1 AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CASE WHEN is_header THEN 1 ELSE 0 END) AS BIGINT)
             AS n_header_cells,
           md5(string_agg(cell, chr(31) ORDER BY row_no, col_no))
             AS cells_md5
    FROM cell GROUP BY 1, 2
    """


register("html_table_harvest", _q_table_harvest, _table_harvest_oracle())


# ---------- discovery pipeline: robots.txt -> sitemaps -> page URLs

# per-host robots documents (hosts o_orderkey % 8): classes 0-2 carry
# a Sitemap: directive whose raw value has CASE NOISE and a trailing
# slash — normalize_url must canonicalize it to exactly the sitemap
# table's key or the join silently drops the host; class 3 has no
# sitemap directive, so its pages are never discovered (the pipeline's
# negative space). The sitemap documents themselves reuse the
# sitemap_url_extract fixture entries (per-order <url> elements with
# the lastmod-omission misalignment hazard).
_ROBOTS_DISC_TXT = (
    "CASE WHEN host_id % 4 = 3 THEN "
    "'User-agent: *' || {NL} || 'Disallow: /tmp' "
    "ELSE 'User-agent: *' || {NL} || 'Disallow: /x' || {NL} || "
    "'Sitemap: HTTPS://Host' || CAST(host_id AS {V}) || "
    "'.Example.org/sitemap.xml/' END"
)


def _disc_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery fixture: per-host robots.txt (host_id, host,
    robots_txt) — hosts % 4 == 3 publish no Sitemap directive."""
    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    hosts = orders.select(
        (F.col("o_orderkey") % 8).alias("host_id")
    ).distinct()
    return hosts.select(
        "host_id",
        F.concat(F.lit("host"), F.col("host_id").cast("string"),
                 F.lit(".example.org")).alias("host"),
        F.expr(
            _ROBOTS_DISC_TXT.format(NL="chr(10)", V="STRING")
        ).alias("robots_txt"),
    )


def _disc_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery fixture: per-host sitemap documents (host_id,
    sitemap_url, xml) at their canonical URLs."""
    orders = _scan(spark, f"{sf_dir}/orders.parquet")
    entries = orders.select(
        (F.col("o_orderkey") % 8).alias("host_id"),
        F.col("o_orderkey").alias("k"),
        F.expr(_SITEMAP_ENTRY.format(V="STRING")).alias("entry"),
    )
    return entries.groupBy("host_id").agg(
        F.concat(
            F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "entry"))),
                    lambda s: s["entry"],
                ),
                "",
            ),
            F.lit("</urlset>"),
        ).alias("xml")
    ).select(
        "host_id",
        F.concat(
            F.lit("https://host"), F.col("host_id").cast("string"),
            F.lit(".example.org/sitemap.xml"),
        ).alias("sitemap_url"),
        "xml",
    )


def sitemap_discovery_stage(
    robots: DataFrame, sitemaps: DataFrame
) -> DataFrame:
    """The per-host discovery chain over ALREADY-LOADED frames:
    robots_sitemaps directive extraction -> canonical-URL join onto
    the sitemap documents -> structural parse. Per-host stateless, so
    the streaming twin's micro-batch union equals the batch run —
    shared by both."""
    from gcp_etl_pipeline_spark.operators import curation as _cur
    from gcp_etl_pipeline_spark.operators import text as _text

    discovered = _cur.robots_sitemaps(robots.select("host", "robots_txt"))
    fetched = sitemaps.join(
        F.broadcast(discovered.select("sitemap_url")), "sitemap_url"
    )
    parsed = _text.parse_sitemap(fetched, "xml")
    return parsed.select(
        "host_id",
        "entry_no",
        _text.normalize_url("loc").alias("url"),
        "lastmod",
    )


def _two_file_stream_src(
    spark: SparkSession, name: str, sf_dir: str, build_halves
) -> str:
    """Shared builder for the two-file streaming source fixtures: the two
    ordered frames ``build_halves()`` returns, landed by
    `core.stage_ordered_files` as mtime-ordered one-file micro-batches
    (the object-storage one-chunk-at-a-time arrival shape), cached per
    (session, ``name``, ``sf_dir``) by ``_session_cached_path``."""
    import os
    import re as _re

    from gcp_etl_pipeline_spark.streaming.core import stage_ordered_files

    def _validate(path: str) -> str:
        if sorted(os.listdir(path)) != ["b0.parquet", "b1.parquet"]:
            raise RuntimeError(f"{name}: stream source files missing")
        return path

    tag = f"{name}_" + _re.sub(r"\W+", "_", sf_dir).strip("_")
    return _session_cached_path(
        spark, tag, lambda root: stage_ordered_files(root, build_halves()),
        _validate,
    )


def _key_halves(frame: DataFrame, key: str) -> list[DataFrame]:
    """``frame`` split at half its max ``key``: ``key <= t`` then
    ``key > t`` (pinned once: the split point and both halves read it)."""
    frame = frame.localCheckpoint(eager=True)
    t = frame.agg(F.floor(F.max(key) / 2)).collect()[0][0]
    return [frame.where(f"{key} <= {t}"), frame.where(f"{key} > {t}")]


def sitemap_disc_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached SOURCE DIRECTORY for the streaming discovery
    twin: per-host discovery bundles (robots.txt + that host's sitemap
    document at its canonical URL)."""
    return _two_file_stream_src(
        spark, "sitemapdiscsrc", sf_dir,
        lambda: _key_halves(
            _disc_robots(spark, sf_dir).join(
                _disc_sitemaps(spark, sf_dir), "host_id", "left"
            ),
            "host_id",
        ),
    )


def _sitemap_discovery_parsed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The discovery front door up to parsed page rows (host_id,
    entry_no, url, lastmod) — shared by the graded discovery pipeline
    and the recrawl-freshness composition so both ride one
    definition."""
    parsed = sitemap_discovery_stage(
        _disc_robots(spark, sf_dir), _disc_sitemaps(spark, sf_dir)
    )
    return parsed


def _q_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-discovery front door END TO END: robots.txt ->
    Sitemap: directive extraction (robots_sitemaps: group-independent,
    comment strip, absolute gate, normalize_url) -> join onto the
    per-host sitemap documents BY CANONICAL URL -> structural <url>
    parse -> normalized page URLs + freshness. A host without a
    sitemap directive contributes nothing; a case-noised directive
    must still find its document."""
    parsed = _sitemap_discovery_parsed(spark, sf_dir)
    return parsed.select(
        "host_id",
        "entry_no",
        "url",
        F.when(
            F.col("lastmod") != "",
            F.col("lastmod").cast("date") >= F.lit("2024-07-01").cast("date"),
        ).otherwise(F.lit(False)).alias("is_fresh"),
    )


def _sitemap_disc_ctes() -> str:
    """The robots->sitemap->page-URL discovery oracle chain, ending in
    `n3` (host_id, entry_no, lastmod, url) — factored so the recrawl
    composition grades against the IDENTICAL discovery rules."""
    from gcp_etl_pipeline_spark.operators import curation as _cur
    from gcp_etl_pipeline_spark.operators import text as _text

    return f"""hosts AS (SELECT DISTINCT o_orderkey % 8 AS host_id FROM orders),
    robots AS (SELECT 'host' || CAST(host_id AS VARCHAR) || '.example.org'
                        AS host,
                      {_ROBOTS_DISC_TXT.format(NL="chr(10)", V="VARCHAR")}
                        AS txt
               FROM hosts),
    l AS (SELECT host,
            trim(regexp_replace(
              unnest(string_split_regex(txt, '\\r?\\n')), '#.*$', ''))
              AS clean
          FROM robots),
    d AS (SELECT host,
            lower(regexp_extract(clean,
              {_sql_lit(_cur.ROBOTS_DIRECTIVE_RE)}, 1)) AS kind,
            trim(regexp_replace(clean, '^\\s*[A-Za-z-]+\\s*:', '')) AS val
          FROM l),
    s AS (SELECT host, val FROM d
          WHERE kind = 'sitemap'
            AND regexp_matches(val,
                  {_sql_lit(_cur.ROBOTS_SITEMAP_ABS_RE)})),
    sn AS (SELECT DISTINCT
             lower(regexp_extract(val, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
             || '://' ||
             lower(regexp_extract(regexp_replace(val,
               '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1)) ||
             regexp_replace(regexp_extract(regexp_replace(
               regexp_replace(val, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
               '^[^/?#]*', ''), '^([^?#]*)', 1), '/+$', '')
               AS sitemap_url
           FROM s),
    e AS (SELECT o_orderkey % 8 AS host_id, o_orderkey AS k,
                 {_SITEMAP_ENTRY.format(V="VARCHAR")} AS entry
          FROM orders),
    sm AS (SELECT host_id,
             'https://host' || CAST(host_id AS VARCHAR)
             || '.example.org/sitemap.xml' AS sitemap_url,
             '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
             || string_agg(entry, '' ORDER BY k) || '</urlset>' AS xml
           FROM e GROUP BY 1),
    fetched AS (SELECT sm.host_id, sm.xml
                FROM sm JOIN sn ON sm.sitemap_url = sn.sitemap_url),
    el AS (SELECT host_id,
             regexp_extract_all(xml, {_sql_lit(_text.SITEMAP_ENTRY_RE)}, 1)
               AS entries
           FROM fetched),
    x AS (SELECT host_id,
            CAST(unnest(range(len(entries))) AS BIGINT) AS entry_no,
            unnest(entries) AS entry
          FROM el),
    p AS (SELECT host_id, entry_no,
            regexp_extract(entry, {_sql_lit(_text.SITEMAP_LOC_RE)}, 1)
              AS loc,
            regexp_extract(entry, {_sql_lit(_text.SITEMAP_LASTMOD_RE)}, 1)
              AS lastmod
          FROM x),
    n AS (SELECT host_id, entry_no, lastmod,
            lower(regexp_extract(loc, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
              AS scheme,
            regexp_replace(loc, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
          FROM p),
    n2 AS (SELECT host_id, entry_no, lastmod, scheme,
             lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS auth,
             regexp_replace(regexp_replace(rest, '^[^/?#]*', ''),
                            '#.*$', '') AS tail
           FROM n),
    n3 AS (SELECT host_id, entry_no, lastmod,
             scheme || '://' ||
             CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
                  WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
                  ELSE auth END ||
             regexp_replace(regexp_extract(tail, '^([^?]*)', 1), '/+$', '')
             || regexp_replace(tail, '^[^?]*', '') AS url
           FROM n2)"""


def _sitemap_discovery_oracle() -> str:
    return f"""
    WITH {_sitemap_disc_ctes()}
    SELECT host_id, entry_no, url,
           CASE WHEN lastmod <> ''
                THEN CAST(lastmod AS DATE) >= DATE '2024-07-01'
                ELSE false END AS is_fresh
    FROM n3
    """


register(
    "sitemap_discovery_pipeline",
    _q_sitemap_discovery,
    _sitemap_discovery_oracle(),
)


# ------- sitemap freshness composed into the recrawl scheduler

def _q_recrawl_sitemap_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery-freshness composed into the recrawl scheduler (the
    integration of the two intake chains): the robots->sitemap->page-URL
    pipeline's <lastmod> hints join the fetch-log change model, and a
    URL whose sitemap declares a modification AFTER our last observed
    fetch jumps the due queue (next_due = last fetch, i.e. due now)
    instead of waiting out its backoff interval. URLs without a hint,
    or with a stale hint, keep the observed-cadence schedule.

    Composition key contract: the fetch log's url_id maps to page URL
    https://host{{url_id % 8}}.example.org/p/{{url_id}} — the same
    host/path shape the sitemap fixture publishes, so overlap is the
    honest partial kind (most fetched URLs have no sitemap entry).
    lastmod dates become µs epochs via day arithmetic (days-since-
    epoch x 86.4e9), never a timezone-dependent timestamp cast.

    Scale shape: the schedule and last-fetch aggregates reuse ONE hash
    exchange on url_id; the hint join is a hash join on the url string
    (the sitemap universe is page-sized — not broadcastable); output
    stays |URLs| rows."""
    from gcp_etl_pipeline_spark.operators import curation as _cur

    ev = _scan(spark, f"{sf_dir}/events.parquet")
    fetches = ev.select(
        F.expr(_FETCH_URL_ID).alias("url_id"),
        "ts",
        F.col("event_id").alias("fetch_id"),
        F.expr(
            _FETCH_FP.format(
                V="STRING",
                EU="unix_micros(CAST(ts AS TIMESTAMP))",
                IDIV="DIV",
            )
        ).alias("content_fp"),
    )
    sched = _cur.recrawl_schedule(fetches)
    last = fetches.groupBy("url_id").agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp")))
        .cast("bigint")
        .alias("last_fetch_us")
    )
    hints = (
        _sitemap_discovery_parsed(spark, sf_dir)
        .where(F.col("lastmod") != "")
        .select(
            "url",
            (
                F.datediff(
                    F.col("lastmod").cast("date"),
                    F.lit("1970-01-01").cast("date"),
                ).cast("bigint")
                * F.lit(86_400_000_000)
            ).alias("lastmod_us"),
        )
    )
    keyed = sched.join(last, "url_id").withColumn(
        "url",
        F.concat(
            F.lit("https://host"),
            (F.col("url_id") % 8).cast("string"),
            F.lit(".example.org/p/"),
            F.col("url_id").cast("string"),
        ),
    )
    return _cur.sitemap_boost(keyed, hints).select(
        "url_id",
        "n_fetches",
        "recrawl_tier",
        "recrawl_interval_us",
        "last_fetch_us",
        "sitemap_lastmod_us",
        "sitemap_jump",
        "next_due_us",
    )


def _recrawl_sitemap_boost_oracle() -> str:
    return f"""
    WITH {_recrawl_ctes()},
    lastf AS (SELECT url_id, MAX(epoch_us(ts)) AS last_fetch_us
              FROM f GROUP BY 1),
    {_sitemap_disc_ctes()},
    hints AS (SELECT url,
                (CAST(lastmod AS DATE) - DATE '1970-01-01')
                  * CAST(86400000000 AS BIGINT) AS lastmod_us
              FROM n3 WHERE lastmod <> ''),
    keyed AS (SELECT s.*, l.last_fetch_us,
                'https://host' || CAST(s.url_id % 8 AS VARCHAR)
                || '.example.org/p/' || CAST(s.url_id AS VARCHAR) AS url
              FROM sched s JOIN lastf l USING (url_id))
    SELECT k.url_id, k.n_fetches, k.recrawl_tier, k.recrawl_interval_us,
           CAST(k.last_fetch_us AS BIGINT) AS last_fetch_us,
           CAST(COALESCE(h.lastmod_us, -1) AS BIGINT)
             AS sitemap_lastmod_us,
           (h.lastmod_us IS NOT NULL
            AND h.lastmod_us > k.last_fetch_us) AS sitemap_jump,
           CAST(CASE WHEN h.lastmod_us IS NOT NULL
                          AND h.lastmod_us > k.last_fetch_us
                     THEN k.last_fetch_us
                     ELSE k.last_fetch_us + k.recrawl_interval_us
                END AS BIGINT) AS next_due_us
    FROM keyed k LEFT JOIN hints h USING (url)
    """


register(
    "recrawl_sitemap_boost",
    _q_recrawl_sitemap_boost,
    _recrawl_sitemap_boost_oracle(),
)
