"""Driver-contract queries that exercise the REAL streaming engine.

Each callable lands its input as files in a scratch directory
(`session.scratch_dir`): the events table as is, or a frame split into
mtime-ordered one-file micro-batches (`core.stage_ordered_files`). It then
runs a Structured Streaming query over those files to completion with
`core.drain` (full streaming machinery: file source, state store,
watermark, micro-batches), through a foreachBatch body, and returns the
result DataFrame: what the body wrote, or the drained rows themselves
(`core.drain_rows`, which registers nothing in the session). The oracles
are batch SQL over the same data — streaming results must converge to the
batch answer once all data is processed, so a DuckDB twin checks them
exactly.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from gcp_etl_pipeline_spark.operators.parallel import spread
from gcp_etl_pipeline_spark.registry import register
from gcp_etl_pipeline_spark.session import scratch_dir
from gcp_etl_pipeline_spark.streaming import core, stateful

GAP_S = 1800
WM_S = 7200


def _stage(sf_dir: str) -> tuple[str, str]:
    root = scratch_dir("stream")
    src = f"{root}/in"
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    return root, src


def _q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, src = _stage(sf_dir)
    stream = core.tumbling_counts(core.read_events_stream(spark, src)).select(
        "window_start", "event_type", "n_events"
    )
    return core.drain_rows(stream, mode="complete")


register(
    "stream_tumbling",
    _q_stream_tumbling,
    """
    SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
           event_type, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)


def _q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, src = _stage(sf_dir)
    stream = core.sliding_counts(
        core.read_events_stream(spark, src), width="1 hour", slide="30 minutes"
    )
    return core.drain_rows(stream, mode="complete")


# sliding window = each event in width/slide overlapping windows; the
# batch twin fans out via a 2-row cross join
register(
    "stream_sliding",
    _q_stream_sliding,
    """
    SELECT CAST((FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 1800) - k.k) * 1800
               AS BIGINT) AS window_start,
           COUNT(*) AS n_events
    FROM events
    CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1) k
    GROUP BY 1
    """,
)


def _q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, src = _stage(sf_dir)
    stream = core.session_counts(core.read_events_stream(spark, src), gap="30 minutes")
    return core.drain_rows(stream, mode="complete")


# built-in session_window: end = last event + gap
register(
    "stream_session_window",
    _q_stream_session_window,
    f"""
    WITH g AS (
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS e, event_id,
             CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                    - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) > {GAP_S}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), s AS (
      SELECT user_id, e,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY e, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id, MIN(e) AS sess_start, MAX(e) + {GAP_S} AS sess_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)


def _q_stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, src = _stage(sf_dir)
    stream = stateful.sessionize(
        core.read_events_stream(spark, src), gap_seconds=GAP_S
    )
    return core.drain_rows(stream)


# custom applyInPandasWithState sessionizer: emits sessions closed by a
# later event plus open sessions the final watermark (max ts - WM_S) timed
# out; each user's newest session stays in state unless timed out.
register(
    "stream_sessionize_stateful",
    _q_stream_sessionize_stateful,
    f"""
    WITH g AS (
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS e,
             CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                    - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER
                    (PARTITION BY user_id ORDER BY ts) > {GAP_S}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), s AS (
      SELECT user_id, e,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    ), sess AS (
      SELECT user_id, sid, MIN(e) AS sess_start, MAX(e) AS sess_end,
             COUNT(*) AS n_events,
             MAX(sid) OVER (PARTITION BY user_id) AS last_sid
      FROM s GROUP BY user_id, sid
    ), wm AS (
      SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) - {WM_S} AS w FROM events
    )
    SELECT user_id, sid AS sess_id, sess_start, sess_end, n_events
    FROM sess, wm
    WHERE sid < last_sid OR sess_end + {GAP_S} < wm.w
    """,
)


def _q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery simulation: the same events file lands twice;
    the foreachBatch insert-new-only sink must keep exactly one copy of
    every event (reference I2 maintenance, streaming form)."""
    root, src = _stage(sf_dir)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/replay.parquet")
    target = f"{root}/target"
    stream = core.read_events_stream(spark, src).select(
        "event_id", "user_id", "event_type"
    )
    core.foreach_batch_insert_new(
        stream, target, keys=["event_id"], checkpoint=f"{root}/ckpt_upsert"
    )
    return spark.read.parquet(target)


register(
    "stream_upsert_dedup",
    _q_stream_upsert,
    "SELECT event_id, user_id, event_type FROM events",
)


def _q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same events file lands twice (at-least-once delivery);
    dropDuplicatesWithinWatermark keeps one copy per event_id with state
    bounded by the watermark horizon — the streaming dedup primitive for
    unbounded topics (a plain dropDuplicates would grow state forever).
    Drained counts then aggregate batch-side to a compact graded shape."""
    from pyspark.sql import functions as F

    _, src = _stage(sf_dir)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/replay.parquet")
    deduped = core.dedup_within_watermark(
        core.read_events_stream(spark, src), watermark="2 hours"
    )
    drained = core.drain_rows(deduped.select("event_id", "user_id", "event_type"))
    return drained.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_ids"),
        F.sum("event_id").cast("bigint").alias("idsum"),
    )


register(
    "stream_dedup_watermark",
    _q_stream_dedup_watermark,
    """
    SELECT event_type, COUNT(*) AS n,
           COUNT(DISTINCT event_id) AS n_ids,
           CAST(SUM(event_id) AS BIGINT) AS idsum
    FROM events GROUP BY 1
    """,
)


def _q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: click→purchase attribution within one
    hour, both sides watermarked (bounded join state; late data beyond 2h
    dropped from state). Inner-join matches emit without waiting for the
    watermark — the drain then aggregates batch-side to a compact result."""
    from pyspark.sql import functions as F

    _, src = _stage(sf_dir)
    clicks = (
        core.read_events_stream(spark, src)
        .where("event_type = 'click'")
        .select(
            "user_id",
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    buys = (
        core.read_events_stream(spark, src)
        .where("event_type = 'purchase'")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        buys,
        (clicks.user_id == buys.p_user)
        & (buys.p_ts >= clicks.c_ts)
        & (buys.p_ts <= clicks.c_ts + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    drained = core.drain_rows(joined.select("user_id", "click_id", "purchase_id"))
    return drained.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("click_id").alias("first_click"),
    )


register(
    "stream_stream_join",
    _q_stream_stream_join,
    """
    WITH c AS (
      SELECT user_id, ts AS c_ts, event_id AS click_id
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts AS p_ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(click_id) AS BIGINT) AS first_click
    FROM c JOIN p ON c.user_id = p.user_id
       AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR
    GROUP BY 1
    """,
)


def _q_stream_dedup_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion ledger dedup: the documents table arrives as
    two ordered micro-batches (low doc_ids first — file mtimes pin the
    FileStreamSource order), and each foreachBatch invocation runs the
    batch `dedup_incremental` against the shared fingerprint store,
    appending only accepted rows to the output table. The oracle replays
    the same two batches sequentially in SQL, so a mis-ordered batch, a
    ledger leak, or an at-least-once duplicate breaks the hash."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.sources.files import read_parquet

    root = scratch_dir("sledger")
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "n_chars"
    )
    t = docs.agg(F.floor(F.max("doc_id") / 2)).collect()[0][0]
    src = core.stage_ordered_files(
        root, [docs.where(f"doc_id <= {t}"), docs.where(f"doc_id > {t}")]
    )

    store = f"{root}/fp_store"
    out_dir = f"{root}/accepted"

    # REPLAY-IDEMPOTENT batch body (exactly-once over an at-least-once
    # trigger, the same property versioned_batch_writer carries): both
    # the fingerprint-ledger write and the accepted-rows write go to
    # batch_id-scoped partitions with OVERWRITE, and the anti-join reads
    # every OTHER batch's ledger partition — a retried micro-batch
    # rewrites its own partitions instead of double-appending, and never
    # anti-joins against its own first attempt's fingerprints (the
    # plain dedup_incremental append would lose the whole batch on a
    # retry that crashed between ledger append and output write).
    def process(batch: DataFrame, batch_id: int) -> None:
        import glob as _glob

        from pyspark.sql import functions as _F

        from gcp_etl_pipeline_spark.operators.dedup import dedup_exact
        from gcp_etl_pipeline_spark.operators.text import fingerprint

        spark_b = batch.sparkSession
        tagged = dedup_exact(batch).withColumn("__fp", fingerprint("text"))
        prior = [
            f for f in _glob.glob(f"{store}/batch=*/part-*.parquet")
            if f"/batch={batch_id}/" not in f
        ]
        kept = (
            tagged.join(
                spark_b.read.parquet(*sorted(prior)), "__fp", "left_anti"
            )
            if prior
            else tagged
        )
        kept = kept.localCheckpoint(eager=True)  # one computation, two writes
        kept.select("__fp").write.mode("overwrite").parquet(
            f"{store}/batch={batch_id}"
        )
        kept.drop("__fp").write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}"
        )

    core.drain(core.file_stream(spark, docs.schema, src), process=process)
    return spark.read.parquet(out_dir).select(
        F.when(F.col("doc_id") <= t, 1).otherwise(2).cast("int").alias("batch"),
        "doc_id", "lang", "n_chars",
    )


register(
    "stream_dedup_ledger",
    _q_stream_dedup_ledger,
    """
    WITH t AS (SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS t
               FROM documents),
    fp AS (SELECT doc_id, lang, n_chars,
                  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
           FROM documents),
    a AS (SELECT fp.* FROM fp, t WHERE doc_id <= t.t),
    b AS (SELECT fp.* FROM fp, t WHERE doc_id > t.t),
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


def _q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join (the enrichment shape Structured Streaming
    plans without state: the static side is re-planned per micro-batch,
    so a dimension refresh is picked up between batches): the events
    stream joins the customer dimension on user_id→custkey, aggregating
    spend per market segment. The static dim is broadcast-sized — the
    stream side never shuffles for the join."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.sources.files import read_parquet

    _, src = _stage(sf_dir)
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = (
        core.read_events_stream(spark, src)
        .join(F.broadcast(cust), "user_id", "inner")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.round(F.col("value") * 1000000, 0)).cast("long"))
            .alias("value_micro"),
        )
    )
    return core.drain_rows(stream, mode="complete")


register(
    "stream_static_enrich",
    _q_stream_static_enrich,
    """
    SELECT c_mktsegment, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) AS BIGINT)
             AS value_micro
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)


def _q_stream_neardup_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous NEAR-dup ingestion — the fuzzy twin of
    `stream_dedup_ledger`: the documents table arrives as two
    mtime-ordered micro-batches (even doc_ids, then odd), and each
    foreachBatch invocation runs the batch `neardup_incremental` against
    the shared LSH band ledger in its ATTEMPT-SCOPED mode (attempt_id =
    batch id), so a retried micro-batch overwrites its own ledger
    partition instead of double-appending — exactly-once over the
    at-least-once trigger with zero wrapper-side ledger bookkeeping.
    The oracle is `neardup_incremental_ledger`'s sequential band-
    arithmetic replay, shared verbatim: a mis-ordered batch, ledger
    leak, or at-least-once duplicate breaks the hash."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators.dedup import neardup_incremental
    from gcp_etl_pipeline_spark.sources.files import read_parquet

    root = scratch_dir("sndledger")
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    src = core.stage_ordered_files(
        root, [docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1")]
    )

    store = f"{root}/bands"
    out_dir = f"{root}/accepted"

    def process(batch: DataFrame, batch_id: int) -> None:
        from gcp_etl_pipeline_spark.operators import dedup_queries as dq

        acc = neardup_incremental(
            batch, store,
            num_hashes=dq._NUM_HASHES, bands=dq._BANDS,
            attempt_id=f"b{batch_id}",
        )
        acc.select("doc_id", "lang").write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}"
        )

    core.drain(core.file_stream(spark, docs.schema, src), process=process)
    return spark.read.parquet(out_dir).select(
        F.when(F.col("doc_id") % 2 == 0, 1).otherwise(2)
        .cast("int").alias("batch"),
        "doc_id", "lang",
    )


def _register_stream_neardup() -> None:
    # the oracle is the batch ledger query's sequential replay, shared
    # verbatim (same even/odd split, same band arithmetic)
    from gcp_etl_pipeline_spark.operators.dedup_queries import (
        _neardup_incremental_oracle,
    )

    register(
        "stream_neardup_ledger",
        _q_stream_neardup_ledger,
        _neardup_incremental_oracle(),
    )


_register_stream_neardup()


def _q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV cardinality maintenance: documents arrive as two
    ordered micro-batches; each foreachBatch builds the batch's KMV
    partial (k smallest 48-bit shingle hashes, operators/sketches.py)
    and merges it into a chained k-min store — kmv_merge is
    set-deterministic, so the final sketch is bit-identical to
    sketching the whole corpus in one shot, which is EXACTLY what the
    oracle does (kmv_distinct_estimate's SQL verbatim). The running
    estimate never re-scans prior batches: state is k 8-byte rows.

    Replay-idempotent: each batch overwrites its own batch_id-scoped
    store generation and reads only its PREDECESSOR's — a retried
    micro-batch rewrites generation b rather than merging twice.
    """
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators import dedup, sketches
    from gcp_etl_pipeline_spark.sources.files import read_parquet

    K = 256
    root = scratch_dir("skmv")
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    t = docs.agg(F.floor(F.max("doc_id") / 2)).collect()[0][0]
    src = core.stage_ordered_files(
        root, [docs.where(f"doc_id <= {t}"), docs.where(f"doc_id > {t}")]
    )

    store = f"{root}/kmv"

    def process(batch: DataFrame, batch_id: int) -> None:
        spark_b = batch.sparkSession
        part = sketches.kmv_sketch(
            dedup.shingle_sets(batch).select("shingle"), "shingle", K
        )
        prev = f"{store}/b{batch_id - 1}"
        if os.path.isdir(prev):
            part = sketches.kmv_merge(
                part, spark_b.read.parquet(prev), K
            )
        part.coalesce(1).write.mode("overwrite").parquet(
            f"{store}/b{batch_id}"
        )

    core.drain(core.file_stream(spark, docs.schema, src), process=process)
    final = spark.read.parquet(f"{store}/b1")
    exact = (
        dedup.shingle_sets(docs)
        .select("shingle")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_distinct"))
    )
    return sketches.kmv_report(final, exact, K)


from gcp_etl_pipeline_spark.operators.audit_queries import KMV_ORACLE_SQL

register("stream_kmv_distinct", _q_stream_kmv, KMV_ORACLE_SQL)


def _q_stream_substring_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming substring excision: the documents table arrives as two
    ordered micro-batches; each foreachBatch invocation runs
    `substring_excise_incremental` against the shared chunk-fingerprint
    ledger with a batch-scoped attempt_id (replay-idempotent: a retried
    batch overwrites its attempt partition and never excises against its
    own first attempt). The oracle replays both batches sequentially —
    batch 2's excise set is its own in-batch duplicates UNION every
    chunk fingerprint batch 1 contributed."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators.dedup import (
        substring_excise_incremental,
    )
    from gcp_etl_pipeline_spark.sources.files import read_parquet

    root = scratch_dir("sexcise")
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    t = docs.agg(F.floor(F.max("doc_id") / 2)).collect()[0][0]
    src = core.stage_ordered_files(
        root, [docs.where(f"doc_id <= {t}"), docs.where(f"doc_id > {t}")]
    )

    store = f"{root}/chunk_fps"
    out_dir = f"{root}/cleaned"

    def process(batch: DataFrame, batch_id: int) -> None:
        out = substring_excise_incremental(
            batch, store, attempt_id=f"b{batch_id}"
        )
        out.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    core.drain(core.file_stream(spark, docs.schema, src), process=process)
    return spark.read.parquet(out_dir).select(
        F.when(F.col("doc_id") <= t, 1).otherwise(2).cast("int").alias("batch"),
        "doc_id", "n_chunks", "excised_chunks", "kept_tokens", "clean_text",
    )


def _stream_excise_oracle() -> str:
    # the shared N-increment replay builder (dedup_queries) — ONE oracle
    # definition for the batch-compaction and streaming lifecycles
    from gcp_etl_pipeline_spark.operators.dedup_queries import (
        excise_replay_oracle,
    )

    return excise_replay_oracle(
        [
            "doc_id <= (SELECT t FROM tsplit)",
            "doc_id > (SELECT t FROM tsplit)",
        ],
        extra_cte=(
            "tsplit AS (SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS t"
            " FROM documents)"
        ),
    )


register(
    "stream_substring_excise",
    _q_stream_substring_excise,
    _stream_excise_oracle(),
)


def _q_stream_phash_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming image near-dup: the 300-image corpus of
    `image_phash_incremental_ledger` (same planted variant classes)
    arrives as two ordered micro-batches — evens then odds — and each
    foreachBatch invocation runs `phash_incremental` against the shared
    perceptual-band ledger with a batch-scoped attempt_id
    (replay-idempotent retries, never excising against its own first
    attempt). Accepted ids land per batch; the oracle is the BATCH
    query's full band-set-algebra replay, shared verbatim — the
    streaming path must converge to exactly the batch semantics."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators.curation_queries import (
        phash_ledger_corpus,  # the ONE shared planted-class corpus
    )
    from gcp_etl_pipeline_spark.operators.dedup import phash_incremental

    root = scratch_dir("sphash")
    media = phash_ledger_corpus(spark)
    src = core.stage_ordered_files(
        root, [media.where("media_id % 2 = 0"), media.where("media_id % 2 = 1")]
    )

    store = f"{root}/bands"
    out_dir = f"{root}/accepted"

    def process(batch: DataFrame, batch_id: int) -> None:
        acc = phash_incremental(batch, store, attempt_id=f"b{batch_id}")
        acc.select("media_id").write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}"
        )

    stream = core.file_stream(spark, "media_id BIGINT, content BINARY", src)
    core.drain(stream, process=process)
    return spark.read.parquet(out_dir).select(
        F.when(F.col("media_id") % 2 == 0, 1).otherwise(2)
        .cast("int").alias("batch"),
        "media_id",
    )


def _stream_phash_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        _PHASH_LEDGER_ORACLE,
    )

    return _PHASH_LEDGER_ORACLE


register(
    "stream_phash_ledger",
    _q_stream_phash_ledger,
    _stream_phash_oracle(),
)


def _q_stream_html_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the HTML intake chain: raw HTML pages arrive as
    two id-ordered micro-batches; each foreachBatch invocation runs
    extract -> quality gates -> language gate -> `dedup_incremental`
    against the shared exact-fingerprint ledger with a batch-scoped
    attempt_id. Because the batches are id-ordered and the in-batch
    rule keeps the min id, the two-phase ledger rule converges to the
    BATCH chain's global min-id-per-fingerprint exactly — the oracle is
    `_html_intake_oracle()` shared verbatim."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators import text as _text
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        html_intake_stream_src,
    )
    from gcp_etl_pipeline_spark.operators.dedup import dedup_incremental

    root = scratch_dir("shtml")
    # the session-cached pre-split dirty corpus shared with the batch
    # twin — one fixture generation per (session, sf_dir); each run
    # still gets ITS OWN checkpoint, ledger, and sink below
    src = html_intake_stream_src(spark, sf_dir)

    store = f"{root}/fps"
    out_dir = f"{root}/accepted"

    def process(batch: DataFrame, batch_id: int) -> None:
        # spread: a one-file micro-batch is ONE split — without the
        # guard the fused extract chain runs on a single core
        extracted = spread(batch).select(
            "doc_id",
            "source",
            _text.html_to_text(_text.repair_encoding("html")).alias("text"),
        ).localCheckpoint(eager=True)  # same inlining trap as the batch twin
        q = _text.quality_features(extracted)
        filtered = q.where(
            (F.col("n_tokens") >= 15)
            & (F.col("alpha_ratio") >= 0.45)
            & (_text.lang_id("text") == "en")
        ).select("doc_id", "source", "n_tokens", "text")
        acc = dedup_incremental(filtered, store, attempt_id=f"b{batch_id}")
        acc.select("doc_id", "source", "n_tokens").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch={batch_id}")

    stream = core.file_stream(spark, "doc_id BIGINT, source STRING, html STRING", src)
    core.drain(stream, process=process)
    return spark.read.parquet(out_dir).select("doc_id", "source", "n_tokens")


def _stream_html_intake_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        _html_intake_oracle,
    )

    return _html_intake_oracle()


register(
    "stream_html_intake",
    _q_stream_html_intake,
    _stream_html_intake_oracle(),
)


def _q_stream_warc_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the fetch-store intake: WARC blob chunks land
    one file per micro-batch (the object-storage arrival shape); each
    foreachBatch invocation runs the Content-Length record walk -> HTTP
    envelope parse -> fetchability gate -> triage + token count. The
    chain is per-record stateless, so the union of micro-batch outputs
    must equal the batch twin EXACTLY — the oracle is
    ``_warc_intake_oracle()`` shared verbatim."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators import text as _text
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        _WARC_MAX_RECORDS,
        warc_stream_src,
    )

    root = scratch_dir("swarc")
    src = warc_stream_src(spark, sf_dir)
    out_dir = f"{root}/parsed"

    def process(batch: DataFrame, batch_id: int) -> None:
        recs = batch.select(
            F.posexplode(
                _text.warc_records("blob", max_records=_WARC_MAX_RECORDS)
            ).alias("pos", "rec")
        )
        gated = _text.warc_envelope(recs).where(
            (F.col("status_code") == 200)
            & F.col("content_type").startswith("text/")
        )
        gated.select(
            "url",
            _text.fetch_triage("body").alias("verdict"),
            _text.token_count("body").cast("bigint").alias("n_tokens"),
        ).write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    stream = core.file_stream(spark, "blob_id BIGINT, blob STRING", src)
    core.drain(stream, process=process)
    return spark.read.parquet(out_dir).select("url", "verdict", "n_tokens")


def _stream_warc_intake_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        _warc_intake_oracle,
    )

    return _warc_intake_oracle()


register(
    "stream_warc_intake",
    _q_stream_warc_intake,
    _stream_warc_intake_oracle(),
)


def _q_stream_warcgz_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the COMPRESSED fetch-store intake: warc.gz
    blob chunks land one file per micro-batch; each foreachBatch runs
    member split + inflate (gunzip_store — mapInPandas composes inside
    foreachBatch untouched) -> the shared record walk -> envelope ->
    gate -> triage + token count. Per-record stateless, so the
    micro-batch union equals the batch twin exactly; the oracle is
    ``_warcgz_intake_oracle()`` shared verbatim."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators import text as _text
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        _WARC_MAX_RECORDS,
        warcgz_stream_src,
    )

    root = scratch_dir("swarcgz")
    src = warcgz_stream_src(spark, sf_dir)
    out_dir = f"{root}/parsed"

    def process(batch: DataFrame, batch_id: int) -> None:
        recs = _text.gunzip_store(batch, "gz", "blob").select(
            F.posexplode(
                _text.warc_records("blob", max_records=_WARC_MAX_RECORDS)
            ).alias("pos", "rec")
        )
        gated = _text.warc_envelope(recs).where(
            (F.col("status_code") == 200)
            & F.col("content_type").startswith("text/")
        )
        gated.select(
            "url",
            _text.fetch_triage("body").alias("verdict"),
            _text.token_count("body").cast("bigint").alias("n_tokens"),
        ).write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    stream = core.file_stream(spark, "blob_id BIGINT, gz BINARY", src)
    core.drain(stream, process=process)
    return spark.read.parquet(out_dir).select("url", "verdict", "n_tokens")


def _stream_warcgz_intake_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        _warcgz_intake_oracle,
    )

    return _warcgz_intake_oracle()


register(
    "stream_warcgz_intake",
    _q_stream_warcgz_intake,
    _stream_warcgz_intake_oracle(),
)


def _q_stream_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the frontier's dedup+politeness core:
    discovered URLs arrive as two key-ordered micro-batches; each
    foreachBatch invocation canonicalizes (normalize_url ->
    strip_tracking_params), dedups against the shared canonical-URL
    fingerprint ledger (`dedup_incremental` on the URL string with a
    batch-scoped attempt id — min discovering key in-batch, anti-join
    on history), then applies the per-origin robots verdict. Key-
    ordered batches + the min-key rule converge to the BATCH chain's
    global min-key-per-URL, so the oracle is the frontier pipeline's
    shared verdict CTE (no budget stage: an md5-order quota is not
    prefix-stable across increments — the batch pipeline grades it)."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators import curation as _cur
    from gcp_etl_pipeline_spark.operators import text as _text
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        _ROBOTS_RULES,
        frontier_stream_src,
    )
    from gcp_etl_pipeline_spark.operators.dedup import dedup_incremental

    root = scratch_dir("sfront")
    src = frontier_stream_src(spark, sf_dir)
    store = f"{root}/urlfps"
    out_dir = f"{root}/enqueued"
    rules = spark.createDataFrame(
        list(_ROBOTS_RULES), "host STRING, path_prefix STRING, allow BOOLEAN"
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        # spread before the 15-regex canonicalization (one-file batch)
        canon = spread(batch).select(
            "o_orderkey",
            _text.strip_tracking_params(
                _text.normalize_url("raw_url")
            ).alias("url"),
        )
        # pre-reduce to (url, min key) with ONE map-side-combined
        # shuffle BEFORE the ledger call: dedup_exact inside
        # dedup_incremental retains payload columns via a join-back,
        # which re-runs the 15-regex canonicalization on both legs —
        # measured ~5s/batch at sf0.1 vs ~1.5s for this form (the
        # semantics are identical: min discovering key per URL)
        canon = canon.groupBy("url").agg(
            F.min("o_orderkey").alias("o_orderkey")
        )
        acc = dedup_incremental(
            canon, store, text_col="url", id_col="o_orderkey",
            attempt_id=f"b{batch_id}",
        )
        fetchable = (
            _cur.robots_filter(acc, rules, assume_distinct=True)
            .where(F.col("allowed"))
        )
        fetchable.select(
            "url", F.col("o_orderkey").alias("first_key")
        ).write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    stream = core.file_stream(spark, "o_orderkey BIGINT, raw_url STRING", src)
    core.drain(stream, process=process)
    return spark.read.parquet(out_dir).select("url", "first_key")


def _stream_frontier_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        _frontier_verdict_cte,
    )

    return f"""{_frontier_verdict_cte()}
    SELECT url, first_key FROM verd WHERE allowed
    """


register(
    "stream_frontier_dedup",
    _q_stream_frontier,
    _stream_frontier_oracle(),
)


def _q_stream_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of recrawl scheduling — a CONTINUOUSLY MAINTAINED
    per-URL state table, not a dedup ledger: each time-ordered
    micro-batch reduces to per-URL aggregates (count, in-batch change
    count via lag, first/last fetch as lexicographic struct min/max),
    then a full-outer merge with the previous state snapshot adds the
    BOUNDARY comparison (state's last fingerprint vs the batch's first
    — the change the per-batch lag can't see) and writes snapshot
    ``state/batch=k`` (a retried batch re-reads k-1 and overwrites k:
    exactly-once over at-least-once). Time-ordered batches make the
    merged state equal the batch chain's global aggregates, so the
    final schedule projection (shared `schedule_from_aggregates`)
    grades against the batch recrawl oracle VERBATIM.

    Scale shape: state is |URLs| rows keyed by url_id; each batch costs
    one groupBy over the increment + one url-keyed merge join — the
    fetch log itself is never re-scanned."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators.curation import (
        schedule_from_aggregates,
    )
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        recrawl_stream_src,
    )

    root = scratch_dir("srecrawl")
    src = recrawl_stream_src(spark, sf_dir)
    state_dir = f"{root}/state"

    def process(batch: DataFrame, batch_id: int) -> None:
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        w = Window.partitionBy("url_id").orderBy(us, F.col("fetch_id"))
        marked = batch.select(
            "url_id",
            us.alias("__us"),
            F.col("fetch_id").alias("__fid"),
            F.col("content_fp").alias("__fp"),
            (F.col("content_fp") != F.lag("content_fp").over(w))
            .cast("bigint")
            .alias("__chg"),
        )
        agg = marked.groupBy("url_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("b_n"),
            F.sum(F.coalesce("__chg", F.lit(0)))
            .cast("bigint")
            .alias("b_changes"),
            F.min(F.struct("__us", "__fid", "__fp")).alias("b_first"),
            F.max(F.struct("__us", "__fid", "__fp")).alias("b_last"),
        )
        prev_path = f"{state_dir}/batch={batch_id - 1}"
        if os.path.isdir(prev_path):
            prev = spark.read.parquet(prev_path)
        else:
            prev = spark.createDataFrame(
                [],
                "url_id BIGINT, n_fetches BIGINT, n_changes BIGINT, "
                "first_us BIGINT, last_us BIGINT, last_fp STRING",
            )
        merged = prev.join(agg, "url_id", "full_outer").select(
            "url_id",
            (F.coalesce("n_fetches", F.lit(0)) + F.coalesce("b_n", F.lit(0)))
            .cast("bigint")
            .alias("n_fetches"),
            (
                F.coalesce("n_changes", F.lit(0))
                + F.coalesce("b_changes", F.lit(0))
                + F.when(
                    F.col("last_fp").isNotNull()
                    & F.col("b_first").isNotNull()
                    & (F.col("last_fp") != F.col("b_first.__fp")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_changes"),
            F.coalesce("first_us", F.col("b_first.__us"))
            .cast("bigint")
            .alias("first_us"),
            F.coalesce(F.col("b_last.__us"), F.col("last_us"))
            .cast("bigint")
            .alias("last_us"),
            F.coalesce(F.col("b_last.__fp"), F.col("last_fp")).alias(
                "last_fp"
            ),
        )
        merged.write.mode("overwrite").parquet(
            f"{state_dir}/batch={batch_id}"
        )

    stream = core.file_stream(
        spark, "url_id BIGINT, ts TIMESTAMP, fetch_id BIGINT, content_fp STRING", src
    )
    core.drain(stream, process=process)
    last = max(
        int(d.split("=")[1])
        for d in os.listdir(state_dir)
        if d.startswith("batch=")
    )
    state = spark.read.parquet(f"{state_dir}/batch={last}")
    agg = state.select(
        "url_id",
        "n_fetches",
        "n_changes",
        (F.col("last_us") - F.col("first_us")).cast("bigint").alias("span_us"),
    )
    return schedule_from_aggregates(agg)


def _stream_recrawl_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        _recrawl_oracle,
    )

    return _recrawl_oracle()


register(
    "stream_recrawl_schedule",
    _q_stream_recrawl,
    _stream_recrawl_oracle(),
)


def _q_stream_sitemap_discovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of the robots->sitemap->page-URL discovery
    pipeline: per-host
    discovery bundles (robots.txt + the host's sitemap document) land
    one file per micro-batch; each foreachBatch invocation runs the
    SHARED ``sitemap_discovery_stage`` (directive extraction ->
    canonical-URL join -> structural parse -> normalized URLs). The
    chain is per-host stateless, so the union of micro-batch outputs
    must equal the batch twin EXACTLY — the oracle is
    ``_sitemap_discovery_oracle()`` shared verbatim."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators.curation_queries import (
        sitemap_disc_stream_src,
        sitemap_discovery_stage,
    )

    root = scratch_dir("ssitemap")
    src = sitemap_disc_stream_src(spark, sf_dir)
    out_dir = f"{root}/parsed"

    def process(batch: DataFrame, batch_id: int) -> None:
        b = spread(batch)  # one-file micro-batch = one split
        parsed = sitemap_discovery_stage(
            b.select("host", "robots_txt"),
            b.select("host_id", "sitemap_url", "xml"),
        )
        parsed.select(
            "host_id",
            "entry_no",
            "url",
            F.when(
                F.col("lastmod") != "",
                F.col("lastmod").cast("date")
                >= F.lit("2024-07-01").cast("date"),
            ).otherwise(F.lit(False)).alias("is_fresh"),
        ).write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    stream = core.file_stream(
        spark,
        "host_id BIGINT, host STRING, robots_txt STRING,"
        " sitemap_url STRING, xml STRING",
        src,
    )
    core.drain(stream, process=process)
    return spark.read.parquet(out_dir).select(
        "host_id", "entry_no", "url", "is_fresh"
    )


def _stream_sitemap_discovery_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        _sitemap_discovery_oracle,
    )

    return _sitemap_discovery_oracle()


register(
    "stream_sitemap_discovery",
    _q_stream_sitemap_discovery,
    _stream_sitemap_discovery_oracle(),
)


def _q_stream_feed_discovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of feed-based discovery: per-host RSS/Atom feed
    documents land one file per micro-batch; each foreachBatch
    invocation runs the SHARED ``feed_discovery_stage`` (kind sniff ->
    per-element parse -> normalized URLs + published epochs). Per-host
    stateless, so the micro-batch union equals the batch twin — the
    oracle is ``_feed_discovery_oracle()`` shared verbatim."""
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        feed_discovery_stage,
        feed_stream_src,
    )

    root = scratch_dir("sfeed")
    src = feed_stream_src(spark, sf_dir)
    out_dir = f"{root}/parsed"

    def process(batch: DataFrame, batch_id: int) -> None:
        feed_discovery_stage(spread(batch)).write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}"
        )

    stream = core.file_stream(spark, "host_id BIGINT, xml STRING", src)
    core.drain(stream, process=process)
    return spark.read.parquet(out_dir).select(
        "host_id", "entry_no", "kind", "url", "published_s"
    )


def _stream_feed_discovery_oracle() -> str:
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        _feed_discovery_oracle,
    )

    return _feed_discovery_oracle()


register(
    "stream_feed_discovery",
    _q_stream_feed_discovery,
    _stream_feed_discovery_oracle(),
)
