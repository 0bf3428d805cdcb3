"""Query registry — the single source of truth for the driver contract.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with a
DuckDB oracle SQL string (or None for non-SQL-expressible ops, which get a
rows-only check). Modules register their queries here; ``__spark_entry__``
re-exports.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gcp_etl_pipeline_spark.session import scratch_dir

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    # a duplicate name silently replacing an earlier query once cost a
    # whole registered query (two modules both claiming cohort_retention)
    if name in _QUERIES:
        raise ValueError(f"query {name!r} already registered")
    _QUERIES[name] = fn
    if oracle is not None:
        _ORACLES[name] = oracle


def _self_contained(fn: QueryFn) -> QueryFn:
    """Pin the session confs every graded query needs, at dispatch time.

    The grading harness builds a STOCK SparkSession (none of session.py's
    defaults), so each query must carry its own conf. UTC is set without
    restore deliberately: the returned DataFrame is lazy and the conf must
    still hold when the harness collects it.
    """

    def wrapped(spark: SparkSession, sf_dir: str, _fn: QueryFn = fn) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return _fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, QueryFn]:
    """All graded queries in registration order — the neutral,
    content-independent order in which modules register() them (fixed by
    the _QUERY_MODULES tuple and each module's top-level code, so it is
    deterministic across processes and rounds and depends on nothing but
    the source tree)."""
    _load_all()
    return {name: _self_contained(fn) for name, fn in _QUERIES.items()}


def oracles() -> dict[str, str]:
    _load_all()
    return dict(_ORACLES)


_LOADED = False


# modules whose IMPORT performs top-level register() calls — the SAME tuple
# drives both the import loop in _load_all_inner and the sys.modules
# eviction on a partial-load failure, so the two can never drift (a module
# imported but not evicted would silently lose its queries after rollback:
# cached top-level code is a no-op on re-import)
_QUERY_MODULES = (
    "gcp_etl_pipeline_spark.operators.audit_queries",
    "gcp_etl_pipeline_spark.queries_analytic",
    "gcp_etl_pipeline_spark.queries_relational",
    "gcp_etl_pipeline_spark.operators.curation_queries",
    "gcp_etl_pipeline_spark.operators.dedup_queries",
    "gcp_etl_pipeline_spark.operators.graph_queries",
    "gcp_etl_pipeline_spark.operators.cluster_quality_queries",
    "gcp_etl_pipeline_spark.operators.temporal_queries",
    "gcp_etl_pipeline_spark.sources.kafka_queries",
    "gcp_etl_pipeline_spark.streaming.queries",
)


def _load_all() -> None:
    """Import every module that registers queries (idempotent). A partial
    failure rolls the registry back to empty AND evicts the query modules
    from sys.modules, so a retry re-imports and re-registers everything
    instead of tripping the duplicate-name guard or silently losing the
    modules that imported before the failure."""
    global _LOADED
    if _LOADED:
        return
    try:
        _load_all_inner()
    except Exception:
        import sys

        _QUERIES.clear()
        _ORACLES.clear()
        for mod in _QUERY_MODULES:
            sys.modules.pop(mod, None)
        raise
    _LOADED = True


def _load_all_inner() -> None:
    from gcp_etl_pipeline_spark.plans import gosales

    for stage, fn in gosales.STAGES.items():
        register(f"gosales_{stage}", fn, gosales.oracle(stage))

    # the CONTINUOUS deployment of the same vertical: stage raw files,
    # drain through foreachBatch dims+fact maintenance, roll up from the
    # written tables — must match the BATCH overview oracle exactly
    def _q_stream_gosales(spark, sf_dir):
        from gcp_etl_pipeline_spark.plans import gosales_streaming as gs

        root = scratch_dir("gsstream")
        gs.stage_raw_stream(spark, sf_dir, f"{root}/raw", n_files=4)
        gs.run_streaming_gosales(spark, sf_dir, f"{root}/raw", f"{root}/wh")
        return gs.overview_from_warehouse(spark, sf_dir, f"{root}/wh")

    register(
        "stream_gosales_overview", _q_stream_gosales, gosales.oracle("sales_overview")
    )

    # the same vertical THROUGH the session catalog (SURVEY §1.1.1):
    # curated tables written via saveAsTable, every read via spark.table —
    # the reference's `{project}.{env}_curated.*` dataset addressing
    # (`tl_sm_gosales_overview_01.sql:22-25`) as catalog namespaces
    def _q_gosales_catalog(spark, sf_dir):
        from gcp_etl_pipeline_spark.operators.curation_queries import session_root
        from gcp_etl_pipeline_spark.sinks.catalog import run_gosales_catalog

        # session-stable root: ensure_namespaces is first-call-wins on the
        # database LOCATION, so repeat runs (bench warm-up + timed passes)
        # must target the same root or they'd silently write under the
        # first call's abandoned tmpdir
        root = session_root(spark, "cat")
        return run_gosales_catalog(spark, sf_dir, root)

    register(
        "gosales_catalog_overview", _q_gosales_catalog,
        gosales.oracle("sales_overview"),
    )

    import importlib

    for mod in _QUERY_MODULES:
        importlib.import_module(mod)

    from gcp_etl_pipeline_spark.operators import multimodal

    def _q_multimodal(spark, sf_dir, _n=256):
        from pyspark.sql import functions as F

        media = multimodal.make_fake_media(spark, n=_n)
        dec = multimodal.decode_media(media)
        emb = multimodal.media_embeddings(media)

        # flatten the array<float> to EXACT scalar digests: each float32
        # component is v'/2^32 (v' = the md5-derived uint32 after float32
        # rounding), so floor(float64(x) * 2^32) recovers v' exactly —
        # integer digests compare bit-stably across engines, where raw
        # float rounding (round-half modes differ) would not
        def u32(x):
            return F.floor(x.cast("double") * F.lit(4294967296.0)).cast("long")

        return dec.join(emb, "media_id").select(
            "media_id", "kind", "width", "height", "n_frames", "mean_byte",
            F.size("embedding").alias("emb_dim"),
            u32(F.element_at("embedding", 1)).alias("emb_first_u32"),
            F.aggregate(
                "embedding", F.lit(0).cast("long"),
                lambda acc, x: acc + u32(x),
            ).alias("emb_sum_u32"),
        )

    # closed-form oracle: every field is a pure function of media_id —
    # the payload is 16 md5 chunks of f"{id}|{c}", its hex form feeds the
    # embedding hash md5(f"{hex}|{k}"), and DuckDB reproduces both from
    # range() arithmetic without ever constructing a blob. Any corruption
    # in encode/decode (header packing, payload generation, the Arrow
    # decode loop, float32 embedding conversion) breaks the hash match.
    _NIB = "strpos('0123456789abcdef', substring({h}, {pos}, 1)) - 1"
    _mm_oracle = f"""
    WITH g AS (SELECT unnest(range(256)) AS i),
    pay AS (SELECT i, list_transform(range(16),
              c -> md5(CAST(i AS VARCHAR) || '|' || CAST(c AS VARCHAR)))
            AS chunks FROM g),
    pj AS (SELECT i, chunks,
             list_aggregate(chunks, 'string_agg', '') AS hex FROM pay),
    bs AS (SELECT i, hex,
             list_sum(list_transform(chunks, ch ->
               list_sum(list_transform(range(16), j ->
                 ({_NIB.format(h='ch', pos='2*j+1')}) * 16
                 + ({_NIB.format(h='ch', pos='2*j+2')}))))) AS byte_sum
           FROM pj),
    ev AS (SELECT i,
             list_transform(range(16), k ->
               CAST(FLOOR(CAST(CAST(
                 list_sum(list_transform(range(1, 9), j ->
                   CAST({_NIB.format(h="md5(hex || '|' || CAST(k AS VARCHAR))", pos='j')} AS BIGINT)
                   * CAST(power(16, 8 - j) AS BIGINT)))
                 / 4294967296.0 AS REAL) AS DOUBLE) * 4294967296.0) AS BIGINT))
             AS digests
           FROM pj)
    SELECT bs.i AS media_id,
           CASE bs.i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(16 + (bs.i % 8) * 16 AS INT) AS width,
           CAST(16 + (bs.i % 5) * 16 AS INT) AS height,
           CAST(CASE WHEN bs.i % 3 = 0 THEN 1 ELSE 4 + bs.i % 13 END AS INT)
             AS n_frames,
           CAST(bs.byte_sum AS DOUBLE) / 256 AS mean_byte,
           CAST(16 AS INT) AS emb_dim,
           ev.digests[1] AS emb_first_u32,
           CAST(list_sum(ev.digests) AS BIGINT) AS emb_sum_u32
    FROM bs JOIN ev ON bs.i = ev.i
    """
    register("multimodal_decode_embed", _q_multimodal, _mm_oracle)

    # custom Python DataSource → binary blobs → Arrow decode, checked
    # against closed-form arithmetic: the header fields are pure functions
    # of media_id, so a DuckDB range() oracle reproduces the grouped sums
    # without ever seeing a blob — any corruption in the encode/decode
    # loop (or in the source's partitioned row generation) breaks the
    # hash match.
    def _q_pysource_media(spark, sf_dir, _n=512):
        from pyspark.sql import functions as F

        from gcp_etl_pipeline_spark.sources.pysource import register_sources

        register_sources(spark)
        media = (
            spark.read.format("graftmedia")
            .option("n", _n)
            .option("parts", 8)
            .load()
        )
        dec = multimodal.decode_media(media)
        return dec.groupBy("kind").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("width").cast("bigint").alias("sum_width"),
            F.sum("height").cast("bigint").alias("sum_height"),
            F.sum("n_frames").cast("bigint").alias("sum_frames"),
        )

    # REAL formats end-to-end: distributed generation of spec-valid PNG
    # (zlib codec) and WAV (stdlib wave) blobs, decoded by the engine's
    # default codec inside Arrow batches; grouped sums check against
    # closed-form range() arithmetic — constant-pixel/sample payloads
    # make every mean an exact integer.
    def _q_real_codecs(spark, sf_dir, _n=600):
        from pyspark.sql import functions as F

        def gen(batches):
            import pandas as _p

            from gcp_etl_pipeline_spark.operators import codecs

            for pdf in batches:
                ids, blobs = [], []
                for i in pdf["id"]:
                    i = int(i)
                    if i % 2 == 0:
                        w, h = 8 + i % 8, 8 + i % 5
                        blob = codecs.encode_png(w, h, bytes([i % 251]) * (w * h))
                    else:
                        nf = 100 + i % 50
                        blob = codecs.encode_wav(
                            8000 + (i % 4) * 4000, bytes([i % 200]) * nf
                        )
                    ids.append(i)
                    blobs.append(blob)
                yield _p.DataFrame({"media_id": ids, "content": blobs})

        media = spark.range(_n).mapInPandas(
            gen, "media_id BIGINT, content BINARY"
        )
        dec = multimodal.decode_media(media)
        return dec.groupBy("kind").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("width").cast("bigint").alias("sum_width"),
            F.sum("sample_rate").cast("bigint").alias("sum_rate"),
            F.sum("n_frames").cast("bigint").alias("sum_frames"),
            F.sum(F.round("mean_byte", 0)).cast("bigint").alias("sum_mean"),
        )

    register(
        "multimodal_real_codecs",
        _q_real_codecs,
        """
        WITH g AS (SELECT unnest(range(600)) AS i)
        SELECT CASE WHEN i % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN i % 2 = 0 THEN 8 + i % 8 ELSE 0 END)
                    AS BIGINT) AS sum_width,
               CAST(SUM(CASE WHEN i % 2 = 0 THEN 0
                        ELSE 8000 + (i % 4) * 4000 END) AS BIGINT) AS sum_rate,
               CAST(SUM(CASE WHEN i % 2 = 0 THEN 1
                        ELSE 100 + i % 50 END) AS BIGINT) AS sum_frames,
               CAST(SUM(CASE WHEN i % 2 = 0 THEN i % 251
                        ELSE i % 200 END) AS BIGINT) AS sum_mean
        FROM g GROUP BY 1
        """,
    )

    # snapshot versioning: write v1, keyed-upsert to v2, read BOTH via
    # time travel — the oracle recomputes each version's state from the
    # parquet truth, so a torn write, wrong pointer, or upsert leak
    # breaks the hash
    def _q_time_travel(spark, sf_dir):
        from pyspark.sql import functions as F

        from gcp_etl_pipeline_spark.queries_relational import ensure_views
        from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

        ensure_views(spark, sf_dir)
        t = VersionedTable(scratch_dir("vt") + "/orders")
        orders = spark.table("orders").select(
            F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s")
        )
        t.write(orders.where("k < 5000"))
        t.upsert(
            orders.where("k >= 2500 AND k < 7500").withColumn("s", F.lit("X")),
            keys=["k"],
        )
        out = []
        for v in (1, 2):
            df = t.read(spark, v)
            out.append(
                df.agg(
                    F.lit(v).cast("int").alias("version"),
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(F.col("s") == "X", 1).otherwise(0))
                    .cast("bigint")
                    .alias("n_x"),
                    F.sum("k").cast("bigint").alias("keysum"),
                )
            )
        return out[0].unionAll(out[1])

    # change data feed between snapshots (Delta CDF analogue): the same
    # v1→v2 scenario, diffed — inserts are the appended key range,
    # updates the overwritten one, deletes empty (and must stay absent)
    def _q_versioned_changes(spark, sf_dir):
        from pyspark.sql import functions as F

        from gcp_etl_pipeline_spark.queries_relational import ensure_views
        from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

        ensure_views(spark, sf_dir)
        t = VersionedTable(scratch_dir("vcdf") + "/orders")
        orders = spark.table("orders").select(
            F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s")
        )
        # modulo-based key ranges: non-empty I/U/unchanged classes at ANY
        # scale factor (absolute thresholds left the diff empty at
        # sf0.001, reducing the check to a no-op there)
        t.write(orders.where("k % 4 < 3"))
        t.upsert(
            orders.where("k % 4 >= 2").withColumn("s", F.lit("X")),
            keys=["k"],
        )
        return (
            t.diff(spark, 1, 2, keys=["k"])
            .groupBy("change_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("k").cast("bigint").alias("keysum"),
            )
        )

    register(
        "versioned_changes",
        _q_versioned_changes,
        """
        WITH o AS (SELECT o_orderkey AS k FROM orders)
        SELECT 'I' AS change_type, COUNT(*) AS n,
               CAST(SUM(k) AS BIGINT) AS keysum
        FROM o WHERE k % 4 = 3
        HAVING COUNT(*) > 0
        UNION ALL
        SELECT 'U', COUNT(*), CAST(SUM(k) AS BIGINT)
        FROM o WHERE k % 4 = 2
        HAVING COUNT(*) > 0
        """,
    )

    # GDPR-shaped keyed delete: drop a key set into a new snapshot, then
    # verify BOTH the post-delete state and that pre-delete time travel
    # still works (erasure = delete + vacuum, per the operator contract)
    def _q_versioned_delete(spark, sf_dir):
        from pyspark.sql import functions as F

        from gcp_etl_pipeline_spark.queries_relational import ensure_views
        from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

        ensure_views(spark, sf_dir)
        t = VersionedTable(scratch_dir("vdel") + "/orders")
        orders = spark.table("orders").select(
            F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s")
        )
        t.write(orders.where("k % 3 < 2"))
        t.delete(orders.where("k % 10 = 3"), keys=["k"])
        out = []
        for v in (1, 2):
            out.append(
                t.read(spark, v).agg(
                    F.lit(v).cast("int").alias("version"),
                    F.count(F.lit(1)).alias("n"),
                    F.sum("k").cast("bigint").alias("keysum"),
                )
            )
        return out[0].unionAll(out[1])

    register(
        "versioned_delete",
        _q_versioned_delete,
        """
        WITH o AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 < 2)
        SELECT CAST(1 AS INT) AS version, COUNT(*) AS n,
               CAST(SUM(k) AS BIGINT) AS keysum FROM o
        UNION ALL
        SELECT CAST(2 AS INT), COUNT(*), CAST(SUM(k) AS BIGINT)
        FROM o WHERE k % 10 <> 3
        """,
    )

    # the reference's declared merge_column contract EXECUTED end-to-end
    # (`commons/utilities.py:193`, `commons/dictionary_check.py:11`):
    # without Delta, operators/upsert.py runs the engine-native
    # VersionedTable merge, so the WHEN
    # MATCHED UPDATE / NOT MATCHED INSERT path actually runs — the oracle
    # recomputes the merged state from the parquet truth
    def _q_merge_upsert(spark, sf_dir):
        from pyspark.sql import functions as F

        from gcp_etl_pipeline_spark.operators.upsert import read_table, upsert
        from gcp_etl_pipeline_spark.queries_relational import ensure_views

        ensure_views(spark, sf_dir)
        orders = spark.table("orders").select(
            F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s")
        )
        path = scratch_dir("merge") + "/t"
        upsert(orders.where("k % 3 < 2"), path, keys=["k"])
        upsert(
            orders.where("k % 2 = 0").withColumn("s", F.lit("M")),
            path,
            keys=["k"],
        )
        return read_table(spark, path).groupBy("s").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("keysum"),
        )

    register(
        "merge_upsert_contract",
        _q_merge_upsert,
        """
        WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS s FROM orders),
        t1 AS (SELECT k, s FROM o WHERE k % 3 < 2),
        src AS (SELECT k, 'M' AS s FROM o WHERE k % 2 = 0),
        merged AS (
          SELECT k, s FROM t1 WHERE k NOT IN (SELECT k FROM src)
          UNION ALL SELECT k, s FROM src
        )
        SELECT s, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS keysum
        FROM merged GROUP BY s
        """,
    )

    # table history as a QUERYABLE dataframe (Delta DESCRIBE HISTORY
    # analogue): every commit's row count and latest-pointer flag after
    # a write→upsert→delete sequence, recomputed closed-form in SQL
    def _q_versioned_history(spark, sf_dir):
        from pyspark.sql import functions as F

        from gcp_etl_pipeline_spark.queries_relational import ensure_views
        from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

        ensure_views(spark, sf_dir)
        t = VersionedTable(scratch_dir("vh") + "/orders")
        orders = spark.table("orders").select(
            F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s")
        )
        t.write(orders.where("k % 4 < 2"))
        t.upsert(orders.where("k % 4 = 2"), keys=["k"])
        t.delete(orders.where("k % 8 = 0"), keys=["k"])
        hist = [
            (e["version"], e["rows"], int(e["is_latest"]))
            for e in t.history()
        ]
        return spark.createDataFrame(
            hist, "version INT, rows BIGINT, is_latest INT"
        )

    register(
        "versioned_history_table",
        _q_versioned_history,
        """
        WITH o AS (SELECT o_orderkey AS k FROM orders)
        SELECT CAST(1 AS INT) AS version,
               (SELECT COUNT(*) FROM o WHERE k % 4 < 2) AS rows,
               CAST(0 AS INT) AS is_latest
        UNION ALL
        SELECT CAST(2 AS INT),
               (SELECT COUNT(*) FROM o WHERE k % 4 < 3), CAST(0 AS INT)
        UNION ALL
        SELECT CAST(3 AS INT),
               (SELECT COUNT(*) FROM o WHERE k % 4 < 3 AND k % 8 <> 0),
               CAST(1 AS INT)
        """,
    )

    # schema evolution across snapshots (Delta mergeSchema analogue):
    # the v2 upsert ADDS a column — kept v1 rows read back NULL for it,
    # source rows carry values, and v1 time travel still shows the old
    # schema's data. Oracle recomputes both versions' aggregates.
    def _q_versioned_evolve(spark, sf_dir):
        from pyspark.sql import functions as F

        from gcp_etl_pipeline_spark.queries_relational import ensure_views
        from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

        ensure_views(spark, sf_dir)
        t = VersionedTable(scratch_dir("vse") + "/orders")
        orders = spark.table("orders").select(
            F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s")
        )
        t.write(orders.where("k % 5 < 3"))
        t.upsert(
            orders.where("k % 5 >= 2").withColumn(
                "pri", (F.col("k") % 7).cast("long")
            ),
            keys=["k"],
            merge_schema=True,
        )
        v2 = t.read(spark, 2)
        return v2.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("pri").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_pri"),
            F.sum(F.coalesce("pri", F.lit(0))).cast("bigint").alias("prisum"),
            F.sum("k").cast("bigint").alias("keysum"),
        )

    # compaction (Delta-OPTIMIZE analogue) as a graded query: v3 is the
    # optimized rewrite of v2 — bit-identical data in fewer files, with
    # v1/v2 still time-travelable. The oracle recomputes each version's
    # aggregates; a compaction that loses/duplicates rows breaks v3.
    def _q_versioned_optimize(spark, sf_dir):
        import glob as _glob
        from pyspark.sql import functions as F

        from gcp_etl_pipeline_spark.queries_relational import ensure_views
        from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

        ensure_views(spark, sf_dir)
        path = scratch_dir("vopt") + "/orders"
        t = VersionedTable(path)
        orders = spark.table("orders").select(
            F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s")
        )
        t.write(orders.where("k % 3 = 0").repartition(16))
        t.upsert(orders.where("k % 3 = 1"), keys=["k"])
        t.optimize(spark, target_files=2)
        n_files = len(_glob.glob(f"{path}/v=3/part-*.parquet"))
        out = []
        for v in (1, 2, 3):
            out.append(
                t.read(spark, v).agg(
                    F.lit(v).cast("int").alias("version"),
                    F.count(F.lit(1)).alias("n"),
                    F.sum("k").cast("bigint").alias("keysum"),
                    F.lit(n_files).cast("int").alias("v3_files"),
                )
            )
        return out[0].unionAll(out[1]).unionAll(out[2])

    register(
        "versioned_optimize",
        _q_versioned_optimize,
        """
        WITH o AS (SELECT o_orderkey AS k FROM orders),
        v1 AS (SELECT k FROM o WHERE k % 3 = 0),
        v2 AS (SELECT k FROM o WHERE k % 3 <= 1)
        SELECT CAST(1 AS INT) AS version, COUNT(*) AS n,
               CAST(SUM(k) AS BIGINT) AS keysum, CAST(2 AS INT) AS v3_files
        FROM v1
        UNION ALL
        SELECT CAST(2 AS INT), COUNT(*), CAST(SUM(k) AS BIGINT), CAST(2 AS INT)
        FROM v2
        UNION ALL
        SELECT CAST(3 AS INT), COUNT(*), CAST(SUM(k) AS BIGINT), CAST(2 AS INT)
        FROM v2
        """,
    )

    register(
        "versioned_schema_evolve",
        _q_versioned_evolve,
        """
        WITH o AS (SELECT o_orderkey AS k FROM orders),
        v2 AS (
          SELECT k, NULL AS pri FROM o WHERE k % 5 < 2
          UNION ALL
          SELECT k, k % 7 AS pri FROM o WHERE k % 5 >= 2
        )
        SELECT COUNT(*) AS n,
               CAST(SUM(CASE WHEN pri IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null_pri,
               CAST(SUM(COALESCE(pri, 0)) AS BIGINT) AS prisum,
               CAST(SUM(k) AS BIGINT) AS keysum
        FROM v2
        """,
    )

    register(
        "versioned_time_travel",
        _q_time_travel,
        """
        WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS s FROM orders),
        v1 AS (SELECT k, s FROM o WHERE k < 5000),
        v2 AS (SELECT k, CASE WHEN k >= 2500 THEN 'X' ELSE s END AS s
               FROM o WHERE k < 5000
               UNION ALL
               SELECT k, 'X' FROM o WHERE k >= 5000 AND k < 7500)
        SELECT CAST(1 AS INT) AS version, COUNT(*) AS n,
               CAST(SUM(CASE WHEN s = 'X' THEN 1 ELSE 0 END) AS BIGINT) AS n_x,
               CAST(SUM(k) AS BIGINT) AS keysum
        FROM v1
        UNION ALL
        SELECT CAST(2 AS INT), COUNT(*),
               CAST(SUM(CASE WHEN s = 'X' THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(k) AS BIGINT)
        FROM v2
        """,
    )

    register(
        "pysource_media_decode",
        _q_pysource_media,
        """
        WITH g AS (SELECT unnest(range(512)) AS i)
        SELECT CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
               ELSE 'video' END AS kind,
               COUNT(*) AS n,
               CAST(SUM(16 + (i % 8) * 16) AS BIGINT) AS sum_width,
               CAST(SUM(16 + (i % 5) * 16) AS BIGINT) AS sum_height,
               CAST(SUM(CASE WHEN i % 3 = 0 THEN 1
                        ELSE 4 + i % 13 END) AS BIGINT) AS sum_frames
        FROM g GROUP BY 1
        """,
    )
