"""Relational operator coverage queries (SURVEY.md §2) over the fixture
tables, each paired with a DuckDB oracle.

Most queries are written once as dialect-templated SQL: Spark SQL and
DuckDB SQL are close enough that only date/epoch/JSON functions differ, so
a tiny placeholder dict per dialect keeps the two sides definitionally
identical. Float aggregates use the µ-unit recipe
(functions/deterministic.py) so value hashes match at any parallelism.

Coverage map (reference operator # → query):
  P1-P3/U1 ingest_cast_ladder     A1 pricing_summary, groupby_ordinal
  P4/F5    date_parse_filter      A2/J4 scalar_max_crossjoin
  P5/F7    coalesce_default       A3 distinct_dedup
  P6/J3    anti_join_new_rows     W1 window_running_total
  J1       join_left_norm_keys    W2 window_row_number, topk_per_group
  J2       join_inner             §2.7 union_all / except_ / intersect_,
  —        join_semi                   order_limit
  F1-F3    normalize_keys         §2.5+ pivot_conditional, rollup_agg,
  F4-F8    (inside the above)          cube_agg
  U2       mask_roundtrip         I2 surrogate_increment
  §2.10    events_tumbling, events_sliding, events_session, json_extract
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.functions.deterministic import (
    det_avg_expr,
    det_sum_expr,
    micro_sum_expr,
)
from gcp_etl_pipeline_spark.registry import register
from gcp_etl_pipeline_spark.session import scratch_dir

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Dialect placeholders. Spark side templates into Spark SQL run over temp
# views; duck side into DuckDB SQL over the driver's pre-registered views.
SPARK_D = {
    # ts -> whole epoch seconds (bigint) — DuckDB's epoch() keeps the
    # fraction, so both sides floor explicitly.
    "epoch": "unix_timestamp",
    "fmt_date": "date_format({}, 'yyyy-MM-dd')",
    "parse_date": "to_date({}, 'yyyy-MM-dd')",
    "json_int": "CAST(get_json_object({}, '$.{}') AS BIGINT)",
    "from_epoch": "CAST(from_unixtime({}) AS TIMESTAMP)",
}
DUCK_D = {
    "epoch": "_floor_epoch",  # expanded in _render
    "fmt_date": "strftime({}, '%Y-%m-%d')",
    "parse_date": "CAST(strptime({}, '%Y-%m-%d') AS DATE)",
    "json_int": "CAST(json_extract_string({}, '$.{}') AS BIGINT)",
    "from_epoch": "to_timestamp({})::TIMESTAMP",
}


def _render(template: str, d: dict) -> str:
    out = template
    # {EPOCH}(x) — whole seconds in both dialects
    while "{EPOCH}(" in out:
        i = out.index("{EPOCH}(")
        j = out.index(")", i + len("{EPOCH}("))
        arg = out[i + len("{EPOCH}(") : j]
        if d["epoch"] == "_floor_epoch":
            repl = f"CAST(FLOOR(epoch({arg})) AS BIGINT)"
        else:
            repl = f"{d['epoch']}({arg})"
        out = out[:i] + repl + out[j + 1 :]
    while "{FMT_DATE(" in out:
        i = out.index("{FMT_DATE(")
        j = out.index(")}", i)
        arg = out[i + len("{FMT_DATE(") : j]
        out = out[:i] + d["fmt_date"].format(arg) + out[j + 2 :]
    while "{PARSE_DATE(" in out:
        i = out.index("{PARSE_DATE(")
        j = out.index(")}", i)
        arg = out[i + len("{PARSE_DATE(") : j]
        out = out[:i] + d["parse_date"].format(arg) + out[j + 2 :]
    while "{JSON_INT(" in out:
        i = out.index("{JSON_INT(")
        j = out.index(")}", i)
        arg, key = out[i + len("{JSON_INT(") : j].split(",")
        out = out[:i] + d["json_int"].format(arg.strip(), key.strip()) + out[j + 2 :]
    while "{FROM_EPOCH(" in out:
        i = out.index("{FROM_EPOCH(")
        j = out.index(")}", i)
        arg = out[i + len("{FROM_EPOCH(") : j]
        out = out[:i] + d["from_epoch"].format(arg) + out[j + 2 :]
    return out


def ensure_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the fixture tables as temp views (cheap; metadata only).

    Also pins ``spark.sql.session.timeZone=UTC`` so every graded query is
    self-contained w.r.t. session conf (the grading harness builds a stock
    session; timestamp rendering/extraction must not depend on machine TZ).
    Deliberately NOT restored: query DataFrames are lazy — the conf must
    still hold when the harness collects, after this function returns.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if getattr(spark, "_graft_views_dir", None) == sf_dir:
        return
    from gcp_etl_pipeline_spark.sources.files import read_parquet

    for t in TABLES:
        read_parquet(spark, f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    spark._graft_views_dir = sf_dir


def shared_sql(name: str, template: str) -> None:
    """Register a query defined once, rendered per dialect."""

    def fn(spark: SparkSession, sf_dir: str, _t=template) -> DataFrame:
        ensure_views(spark, sf_dir)
        return spark.sql(_render(_t, SPARK_D))

    register(name, fn, _render(template, DUCK_D))


# --------------------------------------------------------------------------
# A1 — grouped multi-aggregate (TPC-H Q1 shape; reference thin-layer rollup)
shared_sql(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           {det_sum_expr('l_extendedprice')} AS sum_base_price,
           {det_sum_expr('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {det_avg_expr('l_quantity')} AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)

# A1 variant — GROUP BY ordinals (reference `tl_sm_gosales_overview_01.sql:26`)
shared_sql(
    "groupby_ordinal",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders GROUP BY 1, 2
    """,
)

# P1-P3/U1 — ingestion-shaped typed projection + cast ladder + normalization
shared_sql(
    "ingest_cast_ladder",
    """
    SELECT CAST(c_custkey AS BIGINT) AS custkey,
           lower(trim(c_name)) AS name_norm,
           CAST(c_nationkey AS INT) AS nationkey,
           CAST(c_acctbal AS FLOAT) AS acctbal_f,
           CAST(CAST(FLOOR(c_acctbal) AS INT) AS STRING) AS acctbal_s,
           upper(c_mktsegment) AS segment
    FROM customer
    """,
)

# P4/F5 — stringify then re-parse dates (reference CAST AS CHAR + PARSE_DATE)
shared_sql(
    "date_parse_filter",
    """
    SELECT {PARSE_DATE({FMT_DATE(o_orderdate)})} AS order_date,
           COUNT(*) AS n
    FROM orders
    WHERE {FMT_DATE(o_orderdate)} >= '1996-01-01'
    GROUP BY 1
    """,
)

# P5/F7 — COALESCE null-default (reference `jobs/raw/mysql-to-gcs.py:41`)
shared_sql(
    "coalesce_default",
    """
    SELECT n.n_name,
           COALESCE(CAST(c.cnt AS BIGINT), 0) AS n_customers
    FROM nation n
    LEFT JOIN (SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY 1) c
      ON n.n_nationkey = c.c_nationkey
    """,
)

# P6/J3 — anti-join new-rows detection (insert-new-only core)
shared_sql(
    "anti_join_new_rows",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate < DATE '1996-01-01')
    """,
)

# J2 + left-semi
shared_sql(
    "join_semi",
    """
    SELECT p_partkey, p_name FROM part
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
                  AND l_quantity > 45)
    """,
)

# J1/J5 — multi-way left star join on keys (snowflake arm: dim→dim→dim)
shared_sql(
    "join_left_star",
    """
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation_name, r.r_name AS region_name
    FROM supplier s
    LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)

# J4/A2 — 1-row scalar-aggregate cross join (max-key broadcast)
shared_sql(
    "scalar_max_crossjoin",
    """
    SELECT o_orderkey, o_totalprice, mx.max_price
    FROM orders
    CROSS JOIN (SELECT MAX(o_totalprice) AS max_price FROM orders) mx
    WHERE o_totalprice > mx.max_price * 0.95
    """,
)

# A3 — DISTINCT dedup
shared_sql(
    "distinct_dedup",
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)

# W1 — running total over unbounded-preceding frame (integer measure:
# window-aggregation trees differ between engines, so float running sums
# are not cross-engine stable; ints are exact)
shared_sql(
    "window_running_total",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
             PARTITION BY l_orderkey ORDER BY l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS running_qty
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
)

# W2 — row_number / rank / dense_rank
shared_sql(
    "window_row_number",
    """
    SELECT c_custkey,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_custkey)
    """,
)

# Top-K per group (common OLAP shape; deterministic tiebreak on key)
shared_sql(
    "topk_per_group",
    """
    SELECT * FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn
      FROM customer) t
    WHERE rn <= 5
    """,
)

# §2.7 — set ops + order/limit
shared_sql(
    "union_all_sources",
    """
    SELECT c_custkey AS entity_key, 'customer' AS kind FROM customer
    UNION ALL
    SELECT s_suppkey AS entity_key, 'supplier' AS kind FROM supplier
    """,
)
shared_sql(
    "except_missing_keys",
    """
    SELECT o_custkey AS c_custkey FROM orders
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
    """,
)
shared_sql(
    "intersect_active_keys",
    """
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
shared_sql(
    "except_all_multiset",
    """
    SELECT o_orderstatus FROM orders
    EXCEPT ALL
    SELECT o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
shared_sql(
    "intersect_all_multiset",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    """,
)
shared_sql(
    "order_limit_topn",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)

# Conditional-aggregation pivot (Spark .pivot() compiles to the same plan)
shared_sql(
    "pivot_conditional",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty_o,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty_f
    FROM lineitem GROUP BY l_returnflag
    """,
)

# ROLLUP / CUBE (engine extras beyond reference parity, SURVEY §2.5)
shared_sql(
    "rollup_agg",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS keysum
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
shared_sql(
    "grouping_sets_agg",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS keysum
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
shared_sql(
    "cube_agg",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)

# I2/W1 — surrogate-key increment against a pre-populated target: keys for
# "new" rows continue from the existing max (the full hlp-maintenance shape)
shared_sql(
    "surrogate_increment",
    """
    WITH target AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT) AS cust_key,
             c_custkey
      FROM customer WHERE c_custkey <= 500
    ),
    new_rows AS (
      SELECT c.c_custkey, c.c_name FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.c_custkey = c.c_custkey)
    )
    SELECT mx.max_key + CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT)
             AS cust_key,
           c_custkey, c_name
    FROM new_rows
    CROSS JOIN (SELECT COALESCE(MAX(cust_key), 0) AS max_key FROM target) mx
    """,
)

# §2.10 — tumbling window over the events stream table (batch semantics;
# the streaming twin lives in gcp_etl_pipeline_spark/streaming/)
shared_sql(
    "events_tumbling",
    """
    SELECT CAST(FLOOR({EPOCH}(ts) / 3600) * 3600 AS BIGINT) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """,
)

# Sliding window (1h width, 30m slide) via bucket fan-out — the batch
# equivalent of window(ts, '1 hour', '30 minutes')
shared_sql(
    "events_sliding",
    """
    SELECT CAST((FLOOR({EPOCH}(ts) / 1800) - k.k) * 1800 AS BIGINT) AS window_start,
           COUNT(*) AS n_events
    FROM events
    CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1) k
    GROUP BY 1
    """,
)

# Sessionization: gap > 30 min starts a new session (lag + running flag sum)
shared_sql(
    "events_sessionize",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN {EPOCH}(ts) - LAG({EPOCH}(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT user_id,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS sess_id
      FROM g
    )
    SELECT user_id, sess_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sess_id
    """,
)

# JSON extraction (§1.3 json type; props is a JSON string column)
shared_sql(
    "json_extract_props",
    """
    SELECT event_type,
           CAST(SUM({JSON_INT(props, k)}) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)


# U2 — masked-column encryption roundtrip: aes_encrypt/decrypt is Spark-only,
# so the oracle checks the INVARIANT (decrypt(encrypt(x)) == x) via identity
def _q_mask_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators.masking import (
        mask_columns,
        unmask_columns,
    )

    ensure_views(spark, sf_dir)
    key = "0123456789abcdef"
    df = spark.table("customer").select("c_custkey", "c_name", "c_mktsegment")
    masked = mask_columns(df, ["c_name", "c_mktsegment"], key)
    return unmask_columns(masked, ["c_name", "c_mktsegment"], key)


register(
    "mask_roundtrip",
    _q_mask_roundtrip,
    "SELECT c_custkey, c_name, c_mktsegment FROM customer",
)


# U2 envelope mode — per-stripe DEKs wrapped by a (stubbed) KMS client:
# O(num_deks) wrap calls total instead of the reference's per-cell RPC.
# Same identity oracle: decrypt(encrypt(x)) == x.
def _q_mask_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators.masking import (
        LocalKmsStub,
        mask_columns_envelope,
        unmask_columns_envelope,
    )

    ensure_views(spark, sf_dir)
    kms = LocalKmsStub()
    df = spark.table("customer").select("c_custkey", "c_name", "c_mktsegment")
    masked, keyring = mask_columns_envelope(
        df, ["c_name", "c_mktsegment"], kms, num_deks=8
    )
    return unmask_columns_envelope(
        masked, ["c_name", "c_mktsegment"], keyring, kms
    ).select("c_custkey", "c_name", "c_mktsegment")


register(
    "mask_envelope_roundtrip",
    _q_mask_envelope,
    "SELECT c_custkey, c_name, c_mktsegment FROM customer",
)


# Skew-mitigation salted join: lineitem's l_returnflag has 3 hot values —
# the canonical skewed key. The oracle is the PLAIN join: salting must be
# semantically invisible.
def _q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators.skew import salted_join

    ensure_views(spark, sf_dir)
    li = spark.table("lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    flag_stats = spark.sql(
        """SELECT l_returnflag, COUNT(*) AS flag_rows,
                  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS flag_qty
           FROM lineitem GROUP BY l_returnflag"""
    )
    joined = salted_join(li, flag_stats, on=["l_returnflag"], salt_factor=8)
    return joined.groupBy("l_returnflag", "flag_rows", "flag_qty").agg(
        F.count(F.lit(1)).alias("n"),
    )


# S4/K2 — CSV sink + source roundtrip (reference writes header CSV from
# Beam and reads it back in Spark with all-string inference, then re-casts
# in SQL — the full shape reproduced here; oracle reads the parquet truth)
def _q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.sinks.writers import write_csv
    from gcp_etl_pipeline_spark.sources.files import read_csv

    ensure_views(spark, sf_dir)
    src = spark.sql(
        "SELECT n_nationkey, n_name, n_regionkey FROM nation"
    )
    path = scratch_dir("csv") + "/nation"
    write_csv(src, path)
    back = read_csv(spark, path)  # header, all-string columns (reference S4)
    return back.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey",
        "n_name",
        "CAST(n_regionkey AS BIGINT) AS n_regionkey",
    )


register(
    "csv_roundtrip",
    _q_csv_roundtrip,
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)


# Lakehouse maintenance — small-files compaction: fragment orders into 64
# tiny files (the streaming-sink pathology), compact to size-targeted
# files, prove content identity against the parquet truth and that the
# file count actually dropped.
def _q_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators.layout import compact_small_files

    ensure_views(spark, sf_dir)
    path = scratch_dir("compact") + "/orders"
    spark.table("orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    ).repartition(64).write.parquet(path)
    before, after = compact_small_files(
        spark, path, target_file_bytes=8 * 1024 * 1024
    )
    assert after < before, (before, after)
    return spark.read.parquet(path).select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )


register(
    "compact_roundtrip",
    _q_compact,
    "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders",
)


# S3-family — ORC sink + source roundtrip. ORC is the second columnar
# format the engine supports (built-in vectorized reader/writer, same
# pushdown/pruning behavior as Parquet); types including TIMESTAMP
# survive the roundtrip unchanged, so the oracle reads the parquet truth.
def _q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.sinks.writers import write_orc
    from gcp_etl_pipeline_spark.sources.files import read_orc

    ensure_views(spark, sf_dir)
    src = spark.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
           FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'"""
    )
    path = scratch_dir("orc") + "/orders"
    write_orc(src, path)
    back = read_orc(spark, path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(det_sum_expr("o_totalprice")).alias("total_u"),
        F.max("o_orderdate").alias("last_order"),
    )


register(
    "orc_roundtrip",
    _q_orc_roundtrip,
    f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {det_sum_expr('o_totalprice')} AS total_u,
           MAX(o_orderdate) AS last_order
    FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY o_orderstatus
    """,
)


# JSONL sink + source roundtrip: the interchange format a training-data
# pipeline actually exchanges with annotation/inference systems. Written
# with full types, read back with an EXPLICIT schema (inference costs an
# extra full pass at 100 TB — the helper's documented contract).
def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gcp_etl_pipeline_spark.sinks.writers import write_json_lines
    from gcp_etl_pipeline_spark.sources.files import read_json_lines

    ensure_views(spark, sf_dir)
    src = spark.sql(
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer"
    )
    path = scratch_dir("jsonl") + "/customer"
    write_json_lines(src, path)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.LongType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    back = read_json_lines(spark, path, schema=schema)
    return back.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.expr(det_sum_expr("c_acctbal")).alias("bal_u"),
    )


register(
    "jsonl_roundtrip",
    _q_jsonl_roundtrip,
    f"""
    SELECT c_nationkey, COUNT(*) AS n_customers,
           {det_sum_expr('c_acctbal')} AS bal_u
    FROM customer GROUP BY c_nationkey
    """,
)


register(
    "skew_salted_join",
    _q_salted_join,
    """
    WITH fs AS (SELECT l_returnflag, COUNT(*) AS flag_rows,
                       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS flag_qty
                FROM lineitem GROUP BY l_returnflag)
    SELECT li.l_returnflag, fs.flag_rows, fs.flag_qty, COUNT(*) AS n
    FROM lineitem li JOIN fs ON li.l_returnflag = fs.l_returnflag
    GROUP BY 1, 2, 3
    """,
)


# Exact grouped quantiles (engine extra, §2.5): percentile() and DuckDB's
# quantile_cont share the linear-interpolation definition — verified
# bit-identical including interpolated midpoints. Emitted as three scalar
# columns (not array<double>): scalar outputs keep the result hashable for
# any downstream canonicalizer, and one percentile() call still computes
# all three cut points in a single grouped pass.
def _q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    return spark.sql(
        """SELECT o_orderstatus,
                  q[0] AS p25, q[1] AS p50, q[2] AS p75, n
           FROM (SELECT o_orderstatus,
                        percentile(o_totalprice, array(0.25, 0.5, 0.75)) AS q,
                        COUNT(*) AS n
                 FROM orders GROUP BY 1)"""
    )


register(
    "quantiles_grouped",
    _q_quantiles,
    """
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.25) AS p25,
           quantile_cont(o_totalprice, 0.50) AS p50,
           quantile_cont(o_totalprice, 0.75) AS p75,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)


# W1 extra — RANGE frame (value-based window; peers by key distance, not
# row position). Integer measure keeps the in-frame sum order-free.
shared_sql(
    "window_range_frame",
    """
    SELECT o_orderkey,
           CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS nearby_sum
    FROM orders WHERE o_orderkey < 2000
    """,
)


# S1 — real JDBC roundtrip as a graded query: stage the nation table into
# embedded Derby, read it back through the contract-driven JDBC source
# (pushed projection + typed casts). Oracle reads the parquet truth.
def _q_jdbc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.sources.jdbc import read_jdbc
    from gcp_etl_pipeline_spark.spec import ColumnSpec, TableSpec

    ensure_views(spark, sf_dir)
    url = f"jdbc:derby:{scratch_dir('jdbc')}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    (
        spark.sql(
            """SELECT n_nationkey AS N_NATIONKEY, n_name AS N_NAME,
                      n_regionkey AS N_REGIONKEY FROM nation"""
        )
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", "NATION_SRC")
        .option("driver", driver)
        .option(
            "createTableColumnTypes",
            "N_NATIONKEY BIGINT, N_NAME VARCHAR(64), N_REGIONKEY BIGINT",
        )
        .save()
    )
    spec = TableSpec(
        name="raw.nation",
        columns=(
            ColumnSpec("N_NATIONKEY", "bigint"),
            ColumnSpec("N_NAME", "varchar(64)"),
            ColumnSpec("N_REGIONKEY", "bigint"),
        ),
        source_table="NATION_SRC",
    )
    return read_jdbc(spark, url, spec, driver=driver)


register(
    "jdbc_ingest",
    _q_jdbc_ingest,
    """
    SELECT n_nationkey AS N_NATIONKEY, n_name AS N_NAME,
           n_regionkey AS N_REGIONKEY
    FROM nation
    """,
)


# W extras — lag/lead/first_value analytics (sessionize uses LAG
# internally; this pins the full analytic family directly)
shared_sql(
    "window_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           CAST(LAG(o_orderkey) OVER w AS BIGINT) AS prev_key,
           CAST(LEAD(o_orderkey) OVER w AS BIGINT) AS next_key,
           CAST(FIRST_VALUE(o_orderkey) OVER w AS BIGINT) AS first_key
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
)

# Ingestion hygiene — TRY_CAST turns malformed values into NULLs instead
# of failing the job (the at-scale requirement: some rows WILL be bad),
# plus the conditional-function family.
shared_sql(
    "safe_cast_conditionals",
    """
    SELECT c_custkey,
           TRY_CAST(c_name AS DOUBLE) AS bad_cast,
           TRY_CAST(CAST(c_acctbal AS VARCHAR(32)) AS DOUBLE) AS good_cast,
           NULLIF(c_mktsegment, 'BUILDING') AS seg_nullif,
           GREATEST(CAST(c_acctbal AS DOUBLE), 0.0) AS bal_floor,
           LEAST(CAST(c_nationkey AS BIGINT), 10) AS nk_cap
    FROM customer
    """,
)


# K3/R2 — partitioned layout end to end: write orders partitioned by
# year, read back with a partition filter (pruned scan: only that year's
# directory is touched). Oracle computes the same filter on the parquet
# truth.
def _q_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.sinks.writers import write_parquet

    ensure_views(spark, sf_dir)
    path = scratch_dir("part") + "/orders_by_year"
    orders = spark.table("orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    write_parquet(orders, path, mode="overwrite", partition_by=["order_year"])
    back = spark.read.parquet(path)
    return (
        back.where(F.col("order_year") == 1995)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_orderkey").cast("bigint")).cast("bigint").alias("keysum"),
        )
    )


register(
    "partitioned_write_prune",
    _q_partitioned_write_prune,
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS keysum
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) = 1995
    GROUP BY 1
    """,
)


# R2/K3 — dynamic partition overwrite as a GRADED query (previously
# pytest-only evidence): write all years, then overwrite ONLY 1995 with a
# filtered/transformed slice; untouched partitions must survive. Oracle
# recomputes the expected post-overwrite state from the parquet truth.
def _q_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.sinks.writers import write_parquet

    ensure_views(spark, sf_dir)
    path = scratch_dir("dynov") + "/orders_dyn"
    orders = spark.table("orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.year("o_orderdate").cast("int").alias("order_year"),
    )
    orders.write.partitionBy("order_year").mode("overwrite").parquet(path)
    # Second write touches only the 1995 partition. write_parquet requests
    # dynamic partition overwrite on the write itself, the reference's
    # per-job scoping (dl_ct_gosales_sales_fact_01.py:107): graded queries
    # must not depend on session.py defaults, and a stock session's
    # `static` default would wipe every untouched partition.
    write_parquet(
        orders.where(
            (F.col("order_year") == 1995) & (F.col("o_orderstatus") == "F")
        ),
        path,
        partition_by=["order_year"],
    )
    back = spark.read.parquet(path)
    return back.groupBy("order_year").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_orderkey").cast("bigint")).cast("bigint").alias("keysum"),
    )


register(
    "dynamic_overwrite_prune",
    _q_dynamic_overwrite,
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS keysum
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) <> 1995 OR o_orderstatus = 'F'
    GROUP BY 1
    """,
)


# F extras — string-function suite (names and semantics verified identical
# across engines; see tests for the probe methodology)
def _q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey,
               substring(c_name, 3, 5) AS sub,
               replace(c_name, 'Customer', 'Cust') AS rep,
               lpad(CAST(c_nationkey AS STRING), 4, '0') AS pad,
               reverse(c_mktsegment) AS rev,
               split_part(c_name, '#', 2) AS sp,
               CAST(position('#' IN c_name) AS BIGINT) AS pos,
               concat_ws('-', c_mktsegment, CAST(c_custkey AS STRING)) AS cw,
               left(c_name, 4) AS l4, right(c_name, 3) AS r3
        FROM customer
        """
    )


register(
    "string_functions",
    _q_string_functions,
    """
    SELECT c_custkey,
           substring(c_name, 3, 5) AS sub,
           replace(c_name, 'Customer', 'Cust') AS rep,
           lpad(CAST(c_nationkey AS VARCHAR), 4, '0') AS pad,
           reverse(c_mktsegment) AS rev,
           split_part(c_name, '#', 2) AS sp,
           CAST(position('#' IN c_name) AS BIGINT) AS pos,
           concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS cw,
           left(c_name, 4) AS l4, right(c_name, 3) AS r3
    FROM customer
    """,
)


# F extras — date-arithmetic suite (DuckDB INTERVAL addition yields a
# timestamp, so both sides CAST back to DATE)
def _q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey,
               date_add(o_orderdate, 30) AS plus30,
               CAST(datediff(o_orderdate, DATE '1995-01-01') AS BIGINT) AS dd,
               last_day(o_orderdate) AS ld,
               CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS mon
        FROM orders
        """
    )


register(
    "date_functions",
    _q_date_functions,
    """
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS dd,
           last_day(o_orderdate) AS ld,
           CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS mon
    FROM orders
    """,
)


# Hypertable-style multi-resolution rollup: one scan + one shuffle
# produces hourly, daily, and per-type grand totals via GROUPING SETS,
# with GROUPING() flags tagging the resolution of each output row — the
# continuous-aggregate shape (at 100 TB: 3 rollup resolutions for the
# price of one, instead of 3 scans).
shared_sql(
    "time_rollup_multires",
    f"""
    WITH b AS (
      SELECT CAST(FLOOR({{EPOCH}}(ts) / 3600) * 3600 AS BIGINT) AS hour_b,
             CAST(FLOOR({{EPOCH}}(ts) / 86400) * 86400 AS BIGINT) AS day_b,
             event_type, value
      FROM events
    )
    SELECT hour_b, day_b, event_type,
           CAST(GROUPING(hour_b) * 2 + GROUPING(day_b) AS BIGINT) AS resolution,
           COUNT(*) AS n,
           {det_sum_expr('value')} AS sum_value_u
    FROM b
    GROUP BY GROUPING SETS ((hour_b, event_type), (day_b, event_type),
                            (event_type))
    """,
)

# --------------------------------------------------------------------------
# TPC-H classic join shapes, adapted to the fixture schema. These exercise
# the planner paths a 100 TB star query lives on: filter pushdown into the
# dim-side scan, broadcast of the filtered dims, partial aggregation before
# the final shuffle, and a deterministic top-N. Revenue uses the µ-unit
# integer SUM so the value hash is parallelism-independent.

# Q3 shape — shipping priority: selective dim filter joined through a
# fact-fact chain, grouped top-10 by revenue. (o_shippriority is not in
# the fixture schema; o_orderpriority stands in.)
shared_sql(
    "tpch_q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {det_sum_expr('l_extendedprice * (1 - l_discount)')} AS revenue_u,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_u DESC, order_date, l_orderkey
    LIMIT 10
    """,
)

# Q5 shape — local supplier volume: 6-way snowflake join where customer
# and supplier must share a nation (join-reorder + broadcast showcase).
shared_sql(
    "tpch_q5_local_supplier",
    f"""
    SELECT n_name,
           {det_sum_expr('l_extendedprice * (1 - l_discount)')} AS revenue_u,
           COUNT(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)

# Q10 shape — returned-item report: quarter of orders x returned lines,
# per-customer revenue, deterministic top-20.
shared_sql(
    "tpch_q10_returned_items",
    f"""
    SELECT c_custkey, c_name, n_name,
           {det_sum_expr('l_extendedprice * (1 - l_discount)')} AS revenue_u
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_u DESC, c_custkey
    LIMIT 20
    """,
)

# Multiple COUNT(DISTINCT) over different columns in one aggregate —
# Spark plans this via Expand (one row per distinct-column group), so a
# single scan serves all three counts; no per-column re-scan at scale.
shared_sql(
    "multi_distinct_agg",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(DISTINCT o_orderpriority) AS n_prios,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)

# Q18 shape — large-volume orders: semi-join against a grouped-HAVING
# subquery, then re-aggregate. The inner aggregate shuffles once on
# l_orderkey; the outer join is key-aligned with it.
shared_sql(
    "tpch_q18_large_orders",
    """
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 150
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 100
    """,
)

# Q4 shape — order-priority check via correlated EXISTS: orders in a
# quarter that have at least one line shipped 60+ days after the order
# date. Spark rewrites the EXISTS to a left-semi join on l_orderkey; the
# date predicate stays in the join condition, so the lineitem scan is
# pruned before the shuffle. (The fixture has no l_commitdate /
# l_receiptdate; ship-lag stands in for late delivery.)
shared_sql(
    "tpch_q4_priority_exists",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)

# Q6 shape — forecast-revenue: single-table scan with a 3-predicate
# conjunctive filter and a global aggregate. All three predicates push to
# the parquet reader (PushedFilters), so only matching row groups decode.
shared_sql(
    "tpch_q6_band_revenue",
    f"""
    SELECT {det_sum_expr('l_extendedprice * l_discount')} AS revenue_u,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)

# Q7 shape — volume shipping between two nations: the nation dim joins
# TWICE (supplier side and customer side) under a symmetric pair filter,
# grouped by ship year. Both nation joins broadcast; the pair filter
# collapses the n1 x n2 space before the fact join.
shared_sql(
    "tpch_q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           {det_sum_expr('volume')} AS revenue_u
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)

# Q8 shape — market share: 8-way snowflake (nation joined twice, region
# once) with the share returned as two exact µ-unit sums per year rather
# than a float ratio, keeping the hash parallelism-independent. The
# selective p_type filter prunes the part scan before its fact join.
shared_sql(
    "tpch_q8_market_share",
    f"""
    SELECT o_year,
           {det_sum_expr("CASE WHEN nation = 'NATION_3' THEN volume ELSE 0.0 END")}
             AS nation_volume_u,
           {det_sum_expr('volume')} AS total_volume_u
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
)

# Q14 shape — promo revenue: conditional aggregate over a fact-dim join,
# returned as (promo, total) µ-unit sums instead of the float percentage
# so the comparison is exact. part broadcasts; lineitem's date filter
# pushes to the scan.
shared_sql(
    "tpch_q14_promo_revenue",
    f"""
    SELECT {det_sum_expr("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
             AS promo_revenue_u,
           {det_sum_expr('l_extendedprice * (1 - l_discount)')} AS total_revenue_u
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)

# Q19 shape — disjunctive predicate pushdown: OR of AND-groups mixing
# dim attributes (brand, size) with fact attributes (quantity). Catalyst
# extracts the common-fact residual (l_quantity <= 30) below the join and
# keeps the cross-table disjunction as the join filter.
shared_sql(
    "tpch_q19_disjunctive",
    f"""
    SELECT {det_sum_expr('l_extendedprice * (1 - l_discount)')} AS revenue_u,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size >= 1 AND p_size <= 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#12' AND p_size >= 1 AND p_size <= 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#13' AND p_size >= 1 AND p_size <= 50
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)

# Q21 shape — the "last shipper" in multi-supplier orders: correlated
# EXISTS (another supplier participated) + NOT EXISTS (nobody else shipped
# on/after my date). Spark plans these as one left-semi and one left-anti
# join against the same lineitem scan, both key-aligned on l_orderkey —
# at scale all three legs shuffle once on the same key. (No
# l_commitdate/l_receiptdate in the fixture; strictly-latest ship date
# stands in for "the supplier everyone waited on".)
shared_sql(
    "tpch_q21_last_shipper",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND n_name = 'NATION_5'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate >= l1.l_shipdate
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 25
    """,
)

# Q22 shape — dormant rich customers: above-average balance (computed as
# an exact integer cross-product comparison, bal_cents * n > sum_cents,
# so the boundary is engine-independent) with NOT EXISTS recent orders.
# The 1-row stats side broadcasts; NOT EXISTS becomes a left-anti join on
# o_custkey against an orders scan pruned by the pushed date filter.
# (Classic Q22 anti-joins ALL orders; at this fixture's order density
# that selects zero rows, so the anti-join is scoped to the last year of
# order history to keep the check non-vacuous.)
shared_sql(
    "tpch_q22_dormant_customers",
    """
    WITH stats AS (
      SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS s,
             COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0.0
    ),
    eligible AS (
      SELECT c_custkey, c_nationkey,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
      FROM customer CROSS JOIN stats
      WHERE CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * n > s
    )
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(bal_cents) AS BIGINT) AS total_bal_cents
    FROM eligible
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2000-08-01 00:00:00'
    )
    GROUP BY c_nationkey
    """,
)

# Q2 shape — minimum-cost supplier: correlated scalar MIN subquery over a
# derived offers table, decorrelated by Spark into an aggregate + join
# (never a per-row loop). The fixture has no partsupp, so the offer book
# is derived from lineitem: a supplier's unit cost for a part is its
# cheapest observed µ-unit price-per-unit. Equality against the
# correlated MIN is exact because both sides quantize to bigint µ-units
# first. ORDER BY is a total order (s_name unique per supplier, pair
# unique per offer), so the LIMIT cut is deterministic.
shared_sql(
    "tpch_q2_min_cost_supplier",
    """
    WITH offers AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(ROUND(CAST(l_extendedprice / l_quantity AS DOUBLE) * 1000000, 0) AS BIGINT))
               AS unit_cost_u
      FROM lineitem
      GROUP BY l_partkey, l_suppkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, unit_cost_u
    FROM part
    JOIN offers   ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_size = 15 AND p_type = 'LARGE' AND r_name = 'ASIA'
      AND unit_cost_u = (
        SELECT MIN(o2.unit_cost_u)
        FROM offers o2
        JOIN supplier s2 ON s2.s_suppkey = o2.l_suppkey
        JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
        WHERE o2.l_partkey = p_partkey AND r2.r_name = 'ASIA'
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)

# Q9 shape — product-type profit: 4-way join grouped by supplier nation
# and ship year, with a LIKE filter pruning the part dim before its fact
# join. No partsupp supplycost in the fixture, so cost is proxied as half
# the part's retail price per unit (documented deviation; the join/agg
# shape is what's under test).
shared_sql(
    "tpch_q9_product_profit",
    f"""
    SELECT nation, o_year, {det_sum_expr('amount')} AS profit_u
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity
               AS amount
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    """,
)

# Q11 shape — important stock: per-part value for one nation's suppliers,
# kept only where the part's share exceeds 1/10000 of the nation total.
# The threshold is evaluated entirely in integer µ-units
# (value_u * 10000 > total_u) so the boundary is engine-independent; the
# 1-row global total broadcasts. partsupp availqty is proxied by shipped
# value from lineitem.
shared_sql(
    "tpch_q11_important_stock",
    f"""
    WITH supplied AS (
      SELECT l_partkey,
             {micro_sum_expr('l_extendedprice * (1 - l_discount)')} AS value_u
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_1'
      GROUP BY l_partkey
    )
    SELECT l_partkey, value_u
    FROM supplied
    WHERE value_u * 10000 > (SELECT SUM(value_u) FROM supplied)
    """,
)

# Q12 shape — shipping-class priority split: fact-dim join with an IN
# filter on the fact and two complementary conditional counts. l_shipmode
# doesn't exist in the fixture; l_returnflag stands in as the class
# column. Counts are exact integers.
shared_sql(
    "tpch_q12_ship_priority",
    """
    SELECT l_returnflag AS ship_class,
           SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS high_line_count,
           SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('R', 'A')
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)

# Q13 shape — customer order-count distribution: LEFT OUTER join with an
# extra predicate in the ON clause (kept orders only), then a two-level
# aggregate — count per customer, then a histogram of those counts.
# Customers with no qualifying orders land in the c_count=0 bucket, which
# only a true left join preserves.
shared_sql(
    "tpch_q13_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)

# Q15 shape — top supplier: quarterly revenue per supplier in a CTE, then
# an exact bigint-µ equality against the global MAX (scalar subquery, 1
# row, broadcast). Ties all surface — no arbitrary pick.
shared_sql(
    "tpch_q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {micro_sum_expr('l_extendedprice * (1 - l_discount)')} AS total_revenue_u
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue_u
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue_u = (SELECT MAX(total_revenue_u) FROM revenue)
    """,
)

# Q16 shape — supplier-part relationship count: distinct (part, supplier)
# pairs (the fixture's stand-in for partsupp), an IN list on p_size, and
# a NOT IN subquery excluding overdrawn suppliers. s_suppkey is non-null
# so the NOT IN plans as a regular (not null-aware) anti join; the
# COUNT(DISTINCT) rides the same grouping shuffle.
shared_sql(
    "tpch_q16_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 10, 14, 23, 36, 45)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)

# Q17 shape — small-quantity-order revenue: two correlated scalar
# aggregates (per-part count and quantity sum) decorrelated into
# aggregate+join legs. The classic `l_quantity < 0.2 * AVG(l_quantity)`
# is restated as the exact integer cross-product
# qty * 5 * n < sum_qty, so no float boundary exists.
shared_sql(
    "tpch_q17_small_qty_revenue",
    f"""
    SELECT {det_sum_expr('l_extendedprice')} AS small_qty_revenue_u,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
      AND CAST(l_quantity AS BIGINT) * 5 *
            (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
          < (SELECT SUM(CAST(l_quantity AS BIGINT))
             FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)

# Q20 shape — potential part promotion: nested IN subqueries (supplier IN
# shippers-of parts IN name-filtered parts) with a HAVING volume floor —
# two stacked semi joins after decorrelation. availqty>half-shipped from
# classic Q20 is proxied by the HAVING threshold on shipped quantity.
shared_sql(
    "tpch_q20_promotion_suppliers",
    """
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_2'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE '%red%'
          )
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 100
      )
    ORDER BY s_name
    """,
)


# §2.7+ — recursive CTE (Spark 4 WITH RECURSIVE; hierarchy traversal).
# A synthetic binary hierarchy over customer keys (parent = key DIV 2,
# rooted at 1; key 0 excluded to avoid the 0→0 self-loop). Per-level
# breadth plus the level's key range — the org-chart/BOM recursion shape.
# Only the integer-division operator differs between dialects.

def _recursive_sql(idiv: str) -> str:
    return f"""
    WITH RECURSIVE h AS (
      SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
      UNION ALL
      SELECT c.c_custkey AS node, h.depth + 1 AS depth
      FROM customer c JOIN h ON (c.c_custkey {idiv} 2) = h.node
      WHERE c.c_custkey >= 2
    )
    SELECT depth, COUNT(*) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_key,
           CAST(MAX(node) AS BIGINT) AS max_key
    FROM h GROUP BY depth
    """


def _q_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    return spark.sql(_recursive_sql("DIV"))


register("recursive_hierarchy_levels", _q_recursive, _recursive_sql("//"))


# J2+ — null-safe equi-join (Spark `<=>` / DuckDB IS NOT DISTINCT FROM).
# Nullable keys synthesized with NULLIF so the null-matches-null path
# carries real rows; only the operator spelling differs per dialect.

def _nullsafe_sql(op_join: str) -> str:
    return f"""
    SELECT a.c_mktsegment AS seg, COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN a.seg_n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_matches
    FROM (SELECT c_custkey, c_mktsegment,
                 NULLIF(c_mktsegment, 'BUILDING') AS seg_n
          FROM customer WHERE c_custkey < 500) a
    JOIN (SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg_n
          FROM customer WHERE c_custkey >= 500 AND c_custkey < 1000) b
      ON {op_join}
    GROUP BY a.c_mktsegment
    """


def _q_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    return spark.sql(_nullsafe_sql("a.seg_n <=> b.seg_n"))


register(
    "join_null_safe",
    _q_nullsafe,
    _nullsafe_sql("a.seg_n IS NOT DISTINCT FROM b.seg_n"),
)


# --------------------------------------------------------------------------
# Data-quality expectations (operators/expectations.py): per-rule violation
# counts in ONE scan, quarantine split with failure provenance, and the
# unique-key constraint. The reference's only quality gate is
# `rows_ingested > 0` (`...sales_fact_01.py:169`); these are the row-level
# contracts a lakehouse engine adds.

def _q_expectations_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators import expectations as ex

    ensure_views(spark, sf_dir)
    li = spark.table("lineitem")
    rules = {
        "ship_not_null": ex.not_null("l_shipdate"),
        "qty_in_band": ex.in_range("l_quantity", 1, 45),
        "flag_known": ex.one_of("l_returnflag", ["A", "N", "R"]),
        "discount_cap": ex.predicate("l_discount <= 0.08"),
    }
    return ex.check(li, rules)


register(
    "expectations_check",
    _q_expectations_check,
    """
    WITH t AS (
      SELECT COUNT(*) AS total,
        SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS v1,
        SUM(CASE WHEN NOT (l_quantity IS NOT NULL
                           AND l_quantity BETWEEN 1 AND 45)
                 THEN 1 ELSE 0 END) AS v2,
        SUM(CASE WHEN NOT (l_returnflag IN ('A','N','R'))
                 THEN 1 ELSE 0 END) AS v3,
        SUM(CASE WHEN NOT (l_discount <= 0.08) THEN 1 ELSE 0 END) AS v4
      FROM lineitem)
    SELECT 'ship_not_null' AS rule, CAST(v1 AS BIGINT) AS violations,
           CAST(total AS BIGINT) AS total, v1 = 0 AS passed FROM t
    UNION ALL SELECT 'qty_in_band', CAST(v2 AS BIGINT),
           CAST(total AS BIGINT), v2 = 0 FROM t
    UNION ALL SELECT 'flag_known', CAST(v3 AS BIGINT),
           CAST(total AS BIGINT), v3 = 0 FROM t
    UNION ALL SELECT 'discount_cap', CAST(v4 AS BIGINT),
           CAST(total AS BIGINT), v4 = 0 FROM t
    """,
)


def _q_expectations_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine split: bad rows grouped by their failure signature (which
    rules they broke, in declaration order) — checks both the split and the
    provenance array."""
    from gcp_etl_pipeline_spark.operators import expectations as ex

    ensure_views(spark, sf_dir)
    orders = spark.table("orders")
    rules = {
        "price_cap": ex.predicate("o_totalprice <= 300000"),
        "status_known": ex.one_of("o_orderstatus", ["F", "O"]),
    }
    good, bad = ex.enforce(orders, rules)
    sig = bad.groupBy(
        F.array_join("failed_rules", ",").alias("failed")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("keysum"),
    )
    totals = good.agg(
        F.lit("__good__").alias("failed"),
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("keysum"),
    )
    return sig.unionByName(totals)


register(
    "expectations_quarantine",
    _q_expectations_quarantine,
    """
    WITH tagged AS (
      SELECT o_orderkey,
             concat_ws(',',
               CASE WHEN NOT (o_totalprice <= 300000) THEN 'price_cap' END,
               CASE WHEN NOT (o_orderstatus IN ('F','O'))
                    THEN 'status_known' END) AS failed
      FROM orders)
    SELECT failed, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS keysum
    FROM tagged WHERE failed <> '' GROUP BY failed
    UNION ALL
    SELECT '__good__', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
    FROM tagged WHERE failed = ''
    """,
)


def _q_unique_key_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators import expectations as ex

    ensure_views(spark, sf_dir)
    out = ex.unique_key_violations(
        spark.table("lineitem"), ["l_partkey", "l_suppkey"]
    )
    return out.select(
        "l_partkey", "l_suppkey", F.col("n_rows").cast("bigint").alias("n_rows")
    )


register(
    "unique_key_violations",
    _q_unique_key_violations,
    """
    SELECT l_partkey, l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1
    """,
)


# --------------------------------------------------------------------------
# §2.7/§1.2 extras.

# Schema evolution on read: two parquet drops with overlapping-but-
# different schemas (a column added later), merged with mergeSchema=true —
# the lakehouse "old files keep working" contract. Oracle recomputes the
# union-with-nulls from the base table.
def _q_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    path = scratch_dir("sev") + "/orders_evo"
    orders = spark.table("orders")
    orders.where("o_orderkey % 2 = 0").select(
        "o_orderkey", "o_orderstatus"
    ).write.parquet(f"{path}/drop=1")
    orders.where("o_orderkey % 2 = 1").select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").alias("price"),
    ).write.parquet(f"{path}/drop=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/drop=1", f"{path}/drop=2"
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("price").alias("n_price"),
        F.sum(F.round(F.col("price") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )


register(
    "schema_merge_read",
    _q_schema_merge,
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_price,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 1
                    THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                    END) AS BIGINT) AS cents
    FROM orders GROUP BY 1
    """,
)


# Contract-driven validation (expectations.from_spec over the EP1 ingest
# contract): the rules come from the TableSpec itself — merge/watermark
# presence + the stringified-date parse contract of the reference's
# CAST-AS-CHAR ladder.
def _q_expectations_from_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_etl_pipeline_spark.operators import expectations as ex
    from gcp_etl_pipeline_spark.plans import gosales
    from gcp_etl_pipeline_spark.plans.gosales_pipeline import DAILY_SALES_SPEC

    ensure_views(spark, sf_dir)
    df = gosales.go_daily_sales(spark, sf_dir)
    return ex.check(df, ex.from_spec(DAILY_SALES_SPEC))


register(
    "expectations_from_spec",
    _q_expectations_from_spec,
    """
    WITH src AS (
      SELECT strftime(l_shipdate, '%Y-%m-%d') AS sale_date
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    t AS (
      SELECT COUNT(*) AS total,
        SUM(CASE WHEN sale_date IS NULL THEN 1 ELSE 0 END) AS v1,
        SUM(CASE WHEN sale_date IS NOT NULL
                  AND try_strptime(sale_date, '%Y-%m-%d') IS NULL
                 THEN 1 ELSE 0 END) AS v2
      FROM src)
    SELECT 'sale_date_not_null' AS rule, CAST(v1 AS BIGINT) AS violations,
           CAST(total AS BIGINT) AS total, v1 = 0 AS passed FROM t
    UNION ALL
    SELECT 'sale_date_date_parseable', CAST(v2 AS BIGINT),
           CAST(total AS BIGINT), v2 = 0 FROM t
    """,
)


# -------------------------------------------- bucketed co-located join

def _q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-design path for repeated large×large joins: both sides
    written as same-bucketed catalog tables (hash-distributed on the
    join key), then joined WITHOUT an exchange (co-located sort-merge;
    plan-asserted in tests/test_bucketing.py) — the 100-TB answer when
    neither side broadcasts and per-query shuffles would dominate."""
    from gcp_etl_pipeline_spark.operators.curation_queries import session_root
    from gcp_etl_pipeline_spark.sinks.writers import write_bucketed_table
    from gcp_etl_pipeline_spark.sources.files import read_parquet

    # session-stable root + overwrite tables: repeat invocations (bench
    # warm-up + timed passes) rewrite in place instead of colliding
    root = session_root(spark, "buck")
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber"
    )
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    )
    write_bucketed_table(
        li, "graft_buck_li", ["l_orderkey"], 8,
        sort_cols=["l_orderkey"], path=f"{root}/li",
    )
    write_bucketed_table(
        orders, "graft_buck_ord", ["o_orderkey"], 8,
        sort_cols=["o_orderkey"], path=f"{root}/ord",
    )
    j = spark.table("graft_buck_li").join(
        spark.table("graft_buck_ord"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_orderkey").cast("bigint").alias("keysum"),
    )


register(
    "bucketed_colocated_join",
    _q_bucketed_join,
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(l_orderkey) AS BIGINT) AS keysum
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)


# ----------------------------------------- permissive CSV corrupt records

def _q_csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion robustness: a CSV feed with a deterministic 1-in-7 rows
    carrying an unparsable value lands under PERMISSIVE mode — malformed
    rows surface in ``_corrupt_record`` instead of failing the read (at
    100 TB some rows WILL be bad), and the query grades the good/bad
    split plus the parsed aggregate. The file content is a pure function
    of the row index, so the oracle recomputes everything from range()
    without reading a file."""
    import os

    from gcp_etl_pipeline_spark.operators.curation_queries import session_root

    n = 5000
    root = session_root(spark, "csvcorrupt")
    path = f"{root}/feed.csv"
    if not os.path.exists(path):  # deterministic content: write-once is safe
        os.makedirs(root, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            fh.write("id,qty,grade\n")
            for i in range(n):
                qty = "BAD" if i % 7 == 0 else str(i % 100)
                fh.write(f"{i},{qty},g{i % 3}\n")
        os.replace(path + ".tmp", path)

    df = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema("id BIGINT, qty INT, grade STRING, _corrupt_record STRING")
        .csv(path)
    )
    return df.groupBy("grade").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.coalesce("qty", F.lit(0))).cast("bigint").alias("qty_sum"),
    )


register(
    "csv_corrupt_records_permissive",
    _q_csv_corrupt_records,
    """
    WITH g AS (SELECT unnest(range(5000)) AS i)
    SELECT 'g' || CAST(i % 3 AS VARCHAR) AS grade,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN i % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(SUM(CASE WHEN i % 7 = 0 THEN 0 ELSE i % 100 END) AS BIGINT)
             AS qty_sum
    FROM g GROUP BY 1
    """,
)


# --------------------------------------------------- VARIANT (Spark 4)

def _q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through the VARIANT type (Spark 4's binary
    JSON: parse once, typed-path access after — at scale this beats
    re-parsing the JSON string per extraction the way
    ``json_extract_props`` does): parse_json at the scan, variant_get
    typed paths downstream, schema_of_variant proving the stored shape.
    try_variant_get on a missing path must yield NULLs, not errors."""
    ensure_views(spark, sf_dir)
    v = spark.table("events").select(
        "event_type", F.parse_json("props").alias("vp")
    )
    return v.groupBy("event_type").agg(
        F.sum(F.expr("variant_get(vp, '$.k', 'long')")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.expr("try_variant_get(vp, '$.missing', 'long')").isNull(),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_missing"),
        F.min(F.expr("schema_of_variant(vp)")).alias("vschema"),
    )


register(
    "variant_props_typed",
    _q_variant_props,
    """
    SELECT event_type,
           CAST(SUM(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n,
           COUNT(*) AS n_missing,
           'OBJECT<k: BIGINT>' AS vschema
    FROM events GROUP BY event_type
    """,
)


# ---------------------------------------------- SQL pipe syntax (Spark 4)

def _q_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q1 shape written in Spark 4's SQL pipe syntax (|>) —
    same Catalyst plan as the SELECT form (the syntax desugars before
    optimization: pushdown, pruning, partial aggregation all intact),
    graded against the classic-SQL oracle to prove the equivalence."""
    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> AGGREGATE
             COUNT(*) AS count_order,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS sum_base_price_c
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


register(
    "pipe_syntax_pricing",
    _q_pipe_syntax,
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS count_order,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sum_base_price_c
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)


# --------------------------------------------------- map-typed columns

def _q_map_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column construction and access: each order's lines
    collapse into a linenumber→quantity MAP (map_from_entries over a
    sorted struct array — deterministic entry order), then size /
    element_at / a map_values fold read it back. The oracle recomputes
    the extracted scalars straight from the rows, so a wrong map build
    (lost key, misordered entries, bad lookup) breaks the hash; the map
    itself never crosses engines (map hashing semantics differ)."""
    ensure_views(spark, sf_dir)
    # the fixture carries duplicate (order, linenumber) pairs — collapse
    # to one entry per key first (map keys must be unique)
    li = (
        spark.table("lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
    )
    m = li.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("l_linenumber", "q")))
        ).alias("qmap")
    )
    return m.select(
        "l_orderkey",
        F.size("qmap").alias("n_lines"),
        F.element_at("qmap", 1).alias("qty_line1"),
        F.aggregate(
            F.map_values("qmap"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("qty_total"),
    )


register(
    "map_column_ops",
    _q_map_columns,
    """
    SELECT l_orderkey,
           COUNT(DISTINCT l_linenumber) AS n_lines,
           CAST(SUM(CASE WHEN l_linenumber = 1
                    THEN CAST(l_quantity AS BIGINT) END) AS BIGINT)
             AS qty_line1,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_total
    FROM lineitem GROUP BY 1
    """,
)


# ------------------------------------------- hash / encoding functions

def _q_hash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic-hash and encoding function parity (content
    fingerprints, cache keys, API payloads all lean on these): sha2-256,
    md5, base64 round-trip, hex of utf-8 bytes — each compared against
    the other engine's native implementation, not an identity oracle."""
    ensure_views(spark, sf_dir)
    return spark.table("customer").select(
        "c_custkey",
        F.sha2(F.col("c_name"), 256).alias("sha256_name"),
        F.md5(F.col("c_name")).alias("md5_name"),
        F.base64(F.col("c_name").cast("binary")).alias("b64_name"),
        F.unbase64(F.base64(F.col("c_name").cast("binary")))
        .cast("string")
        .alias("b64_roundtrip"),
        F.lower(F.hex(F.col("c_name").cast("binary"))).alias("hex_name"),
    )


register(
    "hash_encode_functions",
    _q_hash_encode,
    """
    SELECT c_custkey,
           sha256(c_name) AS sha256_name,
           md5(c_name) AS md5_name,
           to_base64(CAST(c_name AS BLOB)) AS b64_name,
           c_name AS b64_roundtrip,
           lower(hex(CAST(c_name AS BLOB))) AS hex_name
    FROM customer
    """,
)


# ------------------------------------------------------- XML roundtrip

def _q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion surface (Spark 4 ships the xml datasource +
    from_xml natively): an XML payload is synthesized per customer row,
    parsed back with from_xml against an explicit schema, and the
    extracted fields must round-trip exactly — the oracle is the
    original columns (DuckDB has no XML; the invariant, not the parser,
    crosses engines). to_xml proves the writer direction too."""
    ensure_views(spark, sf_dir)
    c = spark.table("customer").select(
        "c_custkey",
        F.concat(
            F.lit("<cust><key>"), F.col("c_custkey"),
            F.lit("</key><seg>"), F.col("c_mktsegment"),
            F.lit("</seg><bal>"),
            F.round(F.col("c_acctbal") * 100, 0).cast("long"),
            F.lit("</bal></cust>"),
        ).alias("xml"),
    )
    parsed = c.select(
        "c_custkey",
        F.from_xml(
            "xml", "key BIGINT, seg STRING, bal BIGINT"
        ).alias("p"),
    )
    return parsed.select(
        "c_custkey",
        F.col("p.key").alias("xml_key"),
        F.col("p.seg").alias("xml_seg"),
        F.col("p.bal").alias("xml_bal"),
    )


register(
    "xml_roundtrip",
    _q_xml_roundtrip,
    """
    SELECT c_custkey, c_custkey AS xml_key, c_mktsegment AS xml_seg,
           CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS xml_bal
    FROM customer
    """,
)


# ------------------------------------------- dynamic partition pruning

def _q_dpp_fact_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end-to-end: the fact lands partitioned
    by ship month; a FILTERED month dimension joins on the partition
    column, and Catalyst injects the dim's build-side values as a
    runtime partition filter on the fact scan — only matching month
    directories are read (the 100-TB point: a static plan would scan
    every partition). The plan shape is pinned in
    tests/test_physical_plans.py; this query grades the ANSWER."""
    import os

    from gcp_etl_pipeline_spark.operators.curation_queries import session_root

    ensure_views(spark, sf_dir)
    root = session_root(spark, "dpp")
    fact_path = f"{root}/fact"
    if not os.path.exists(fact_path):
        (
            spark.table("lineitem")
            .select(
                "l_orderkey", "l_quantity",
                F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
            )
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(fact_path)
        )
    fact = spark.read.parquet(fact_path)
    months = (
        spark.table("orders")
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("ship_month"))
        .where(F.col("ship_month").startswith("1995"))
        .distinct()
    )
    return fact.join(months, "ship_month").groupBy("ship_month").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"),
    )


register(
    "dpp_partitioned_fact_join",
    _q_dpp_fact_scan,
    """
    WITH m AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
               FROM orders WHERE strftime(o_orderdate, '%Y-%m') LIKE '1995%')
    SELECT f.ship_month, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
    FROM (SELECT l_quantity, strftime(l_shipdate, '%Y-%m') AS ship_month
          FROM lineitem) f
    JOIN m ON f.ship_month = m.ship_month
    GROUP BY 1
    """,
)


# --------------------------------------------- file-provenance metadata

def _q_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row provenance via the hidden ``_metadata`` struct every file
    source carries (which file did this row come from, how big was it):
    the lineage/debugging primitive a quarantine review needs at 100 TB
    — no extra column materialized in the data, populated by the scan.
    The fixture table is a single parquet file, so the per-file rollup
    is closed-form for the oracle."""
    from gcp_etl_pipeline_spark.sources.files import read_parquet

    df = read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        F.col("_metadata.file_name").alias("file_name"),
        "l_orderkey",
    )
    return df.groupBy("file_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_orderkey").cast("bigint").alias("keysum"),
    )


register(
    "file_metadata_provenance",
    _q_file_metadata,
    """
    SELECT 'lineitem.parquet' AS file_name, COUNT(*) AS n,
           CAST(SUM(l_orderkey) AS BIGINT) AS keysum
    FROM lineitem
    """,
)


# ------------------------------------------ mtime-incremental file pickup

def _q_modified_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level incremental ingestion by MODIFICATION TIME (the other
    incremental axis next to the reference's value-watermark: pick up
    only files that landed since the last run): two staged files with
    controlled mtimes; ``modifiedAfter`` must admit exactly the newer
    one. Closed-form oracle from the staged split."""
    import os

    from gcp_etl_pipeline_spark.operators.curation_queries import session_root

    ensure_views(spark, sf_dir)
    root = session_root(spark, "mtime")
    if not os.path.exists(f"{root}/_done"):
        nat = spark.table("nation").select("n_nationkey", "n_name")
        for tag, pred, ts in (
            ("old", "n_nationkey < 10", 1_000_000_000),
            ("new", "n_nationkey >= 10", 1_700_000_000),
        ):
            tmp = f"{root}/tmp_{tag}"
            nat.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            import glob as _glob
            import shutil as _shutil

            part = sorted(_glob.glob(f"{tmp}/part-*.parquet"))[0]
            os.makedirs(f"{root}/in", exist_ok=True)
            dst = f"{root}/in/{tag}.parquet"
            _shutil.copy(part, dst)
            os.utime(dst, (ts, ts))
        open(f"{root}/_done", "w").close()

    picked = (
        spark.read.option("modifiedAfter", "2010-01-01T00:00:00")
        .parquet(f"{root}/in")
    )
    return picked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_nationkey").cast("bigint").alias("keysum"),
    )


register(
    "modified_after_pickup",
    _q_modified_after,
    """
    SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS keysum
    FROM nation WHERE n_nationkey >= 10
    """,
)


# -------------------------------------------- corrupt-file tolerance

def _q_ignore_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level fault tolerance (the directory twin of the row-level
    PERMISSIVE query): a landing dir holds two good parquet files and
    one truncated garbage file; ``ignoreCorruptFiles`` must skip the bad
    file and read every good row (at 100 TB a bad object WILL land).
    Closed-form oracle from the staged split."""
    import glob as _glob
    import os
    import shutil as _shutil

    from gcp_etl_pipeline_spark.operators.curation_queries import session_root

    ensure_views(spark, sf_dir)
    root = session_root(spark, "corruptf")
    if not os.path.exists(f"{root}/_done"):
        nat = spark.table("nation").select("n_nationkey", "n_name")
        os.makedirs(f"{root}/in", exist_ok=True)
        for tag, pred in (("a", "n_nationkey % 2 = 0"), ("b", "n_nationkey % 2 = 1")):
            tmp = f"{root}/tmp_{tag}"
            nat.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = sorted(_glob.glob(f"{tmp}/part-*.parquet"))[0]
            _shutil.copy(part, f"{root}/in/{tag}.parquet")
        with open(f"{root}/in/garbage.parquet", "wb") as fh:
            fh.write(b"PAR1 this is not a parquet file at all")
        open(f"{root}/_done", "w").close()

    df = (
        spark.read.option("ignoreCorruptFiles", "true")
        .schema("n_nationkey BIGINT, n_name STRING")
        .parquet(f"{root}/in")
    )
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_nationkey").cast("bigint").alias("keysum"),
    )


register(
    "ignore_corrupt_files",
    _q_ignore_corrupt_files,
    """
    SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS keysum
    FROM nation
    """,
)


# ---------------------------------------------- error-tolerant arithmetic

def _q_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe transform family: try_divide / try_to_number /
    try_element_at return NULL where the strict forms raise (division by
    zero, malformed numerics, out-of-range index) — the row-level
    error-tolerance story for expressions, complementing PERMISSIVE
    (parse) and ignoreCorruptFiles (files). Deterministic divisor zeros
    are planted by key so the oracle reproduces NULL placement exactly."""
    ensure_views(spark, sf_dir)
    o = spark.table("orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 5).alias("div"),
        F.col("o_orderpriority"),
    )
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_orderkey").cast("double"), F.col("div"))
        .alias("safe_div"),
        F.try_to_number(
            F.regexp_extract("o_orderpriority", r"^(\d+)", 1), F.lit("9")
        ).cast("double").alias("prio_num"),
        F.try_element_at(
            F.split("o_orderpriority", "-"), F.lit(3)
        ).alias("third_part"),
    )


register(
    "try_functions_safe",
    _q_try_functions,
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 5 = 0 THEN NULL
                ELSE CAST(o_orderkey AS DOUBLE) / (o_orderkey % 5)
           END AS safe_div,
           CASE WHEN regexp_extract(o_orderpriority, '^(\\d+)', 1) = ''
                THEN NULL
                ELSE CAST(regexp_extract(o_orderpriority, '^(\\d+)', 1)
                          AS DOUBLE)
           END AS prio_num,
           CASE WHEN len(string_split(o_orderpriority, '-')) >= 3
                THEN string_split(o_orderpriority, '-')[3]
                ELSE NULL END AS third_part
    FROM orders
    """,
)


# --------------------------------------- snapshot distribution drift (PSI)

def _q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two order-year snapshots of
    o_totalprice — the pre-publish drift gate a daily 100-TB ingest runs
    (operators/quality.py:distribution_drift). Each side is one scan →
    one 10-bucket aggregate; the snapshots never join each other."""
    from gcp_etl_pipeline_spark.operators.quality import distribution_drift

    ensure_views(spark, sf_dir)
    o = spark.table("orders")
    return distribution_drift(
        o.where(F.year("o_orderdate") == 1995),
        o.where(F.year("o_orderdate") == 1996),
        "o_totalprice", 0.0, 500000.0, n_buckets=10,
    )


register(
    "distribution_drift_psi",
    _q_distribution_drift,
    """
    WITH ba AS (SELECT LEAST(GREATEST(CAST(FLOOR(CAST(o_totalprice AS DOUBLE)
                   / 50000.0) AS BIGINT), 0), 9) AS bucket
                FROM orders WHERE year(o_orderdate) = 1995),
    bb AS (SELECT LEAST(GREATEST(CAST(FLOOR(CAST(o_totalprice AS DOUBLE)
                   / 50000.0) AS BIGINT), 0), 9) AS bucket
           FROM orders WHERE year(o_orderdate) = 1996),
    ha AS (SELECT bucket, COUNT(*) AS n_a FROM ba GROUP BY 1),
    hb AS (SELECT bucket, COUNT(*) AS n_b FROM bb GROUP BY 1),
    j AS (SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
                 COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
    t AS (SELECT CAST(GREATEST(SUM(n_a), 1) AS DOUBLE) AS t_a,
                 CAST(GREATEST(SUM(n_b), 1) AS DOUBLE) AS t_b FROM j)
    SELECT bucket, n_a, n_b,
           CAST(ROUND(((CAST(n_a AS DOUBLE) / t_a + 0.000001)
                       - (CAST(n_b AS DOUBLE) / t_b + 0.000001))
                      * ln((CAST(n_a AS DOUBLE) / t_a + 0.000001)
                           / (CAST(n_b AS DOUBLE) / t_b + 0.000001))
                      * 1000000, 0) AS BIGINT) AS psi_u
    FROM j CROSS JOIN t
    """,
)


def _q_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI between two order-year snapshots on orderpriority
    (operators/quality.py:categorical_drift)."""
    from gcp_etl_pipeline_spark.operators.quality import categorical_drift

    ensure_views(spark, sf_dir)
    o = spark.table("orders")
    return categorical_drift(
        o.where(F.year("o_orderdate") == 1995),
        o.where(F.year("o_orderdate") == 1996),
        "o_orderpriority",
    )


register(
    "categorical_drift_psi",
    _q_categorical_drift,
    """
    WITH ha AS (SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '<null>')
                  AS category, COUNT(*) AS n_a
                FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
    hb AS (SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '<null>')
             AS category, COUNT(*) AS n_b
           FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
    j AS (SELECT COALESCE(ha.category, hb.category) AS category,
                 COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          FROM ha FULL OUTER JOIN hb ON ha.category = hb.category),
    t AS (SELECT CAST(GREATEST(SUM(n_a), 1) AS DOUBLE) AS t_a,
                 CAST(GREATEST(SUM(n_b), 1) AS DOUBLE) AS t_b FROM j)
    SELECT category, n_a, n_b,
           CAST(ROUND(((CAST(n_a AS DOUBLE) / t_a + 0.000001)
                       - (CAST(n_b AS DOUBLE) / t_b + 0.000001))
                      * ln((CAST(n_a AS DOUBLE) / t_a + 0.000001)
                           / (CAST(n_b AS DOUBLE) / t_b + 0.000001))
                      * 1000000, 0) AS BIGINT) AS psi_u
    FROM j CROSS JOIN t
    """,
)


# ----------------------------------- snapshot distribution drift (exact KS)

def _q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift between the same two
    order-year snapshots the PSI gate compares — the unbinned statistic
    that catches shifts PSI's 10-bucket grid averages away
    (operators/quality.py:ks_drift). The CDF cumsum runs as a two-phase
    distributed prefix sum (range buckets + broadcast offsets), never a
    single-task global window."""
    from gcp_etl_pipeline_spark.operators.quality import ks_drift

    ensure_views(spark, sf_dir)
    o = spark.table("orders")
    return ks_drift(
        o.where(F.year("o_orderdate") == 1995),
        o.where(F.year("o_orderdate") == 1996),
        "o_totalprice",
    )


register(
    "quantile_drift_ks",
    _q_ks_drift,
    """
    WITH ag AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, COUNT(*) AS c_a
                FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
    bg AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, COUNT(*) AS c_b
           FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
    u AS (SELECT COALESCE(ag.v, bg.v) AS v, COALESCE(c_a, 0) AS c_a,
                 COALESCE(c_b, 0) AS c_b
          FROM ag FULL OUTER JOIN bg ON ag.v = bg.v),
    t AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na,
                 CAST(SUM(c_b) AS BIGINT) AS nb FROM u),
    cum AS (SELECT SUM(c_a) OVER (ORDER BY v) AS cum_a,
                   SUM(c_b) OVER (ORDER BY v) AS cum_b
            FROM u)
    -- empty-snapshot contract replayed (quality.py:ks_drift): either
    -- side empty -> ONE scream row (n_a, n_b, scale), never 0 rows or
    -- a 0/0 division
    SELECT COALESCE(na, 0) AS n_a, COALESCE(nb, 0) AS n_b,
           CAST(1000000 AS BIGINT) AS ks_u
    FROM t WHERE COALESCE(na, 0) = 0 OR COALESCE(nb, 0) = 0
    UNION ALL
    SELECT na AS n_a, nb AS n_b,
           CAST(ROUND(CAST(MAX(ABS(cum_a * nb - cum_b * na)) AS DOUBLE)
                      * 1000000 / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)),
                      0) AS BIGINT) AS ks_u
    FROM cum CROSS JOIN (SELECT * FROM t
                         WHERE COALESCE(na, 0) > 0
                           AND COALESCE(nb, 0) > 0) t
    GROUP BY na, nb
    """,
)


# ------------------------------------------- exact grouped percentiles

def _q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99 of o_totalprice per order priority — the
    deterministic alternative to approx_percentile (whose sketch output
    is engine- and merge-order-dependent, so it can never be
    differentially graded): the k-th order statistic at k = ceil(p·n)
    via one per-group ranking window. The VALUE at position k is unique
    regardless of how ties order, so the result is layout-invariant.

    Scale shape: one hash exchange on the group key + a per-group sort;
    groups are the unit of parallelism (5 priorities here — at cluster
    scale use a higher-cardinality group key or the distributed
    prefix-sum of ks_drift for a global percentile)."""
    from pyspark.sql import Window

    ensure_views(spark, sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    wn = Window.partitionBy("o_orderpriority")
    d = (
        spark.table("orders")
        .select("o_orderpriority", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )

    def at(p: float):
        k = F.ceil(F.col("n") * F.lit(p)).cast("bigint")
        return F.max(F.when(F.col("rn") == k, F.col("o_totalprice")))

    return d.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_rows"),
        at(0.5).alias("p50"),
        at(0.9).alias("p90"),
        at(0.99).alias("p99"),
    )


register(
    "exact_group_percentiles",
    _q_exact_percentiles,
    """
    WITH d AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT)
                    THEN o_totalprice END) AS p50,
           MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT)
                    THEN o_totalprice END) AS p90,
           MAX(CASE WHEN rn = CAST(CEIL(n * 0.99) AS BIGINT)
                    THEN o_totalprice END) AS p99
    FROM d GROUP BY o_orderpriority
    """,
)
