"""The GoSales star-schema vertical — the reference's full curated+semantic
pipeline, recreated over the driver's TPC-H-ish fixtures (FIXTURES.md role
mapping: lineitem+orders → go_daily_sales, part → go_products,
supplier+nation+region → go_retailers, orders.o_orderpriority → go_methods).

Stages (reference build order, `composer/goSalesPipeline.py:23-29`):
  method_hlp / retailer_hlp  — surrogate-key registries
  product_lkp                — key + attribute payload
  retailer_dim               — dimension (hlp ⋈ raw attributes)
  sales_fact                 — 4-way lower()-join star fact
                               (`...sales_fact_01.py:55-73`)
  tl_sales_overview          — semantic rollup: 3-way surrogate-key join +
                               4 aggregates + GROUP BY 8
                               (`tl_sm_gosales_overview_01.sql:5-26`)

Determinism deviations from the reference (SURVEY §7):
  - surrogate keys ordered by natural key (reference: no ORDER BY);
  - float sums via exact µ-unit integer sums (reference: bare double sums).

Every stage function takes (spark, sf_dir) and returns an unmaterialized
DataFrame; `oracle()` returns the equivalent DuckDB SQL so the pair can be
differentially tested. Scale: dims/helpings are broadcast into the fact;
the lineitem⋈orders co-key join is left to AQE (sort-merge w/ skew split).

The star is built one way: every materialization (the stages below, the
pipeline and catalog verticals over the layers they wrote, the stream per
micro-batch) composes the ``REGISTRIES`` candidates, ``retailer_dim_from``,
``fact_from`` and ``overview_from_tables``. Nothing here is persisted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.functions.deterministic import det_sum_bigint_expr
from gcp_etl_pipeline_spark.operators.keys import surrogate_keys
from gcp_etl_pipeline_spark.operators.normalize import norm_key


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------- raw layer

def go_daily_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders cast into the go_daily_sales shape
    (`jobs/raw/mysql_to_gcs_parquet.py:38-60`): dates stringified at
    ingestion like the reference's CAST(x AS CHAR)."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return li.join(orders, li.l_orderkey == orders.o_orderkey, "inner").select(
        F.col("l_suppkey").cast("string").alias("retailer_code"),
        F.col("l_partkey").cast("string").alias("product_number"),
        F.col("o_orderpriority").alias("order_method_code"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("sale_date"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("unit_price"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("unit_sale_price"),
    )


def go_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method registry source (reference go_methods,
    `commons/dictionary_check.py:4-16`); codes lower-cased so the fact's
    lower()= joins are actually exercised."""
    return (
        _read(spark, sf_dir, "orders")
        .select("o_orderpriority")
        .distinct()
        .select(
            F.lower("o_orderpriority").alias("order_method_code"),
            F.expr("split_part(o_orderpriority, '-', 2)").alias("order_method_type"),
        )
    )


def go_retailers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("s_suppkey").cast("string").alias("retailer_code"),
            F.col("s_name").alias("retailer_name"),
            F.col("n_name").alias("retailer_type"),
            F.col("r_name").alias("country"),
        )
    )


def go_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("string").alias("product_number"),
        F.expr("split_part(p_type, ' ', 1)").alias("product_line"),
        F.col("p_type").alias("product_type"),
        F.col("p_name").alias("product"),
        F.col("p_brand").alias("product_brand"),
        F.expr("split_part(p_name, ' ', 1)").alias("product_color"),
        F.round(F.col("p_retailprice") * 0.8, 2).alias("unit_cost"),
        F.col("p_retailprice").alias("unit_price"),
    )


# ------------------------------------------------------------ curated layer

def method_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct method names: the candidates of the method registry."""
    return go_methods(spark, sf_dir).select(
        F.col("order_method_type").alias("method_name")
    ).distinct()


def retailer_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct retailer codes: the candidates of the retailer registry."""
    return go_retailers(spark, sf_dir).select("retailer_code").distinct()


# The surrogate-key registries: name -> (key column, natural key, candidate
# rows). A registry is its candidates keyed densely by natural key; the
# materialized pipeline keys only the candidates its written registry
# lacks, continuing from the registry's max key.
REGISTRIES = {
    "method_hlp": ("method_key", "method_name", method_names),
    "retailer_hlp": ("retailer_key", "retailer_code", retailer_codes),
    "product_lkp": ("product_key", "product_number", go_products),
}


def _registry(name: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty target -> keys from 1 (`...retailer_hlp_01.py:50-65`)."""
    key_col, natural, candidates = REGISTRIES[name]
    src = candidates(spark, sf_dir)
    return surrogate_keys(src, None, key_col, [natural]).select(key_col, *src.columns)


def method_hlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT method names -> dense surrogate keys
    (`...method_hlp_01.py:50-65`)."""
    return _registry("method_hlp", spark, sf_dir)


def retailer_hlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(`...retailer_hlp_01.py:50-65`)."""
    return _registry("retailer_hlp", spark, sf_dir)


def product_lkp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key + full attribute payload (`...product_lkp_01.py:59-81`)."""
    return _registry("product_lkp", spark, sf_dir)


def retailer_dim_from(r: DataFrame, rh: DataFrame) -> DataFrame:
    """raw retailers ⋈ retailer_hlp on lower(retailer_code)
    (`...retailer_dim_01.py:51-64`)."""
    return r.join(
        F.broadcast(rh), norm_key(r.retailer_code) == norm_key(rh.retailer_code)
    ).select("retailer_key", "retailer_name", "retailer_type", "country")


def retailer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retailer_dim_from(go_retailers(spark, sf_dir), retailer_hlp(spark, sf_dir))


def fact_from(
    src: DataFrame, rh: DataFrame, pl: DataFrame, mt: DataFrame, mh: DataFrame
) -> DataFrame:
    """4-way lower()-normalized left star join + casts
    (`...sales_fact_01.py:55-73`) of the daily sales ``src`` with the
    retailer/method registries, the product lookup and the method source
    ``mt``. Dim sides broadcast: the fact side (the 100 TB table) is never
    shuffled by these joins."""
    return (
        src.join(
            F.broadcast(rh),
            norm_key(src.retailer_code) == norm_key(rh.retailer_code),
            "left",
        )
        .join(
            F.broadcast(pl),
            norm_key(src.product_number) == norm_key(pl.product_number),
            "left",
        )
        .join(
            F.broadcast(mt),
            norm_key(src.order_method_code) == norm_key(mt.order_method_code),
            "left",
        )
        .join(
            F.broadcast(mh),
            norm_key(mt.order_method_type) == norm_key(mh.method_name),
            "left",
        )
        .select(
            "retailer_key",
            "product_key",
            "method_key",
            "sale_date",
            F.col("quantity").cast("int").alias("sell_quantity"),
            pl.unit_price.cast("float").alias("buying_unit_price"),
            src.unit_price.cast("float").alias("ask_selling_unit_price"),
            F.col("unit_sale_price").cast("float").alias("selling_unit_price"),
        )
    )


def sales_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``fact_from`` over the sources and the registries built from them.
    Nothing is persisted: every call reads the sources as they are now.
    The materialized pipeline does not rebuild the registries: its fact
    joins the WRITTEN ones (plans/gosales_pipeline.py)."""
    return fact_from(
        go_daily_sales(spark, sf_dir),
        retailer_hlp(spark, sf_dir),
        product_lkp(spark, sf_dir),
        go_methods(spark, sf_dir),
        method_hlp(spark, sf_dir),
    )


def sales_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic thin layer (`tl_sm_gosales_overview_01.sql:5-26`): parse the
    stringified date, 3-way surrogate-key star join, 4 aggregates, GROUP BY
    the 8 dimensions. Float sums via exact µ-unit integers (deterministic
    at any parallelism).

    Each registry is built once and feeds both the fact and the rollup.

    Physical shape: the fact is PRE-aggregated on its narrow integer keys
    (+ date string) BEFORE the dim joins — the big shuffle carries 4 ints
    and integer partials instead of 8 display strings, the broadcasts see
    key-group rows instead of raw fact rows, and a second (tiny) aggregate
    after the joins groups by the display attributes. Exact under the
    µ-unit recipe: integer partial sums re-sum associatively, identical to
    the single-level grouping (dim keys → attributes is functional, and
    attribute collisions merge in the outer aggregate exactly as they
    would have in a direct GROUP BY)."""
    rh = retailer_hlp(spark, sf_dir)
    pl = product_lkp(spark, sf_dir)
    mh = method_hlp(spark, sf_dir)
    sf = fact_from(go_daily_sales(spark, sf_dir), rh, pl, go_methods(spark, sf_dir), mh)
    rd = retailer_dim_from(go_retailers(spark, sf_dir), rh)
    return overview_from_tables(sf, rd, pl, mh)


def overview_from_tables(
    sf: DataFrame, rd: DataFrame, pl: DataFrame, mh: DataFrame
) -> DataFrame:
    """The overview rollup over ALREADY-BUILT fact/dim tables — shared by
    the inline batch plan (above), the materialized pipeline's semantic
    job over the written star (`plans/gosales_pipeline.py`), the streaming
    warehouse rollup (`plans/gosales_streaming.py`), and the catalog-table
    vertical (`sinks/catalog.py`). Same physical shape and µ-unit exactness as
    documented on ``sales_overview``."""
    rd = rd.alias("rd")
    pl = pl.alias("pl")
    mh = mh.alias("mh")
    micro = "CAST(ROUND(CAST(({x}) AS DOUBLE) * 1000000, 0) AS BIGINT)"
    pre = (
        sf.select(
            "sale_date", "retailer_key", "product_key", "method_key",
            F.col("sell_quantity").cast("bigint").alias("q"),
            F.expr(micro.format(x="CAST(selling_unit_price AS DOUBLE)")).alias("p_u"),
            F.expr(
                micro.format(x="CAST(selling_unit_price AS DOUBLE) * sell_quantity")
            ).alias("pq_u"),
        )
        .groupBy("sale_date", "retailer_key", "product_key", "method_key")
        .agg(
            F.sum("q").alias("q_s"),
            F.sum("p_u").alias("p_us"),
            F.sum("pq_u").alias("pq_us"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .alias("pre")
    )
    joined = (
        pre.join(F.broadcast(rd), F.col("pre.retailer_key") == F.col("rd.retailer_key"), "left")
        .join(F.broadcast(pl), F.col("pre.product_key") == F.col("pl.product_key"), "left")
        .join(F.broadcast(mh), F.col("pre.method_key") == F.col("mh.method_key"), "left")
    )
    unmicro = "CAST(FLOOR(CAST(SUM({c}) AS DOUBLE) / 1000000.0) AS BIGINT)"
    return (
        joined.select(
            F.to_date("pre.sale_date", "yyyy-MM-dd").alias("sale_date"),
            F.col("rd.retailer_name").alias("retailer_name"),
            F.col("rd.retailer_type").alias("retailer_type"),
            F.col("rd.country").alias("country"),
            F.col("pl.product").alias("product_name"),
            F.col("pl.product_type").alias("product_type"),
            F.col("pl.product_brand").alias("product_brand"),
            F.col("mh.method_name").alias("method_name"),
            "pre.q_s", "pre.p_us", "pre.pq_us", "pre.cnt",
        )
        .groupBy(
            "sale_date",
            "retailer_name",
            "retailer_type",
            "country",
            "product_name",
            "product_type",
            "product_brand",
            "method_name",
        )
        .agg(
            F.sum("q_s").cast("bigint").alias("sell_quantity"),
            F.expr(unmicro.format(c="p_us")).alias("selling_unit_price"),
            F.expr(unmicro.format(c="pq_us")).alias("sales_amount"),
            F.sum("cnt").cast("bigint").alias("no_of_transactions"),
        )
    )


# ------------------------------------------------------------------ oracles

_RAW_CTES = """
go_daily_sales AS (
  SELECT CAST(l_suppkey AS VARCHAR) AS retailer_code,
         CAST(l_partkey AS VARCHAR) AS product_number,
         o_orderpriority AS order_method_code,
         strftime(l_shipdate, '%Y-%m-%d') AS sale_date,
         l_quantity AS quantity,
         l_extendedprice AS unit_price,
         l_extendedprice * (1 - l_discount) AS unit_sale_price
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
go_methods AS (
  SELECT lower(o_orderpriority) AS order_method_code,
         split_part(o_orderpriority, '-', 2) AS order_method_type
  FROM (SELECT DISTINCT o_orderpriority FROM orders)
),
go_retailers AS (
  SELECT CAST(s_suppkey AS VARCHAR) AS retailer_code, s_name AS retailer_name,
         n_name AS retailer_type, r_name AS country
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
),
go_products AS (
  SELECT CAST(p_partkey AS VARCHAR) AS product_number,
         split_part(p_type, ' ', 1) AS product_line,
         p_type AS product_type,
         p_name AS product,
         p_brand AS product_brand,
         split_part(p_name, ' ', 1) AS product_color,
         ROUND(p_retailprice * 0.8, 2) AS unit_cost,
         p_retailprice AS unit_price
  FROM part
),
method_hlp AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY method_name) AS BIGINT) AS method_key,
         method_name
  FROM (SELECT DISTINCT order_method_type AS method_name FROM go_methods)
),
retailer_hlp AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY retailer_code) AS BIGINT) AS retailer_key,
         retailer_code
  FROM (SELECT DISTINCT retailer_code FROM go_retailers)
),
product_lkp AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY product_number) AS BIGINT) AS product_key,
         product_number, product_line, product_type, product, product_brand,
         product_color, unit_cost, unit_price
  FROM go_products
),
retailer_dim AS (
  SELECT rh.retailer_key, r.retailer_name, r.retailer_type, r.country
  FROM go_retailers r
  JOIN retailer_hlp rh ON lower(trim(r.retailer_code)) = lower(trim(rh.retailer_code))
),
sales_fact AS (
  SELECT rh.retailer_key, pl.product_key, mh.method_key, src.sale_date,
         CAST(src.quantity AS INT) AS sell_quantity,
         CAST(pl.unit_price AS FLOAT) AS buying_unit_price,
         CAST(src.unit_price AS FLOAT) AS ask_selling_unit_price,
         CAST(src.unit_sale_price AS FLOAT) AS selling_unit_price
  FROM go_daily_sales src
  LEFT JOIN retailer_hlp rh
    ON lower(trim(src.retailer_code)) = lower(trim(rh.retailer_code))
  LEFT JOIN product_lkp pl
    ON lower(trim(src.product_number)) = lower(trim(pl.product_number))
  LEFT JOIN go_methods mt
    ON lower(trim(src.order_method_code)) = lower(trim(mt.order_method_code))
  LEFT JOIN method_hlp mh
    ON lower(trim(mt.order_method_type)) = lower(trim(mh.method_name))
)
"""


def oracle(stage: str) -> str:
    """DuckDB SQL equivalent of each stage (for differential testing)."""
    finals = {
        "method_hlp": "SELECT method_key, method_name FROM method_hlp",
        "retailer_hlp": "SELECT retailer_key, retailer_code FROM retailer_hlp",
        "product_lkp": "SELECT * FROM product_lkp",
        "retailer_dim": "SELECT * FROM retailer_dim",
        "sales_fact": "SELECT * FROM sales_fact",
        "sales_overview": f"""
            SELECT CAST(strptime(sale_date, '%Y-%m-%d') AS DATE) AS sale_date,
                   rd.retailer_name, rd.retailer_type, rd.country,
                   pl.product AS product_name, pl.product_type, pl.product_brand,
                   mh.method_name,
                   CAST(SUM(sf.sell_quantity) AS BIGINT) AS sell_quantity,
                   {det_sum_bigint_expr('CAST(sf.selling_unit_price AS DOUBLE)')} AS selling_unit_price,
                   {det_sum_bigint_expr('CAST(sf.selling_unit_price AS DOUBLE) * sf.sell_quantity')} AS sales_amount,
                   COUNT(*) AS no_of_transactions
            FROM sales_fact sf
            LEFT JOIN retailer_dim rd ON sf.retailer_key = rd.retailer_key
            LEFT JOIN product_lkp pl ON sf.product_key = pl.product_key
            LEFT JOIN method_hlp mh ON sf.method_key = mh.method_key
            GROUP BY 1, 2, 3, 4, 5, 6, 7, 8
        """,
    }
    return f"WITH {_RAW_CTES} {finals[stage]}"


STAGES = {
    "method_hlp": method_hlp,
    "retailer_hlp": retailer_hlp,
    "product_lkp": product_lkp,
    "retailer_dim": retailer_dim,
    "sales_fact": sales_fact,
    "sales_overview": sales_overview,
}
