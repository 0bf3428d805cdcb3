"""ORC and JSONL source/sink behavior: type fidelity through the
roundtrip and, for ORC, the same pushdown/pruning guarantees as Parquet."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcp_etl_pipeline_spark.session import scratch_dir
from gcp_etl_pipeline_spark.sinks.writers import write_json_lines, write_orc
from gcp_etl_pipeline_spark.sources.files import (
    read_json_lines,
    read_orc,
    read_parquet,
)


def test_orc_roundtrip_preserves_types(spark, sf_dir):
    src = read_parquet(spark, f"{sf_dir}/orders.parquet")
    path = scratch_dir("fmt_orc") + "/orders"
    write_orc(src, path)
    back = read_orc(spark, path)
    assert back.schema == src.schema
    assert back.count() == src.count()


def test_orc_scan_pushes_filters_and_prunes_columns(spark, sf_dir):
    src = read_parquet(spark, f"{sf_dir}/orders.parquet")
    path = scratch_dir("fmt_orc_pd") + "/orders"
    write_orc(src, path)
    df = read_orc(spark, path).where(F.col("o_orderkey") > 100).select(
        "o_orderkey", "o_totalprice"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # filter reaches the ORC reader; scan reads only the 2 projected cols
    assert "PushedFilters: [IsNotNull(o_orderkey), GreaterThan(o_orderkey" in plan, plan
    assert "o_orderdate" not in plan.split("ReadSchema")[-1], plan


def test_jsonl_roundtrip_with_explicit_schema(spark, sf_dir):
    src = read_parquet(spark, f"{sf_dir}/nation.parquet")
    path = scratch_dir("fmt_jsonl") + "/nation"
    write_json_lines(src, path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    back = read_json_lines(spark, path, schema=schema)
    got = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in back.collect()}
    want = {
        r.n_nationkey: (r.n_name, int(r.n_regionkey)) for r in src.collect()
    }
    assert got == want
