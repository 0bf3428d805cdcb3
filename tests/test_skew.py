"""Salted-join tests: semantic invisibility and salt spreading."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators.skew import salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # 1000 rows, 90% on one hot key
    rows = [(i, "hot" if i % 10 else f"cold{i}") for i in range(1000)]
    return spark.createDataFrame(rows, ["id", "k"])


@pytest.fixture(scope="module")
def build(spark):
    keys = ["hot"] + [f"cold{i}" for i in range(0, 1000, 10)]
    return spark.createDataFrame([(k, len(k)) for k in keys], ["k", "attr"])


def test_salted_join_equals_plain_join(skewed, build):
    plain = skewed.join(build, "k").select("id", "k", "attr")
    salted = salted_join(skewed, build, on=["k"], salt_factor=7).select(
        "id", "k", "attr"
    )
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salt_spreads_hot_key(skewed, build):
    from gcp_etl_pipeline_spark.operators.skew import SALT_COL

    salted = skewed.withColumn(
        SALT_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(8)),
    )
    n_salts = (
        salted.filter("k = 'hot'").select(SALT_COL).distinct().count()
    )
    assert n_salts >= 6  # the hot key spreads over nearly all 8 salt buckets


def test_reserved_column_guard(skewed, build):
    bad = skewed.withColumn("__salt", F.lit(1))
    with pytest.raises(ValueError, match="reserved"):
        salted_join(bad, build, on=["k"])
