"""As-of join and range join operator tests: semantics on tiny frames
(backward/tolerance, overlap), a naive-theta-join
differential at sf0.001, and physical-plan shape (single shuffle for
as-of; broadcast, shuffle-free probe side for range join)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators.asof import asof_join
from gcp_etl_pipeline_spark.operators.rangejoin import range_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [
            ("a", _ts("2024-01-01 10:00:00"), 100.0),
            ("a", _ts("2024-01-01 10:00:05"), 101.0),
            ("a", _ts("2024-01-01 10:00:10"), 102.0),
            ("b", _ts("2024-01-01 10:00:03"), 200.0),
        ],
        "sym string, ts timestamp, px double",
    )


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [
            ("a", _ts("2024-01-01 09:59:59"), 1),  # before any quote
            ("a", _ts("2024-01-01 10:00:05"), 2),  # exactly on a quote
            ("a", _ts("2024-01-01 10:00:07"), 3),  # between quotes
            ("a", _ts("2024-01-01 10:01:00"), 4),  # long after last quote
            ("b", _ts("2024-01-01 10:00:04"), 5),
            ("c", _ts("2024-01-01 10:00:04"), 6),  # key with no quotes
        ],
        "sym string, ts timestamp, trade_id int",
    )


def _px_by_trade(df):
    return {r["trade_id"]: r["px"] for r in df.collect()}


class TestAsof:
    def test_backward(self, trades, quotes):
        out = asof_join(trades, quotes, on=["sym"], left_ts="ts")
        assert out.count() == trades.count()  # left-outer: every trade kept
        assert _px_by_trade(out) == {
            1: None,      # no quote yet
            2: 101.0,     # ts-equality is inclusive
            3: 101.0,     # most recent prior
            4: 102.0,     # last quote persists
            5: 200.0,
            6: None,      # unseen key
        }

    def test_tolerance(self, trades, quotes):
        out = asof_join(trades, quotes, on=["sym"], left_ts="ts", tolerance_s=3.0)
        # trade 3 is 2 s after its quote (kept); trade 4 is 50 s (nulled);
        # trade 5 is 1 s (kept)
        assert _px_by_trade(out) == {
            1: None, 2: 101.0, 3: 101.0, 4: None, 5: 200.0, 6: None,
        }

    def test_single_shuffle(self, trades, quotes):
        out = asof_join(trades, quotes, on=["sym"], left_ts="ts")
        plan = out._jdf.queryExecution().executedPlan().toString()
        # exactly one exchange: the window's hashpartitioning on the key
        assert plan.count("Exchange hashpartitioning") == 1
        assert "SortMergeJoin" not in plan and "NestedLoop" not in plan

    def test_differential_vs_naive(self, spark, sf_dir):
        """Windowed rewrite == naive greatest-qualifying-row theta join."""
        from gcp_etl_pipeline_spark.sources.files import read_parquet

        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        left = ev.where(F.col("event_type") == "view").select(
            "event_id", "user_id", "ts"
        )
        right = (
            ev.where(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("pval"))
        )
        ours = asof_join(left, right, on=["user_id"], left_ts="ts").select(
            "event_id", "pval"
        )
        naive = (
            left.alias("l")
            .join(
                right.alias("r"),
                (F.col("l.user_id") == F.col("r.user_id"))
                & (F.col("r.ts") <= F.col("l.ts")),
                "left",
            )
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("l.event_id").orderBy(
                        F.col("r.ts").desc_nulls_last()
                    )
                ),
            )
            .where(F.col("rk") == 1)
            .select("l.event_id", "pval")
        )
        assert ours.exceptAll(naive).count() == 0
        assert naive.exceptAll(ours).count() == 0


@pytest.fixture(scope="module")
def intervals(spark):
    return spark.createDataFrame(
        [
            (1, 0.0, 10.0),
            (2, 10.0, 25.0),
            (3, 20.0, 40.0),   # overlaps band 2 on [20, 25)
            (4, 100.0, 101.0),
        ],
        "iv_id int, lo double, hi double",
    )


class TestRangeJoin:
    def test_inner_with_overlap(self, spark, intervals):
        pts = spark.createDataFrame(
            [(1, 5.0), (2, 10.0), (3, 22.0), (4, 40.0), (5, 100.5)],
            "pt_id int, v double",
        )
        out = range_join(pts, intervals, "v", "lo", "hi", chunk=8.0)
        got = sorted((r["pt_id"], r["iv_id"]) for r in out.collect())
        # pt 2: hi-exclusive moves it to band 2; pt 3 overlaps 2 AND 3;
        # pt 4: 40.0 not < 40.0 → dropped
        assert got == [(1, 1), (2, 2), (3, 2), (3, 3), (5, 4)]

    def test_probe_side_never_shuffles(self, spark, intervals):
        pts = spark.range(0, 1000).select(
            F.col("id").alias("pt_id"), (F.col("id") % 45).cast("double").alias("v")
        )
        out = range_join(pts, intervals, "v", "lo", "hi", chunk=8.0)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert "NestedLoop" not in plan


def test_scd2_lookup_point_in_time(spark):
    from gcp_etl_pipeline_spark.operators.scd2 import scd2_build, scd2_lookup

    changes = spark.createDataFrame(
        [
            (1, "A", "2024-01-01", 1),
            (1, "B", "2024-03-01", 2),
            (1, "C", "2024-03-01", 3),   # same-day double change
            (2, "X", "2024-02-01", 4),
        ],
        "k INT, attr STRING, d STRING, id INT",
    ).selectExpr("k", "attr", "CAST(d AS DATE) AS d", "id")
    dim = scd2_build(changes, keys=["k"], attrs=["attr"], ts_col="d",
                     tiebreak=["id"])
    probes = spark.createDataFrame(
        [
            (10, 1, "2024-02-15"),  # inside A's interval
            (11, 1, "2024-03-01"),  # change day: the LAST same-day version
            (12, 1, "2025-01-01"),  # open version
            (13, 2, "2024-01-15"),  # before first version -> NULL
        ],
        "pid INT, k INT, pd STRING",
    ).selectExpr("pid", "k", "CAST(pd AS DATE) AS pd")
    out = {r.pid: r.attr
           for r in scd2_lookup(probes, dim, keys=["k"], ts_col="pd").collect()}
    assert out == {10: "A", 11: "C", 12: "C", 13: None}
