"""Data-quality expectations operator (operators/expectations.py)."""

from __future__ import annotations

import os

import pytest

from gcp_etl_pipeline_spark.operators import expectations as ex


def _df(spark):
    return spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (2, None, "B"),     # price_not_null fails
            (3, 500.0, "A"),    # price_cap fails
            (4, 700.0, "Z"),    # price_cap AND flag_known fail
        ],
        "id INT, price DOUBLE, flag STRING",
    )


RULES = lambda: {
    "price_not_null": ex.not_null("price"),
    "price_cap": ex.predicate("price <= 100"),
    "flag_known": ex.one_of("flag", ["A", "B"]),
}


def test_check_counts_all_rules_one_scan(spark):
    out = {r.rule: (r.violations, r.total, r.passed)
           for r in ex.check(_df(spark), RULES()).collect()}
    # NULL predicate results are NOT violations (three-valued logic:
    # price_cap on a null price is unknown, counted by price_not_null)
    assert out == {
        "price_not_null": (1, 4, False),
        "price_cap": (2, 4, False),
        "flag_known": (1, 4, False),
    }


def test_enforce_split_and_provenance(spark):
    good, bad = ex.enforce(_df(spark), RULES())
    assert {r.id for r in good.collect()} == {1}
    got = {r.id: list(r.failed_rules) for r in bad.collect()}
    # declaration order preserved within each row's failure list
    assert got == {
        2: ["price_not_null"],
        3: ["price_cap"],
        4: ["price_cap", "flag_known"],
    }
    assert "failed_rules" not in good.columns


def test_unique_key_violations(spark):
    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y"), (1, "z")], "k INT, s STRING"
    )
    out = ex.unique_key_violations(df, ["k", "s"]).collect()
    assert [(r.k, r.s, r.n_rows) for r in out] == [(1, "x", 2)]


def test_matches_and_in_range_builders(spark):
    df = spark.createDataFrame(
        [("Clerk#1", 5), ("nope", 50)], "c STRING, v INT"
    )
    out = {r.rule: r.violations for r in ex.check(df, {
        "fmt": ex.matches("c", "^Clerk#[0-9]+$"),
        "band": ex.in_range("v", 0, 10),
    }).collect()}
    assert out == {"fmt": 1, "band": 1}


def test_from_spec_contract_rules(spark):
    from gcp_etl_pipeline_spark.spec import ColumnSpec, TableSpec

    spec = TableSpec(
        name="raw.t",
        columns=(
            ColumnSpec("id", "bigint"),
            ColumnSpec("d", "date"),
            ColumnSpec("v", "double"),
        ),
        merge_columns=("id",),
        watermark_column="d",
    )
    rules = ex.from_spec(spec)
    assert set(rules) == {"id_not_null", "d_not_null", "d_date_parseable"}
    df = spark.createDataFrame(
        [(1, "2024-01-02", 1.0),
         (None, "2024-01-03", 2.0),     # id_not_null violation
         (3, "01/02/2024", 3.0),        # unparseable date
         (4, None, 4.0)],               # d_not_null violation (parse rule
                                        # tolerates null: not its job)
        "id BIGINT, d STRING, v DOUBLE",
    )
    out = {r.rule: r.violations for r in ex.check(df, rules).collect()}
    assert out == {"id_not_null": 1, "d_not_null": 1, "d_date_parseable": 1}


def _part_files(path):
    return sorted(f for f in os.listdir(path) if f.startswith("part-"))


def test_enforce_to_quarantine_routes_bad_rows(spark, tmp_path):
    qpath = str(tmp_path / "quarantine")
    df = _df(spark)
    with ex.enforce_to_quarantine(df, RULES(), qpath, batch_id="b-7") as good:
        assert {r.id for r in good.collect()} == {1}
    quar = spark.read.parquet(qpath)
    rows = {r.id: (list(r.failed_rules), r.batch_id) for r in quar.collect()}
    assert rows[4] == (["price_cap", "flag_known"], "b-7")
    assert len(rows) == 3


def test_enforce_to_quarantine_clean_batch_writes_nothing(spark, tmp_path):
    """A clean batch appends no part file to an existing quarantine table
    and creates no directory on a fresh path."""
    qpath = str(tmp_path / "quarantine")
    with ex.enforce_to_quarantine(_df(spark), RULES(), qpath, batch_id="b-7"):
        pass
    before = _part_files(qpath)
    clean = spark.createDataFrame([(9, 1.0, "A")], "id INT, price DOUBLE, flag STRING")
    with ex.enforce_to_quarantine(clean, RULES(), qpath, batch_id="b-8") as good:
        assert good.count() == 1
    assert _part_files(qpath) == before
    assert spark.read.parquet(qpath).count() == 3

    fresh = tmp_path / "fresh_quarantine"
    with ex.enforce_to_quarantine(clean, RULES(), str(fresh)) as good:
        assert good.count() == 1
    assert not fresh.exists()


def test_enforce_to_quarantine_releases_its_cache(spark, tmp_path):
    """The persisted flagged projection lives only as long as the block,
    also when the block raises."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    prior = persistent().size()
    with ex.enforce_to_quarantine(_df(spark), RULES(), str(tmp_path / "q1")) as good:
        good.collect()
        assert persistent().size() > prior
    assert persistent().size() == prior

    with pytest.raises(RuntimeError, match="write failed"):
        with ex.enforce_to_quarantine(_df(spark), RULES(), str(tmp_path / "q2")) as good:
            good.collect()
            raise RuntimeError("write failed")
    assert persistent().size() == prior


def test_enforce_to_quarantine_scans_source_once(spark, tmp_path):
    """The single-scan contract: the quarantine check and write plus the
    main (good) write together read the input source exactly once. The
    source is an instrumented mapInPandas stage counting every row it
    emits via an accumulator — a second scan would double the count."""
    scanned = spark.sparkContext.accumulator(0)

    def gen(batches):
        import pandas as _pd

        for pdf in batches:
            scanned.add(len(pdf))
            yield _pd.DataFrame(
                {"id": pdf["id"], "price": [float(i % 7) for i in pdf["id"]]}
            )

    n = 1000
    src = spark.range(n).mapInPandas(gen, "id BIGINT, price DOUBLE")
    with ex.enforce_to_quarantine(
        src, {"price_cap": ex.predicate("price <= 4.0")},
        str(tmp_path / "quarantine"),
    ) as good:
        good.write.mode("overwrite").parquet(str(tmp_path / "main"))
    assert scanned.value == n, f"source scanned {scanned.value / n:.1f}x"
    n_good = spark.read.parquet(str(tmp_path / "main")).count()
    n_bad = spark.read.parquet(str(tmp_path / "quarantine")).count()
    assert n_good + n_bad == n and n_good == 715  # residues 0..4 of 7 pass


def test_distribution_drift_clamps_and_zero_on_identical(spark):
    """Edge contracts of the PSI gate: out-of-grid values clamp into the
    edge buckets (nothing silently dropped), identical snapshots score
    zero PSI everywhere, and nulls are excluded from the numeric
    histogram but counted as their own category in the categorical
    variant."""
    from gcp_etl_pipeline_spark.operators.quality import (
        categorical_drift,
        distribution_drift,
    )

    a = spark.createDataFrame(
        [(-50.0,), (5.0,), (95.0,), (500.0,), (None,)], "x DOUBLE"
    )
    out = distribution_drift(a, a, "x", 0.0, 100.0, n_buckets=10).collect()
    by_bucket = {r.bucket: (r.n_a, r.n_b, r.psi_u) for r in out}
    assert by_bucket[0][0] == 2  # -50 clamped into bucket 0 alongside 5.0
    assert by_bucket[9][0] == 2  # 95 and clamped 500
    assert sum(r.n_a for r in out) == 4  # null excluded, nothing else lost
    assert all(r.psi_u == 0 for r in out)  # identical snapshots: no drift

    b = spark.createDataFrame([("x",), (None,), (None,)], "c STRING")
    c = spark.createDataFrame([("x",), ("x",), (None,)], "c STRING")
    cat = {r.category: (r.n_a, r.n_b) for r in categorical_drift(b, c, "c").collect()}
    assert cat["<null>"] == (2, 1) and cat["x"] == (1, 2)


def test_drift_empty_snapshot_screams_not_nulls(spark):
    """A vanished snapshot is the most important drift there is: with
    side B empty, psi_u must be large and NON-NULL in every populated
    bucket (n/0 would NULL the shares and a max(psi_u) blocking rule
    would never fire)."""
    from gcp_etl_pipeline_spark.operators.quality import (
        categorical_drift,
        distribution_drift,
    )

    a = spark.createDataFrame([(float(x),) for x in range(20)], "x DOUBLE")
    empty = spark.createDataFrame([], "x DOUBLE")
    rows = distribution_drift(a, empty, "x", 0.0, 20.0, n_buckets=4).collect()
    assert rows and all(r.psi_u is not None for r in rows)
    assert max(r.psi_u for r in rows) > 1_000_000  # screams
    cat = categorical_drift(
        a.selectExpr("CAST(x AS STRING) AS x"), empty.selectExpr("CAST(x AS STRING) AS x"), "x"
    ).collect()
    assert cat and all(r.psi_u is not None and r.psi_u > 0 for r in cat)
