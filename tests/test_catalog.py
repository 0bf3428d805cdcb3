"""Catalog-namespace layer (SURVEY §1.1.1): managed layer databases,
saveAsTable writes, spark.table reads, external registration of
path-written warehouse tables."""

from __future__ import annotations

from gcp_etl_pipeline_spark.sinks import catalog

SF = "/root/testdata/sf0.001"


def test_namespaces_and_managed_roundtrip(spark, tmp_path):
    catalog.ensure_namespaces(spark, str(tmp_path / "wh"))
    dbs = {d.name for d in spark.catalog.listDatabases()}
    assert {"raw", "curated", "semantic", "ops"} <= dbs
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    catalog.save_table(df, "curated.t_roundtrip")
    back = spark.table("curated.t_roundtrip")
    assert back.count() == 10
    # overwrite is truncate-and-insert (K5), not append
    catalog.save_table(df.where("id < 3"), "curated.t_roundtrip")
    assert spark.table("curated.t_roundtrip").count() == 3
    spark.sql("DROP TABLE curated.t_roundtrip")


def test_gosales_catalog_matches_inline_overview(spark, tmp_path):
    """The catalog-routed vertical must be result-identical to the inline
    plan (same oracle grades both)."""
    from gcp_etl_pipeline_spark.plans import gosales

    out = catalog.run_gosales_catalog(spark, SF, str(tmp_path / "wh"))
    inline = gosales.sales_overview(spark, SF)
    key = lambda r: tuple(str(x) for x in r)
    assert sorted(map(key, out.collect())) == sorted(map(key, inline.collect()))


GOSALES_TABLES = ("lineitem", "orders", "part", "supplier", "nation", "region")


def _fixture_copy(tmp_path) -> str:
    """A private copy of the GoSales source tables, free to rewrite."""
    import shutil

    sf = tmp_path / "sf"
    sf.mkdir()
    for t in GOSALES_TABLES:
        shutil.copy(f"{SF}/{t}.parquet", sf / f"{t}.parquet")
    return str(sf)


def _oracle_rowset(sf: str, sql: str):
    import duckdb

    from tools.check import _rowset

    con = duckdb.connect()
    for t in GOSALES_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    rel = con.sql(sql)
    return _rowset(list(rel.columns), rel.fetchall())


def test_gosales_star_reads_current_sources(spark, tmp_path):
    """Nothing built from the sources outlives the call that built it: after
    ``part.parquet`` is rewritten with new brands, the inline overview, the
    catalog vertical and the product lookup all see the new data in the
    same session."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gcp_etl_pipeline_spark.plans import gosales
    from tools.check import _rowset

    sf = _fixture_copy(tmp_path)
    root = str(tmp_path / "wh")

    def assert_matches_oracle():
        want = _oracle_rowset(sf, gosales.oracle("sales_overview"))
        for df in (gosales.sales_overview(spark, sf),
                   catalog.run_gosales_catalog(spark, sf, root)):
            assert _rowset(df.columns, [tuple(r) for r in df.collect()]) == want

    assert_matches_oracle()
    part = pq.read_table(f"{sf}/part.parquet")
    brands = pa.array([f"Brand#X{k % 7}" for k in part.column("p_partkey").to_pylist()])
    part = part.set_column(part.schema.get_field_index("p_brand"), "p_brand", brands)
    pq.write_table(part, f"{sf}/part.parquet")

    assert_matches_oracle()
    got = {r.product_brand for r in gosales.product_lkp(spark, sf).collect()}
    assert got == set(brands.to_pylist())


def test_gosales_star_persists_nothing(spark, tmp_path):
    """The inline overview and the catalog vertical leave the session's
    persisted RDDs as they found them."""
    from gcp_etl_pipeline_spark.plans import gosales

    sf = _fixture_copy(tmp_path)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    prior = persistent().size()
    gosales.sales_overview(spark, sf).collect()
    assert persistent().size() == prior
    catalog.run_gosales_catalog(spark, sf, str(tmp_path / "wh"))
    assert persistent().size() == prior


def test_register_external_over_pipeline_warehouse(spark, tmp_path):
    """Path-writing jobs and catalog readers compose: a parquet dir some
    other job wrote becomes a spark.table-addressable external table, and
    DROP TABLE leaves the data."""
    import os

    p = str(tmp_path / "ext" / "sales")
    spark.range(50).selectExpr("id AS k", "'x' AS s").write.parquet(p)
    catalog.ensure_namespaces(spark, str(tmp_path / "wh"))
    catalog.register_external(spark, "curated.ext_sales", p)
    assert spark.table("curated.ext_sales").count() == 50
    assert spark.sql("SELECT COUNT(*) AS n FROM curated.ext_sales").first().n == 50
    spark.sql("DROP TABLE curated.ext_sales")
    assert os.path.isdir(p)  # external: data survives DROP
