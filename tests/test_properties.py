"""Property-based tests (hypothesis) for determinism-critical invariants.

Pure-Python surfaces run hundreds of cases; Spark-backed properties use a
handful of examples (each roundtrip costs a job)."""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gcp_etl_pipeline_spark import sql as esql
from gcp_etl_pipeline_spark.spec import sql_type_to_spark

# ------------------------------------------------------------- pure python

@given(st.text(min_size=1, max_size=30))
@settings(max_examples=200)
def test_type_ladder_total(anything):
    """The ladder never raises — unknown types fall back to string."""
    sql_type_to_spark(anything)


@given(
    st.dictionaries(
        st.from_regex(r"[a-z_]{1,10}", fullmatch=True),
        st.from_regex(r"[A-Za-z0-9_\-]{0,12}", fullmatch=True),
        max_size=4,
    ),
    st.text(alphabet=st.characters(blacklist_characters="{}"), max_size=80),
)
@settings(max_examples=200)
def test_substitute_params_only_touches_placeholders(params, body):
    """Text without {placeholders} passes through untouched."""
    assert esql.substitute_params(body, params) == body


@given(st.from_regex(r"%Y-%m-%d|%d/%m/%Y|%Y%m%d", fullmatch=True))
@settings(max_examples=50)
def test_parse_date_shim_always_translates(fmt):
    out = esql.translate(f"SELECT PARSE_DATE('{fmt}', c) FROM t")
    assert "PARSE_DATE" not in out and "to_date(" in out
    assert "%" not in out.split("to_date")[1].split(")")[0]


# ------------------------------------------------- spark-backed properties

FLOATS = st.lists(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False,
        width=32,
    ),
    min_size=1,
    max_size=25,
)


@pytest.mark.usefixtures("spark")
@given(values=FLOATS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_det_sum_matches_duckdb_exactly(spark, values):
    """The µ-unit SUM produces bit-identical doubles in Spark and DuckDB
    for arbitrary float32 inputs — the foundation of every float oracle."""
    from gcp_etl_pipeline_spark.functions.deterministic import det_sum_expr

    df = spark.createDataFrame([(float(v),) for v in values], "x FLOAT")
    df.createOrReplaceTempView("prop_vals")
    expr = det_sum_expr("x")
    got = spark.sql(f"SELECT {expr} AS s FROM prop_vals").first().s

    con = duckdb.connect()
    con.execute("CREATE TABLE prop_vals (x FLOAT)")
    con.executemany("INSERT INTO prop_vals VALUES (?)", [(v,) for v in values])
    want = con.sql(f"SELECT {expr} AS s FROM prop_vals").fetchone()[0]
    assert (got == want) or (math.isnan(got) and math.isnan(want))


@pytest.mark.usefixtures("spark")
@given(
    codes=st.lists(
        st.from_regex(r"[A-Za-z0-9 ]{1,8}", fullmatch=True),
        min_size=1, max_size=12, unique=True,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_surrogate_keys_dense_and_permutation_invariant(spark, codes):
    """Keys are exactly 1..n and independent of input row order."""
    from gcp_etl_pipeline_spark.operators.keys import surrogate_keys

    fwd = spark.createDataFrame([(c,) for c in codes], ["code"])
    rev = spark.createDataFrame([(c,) for c in reversed(codes)], ["code"])
    a = {(r.code, r.k) for r in surrogate_keys(fwd, None, "k", ["code"]).collect()}
    b = {(r.code, r.k) for r in surrogate_keys(rev, None, "k", ["code"]).collect()}
    assert a == b
    assert sorted(k for _, k in a) == list(range(1, len(codes) + 1))


@given(
    rate=st.floats(min_value=0.0, max_value=1.5, allow_nan=False),
)
@settings(max_examples=200, deadline=None)
def test_hex_threshold_monotone_and_bounded(rate):
    from gcp_etl_pipeline_spark.operators.curation import _hex_threshold

    thr = _hex_threshold(rate)
    if rate >= 1.0:
        assert thr == "g"  # sentinel above every 4-hex bucket
    else:
        assert len(thr) == 4 and all(c in "0123456789abcdef" for c in thr)
        # monotone: a higher rate never keeps fewer buckets
        assert _hex_threshold(min(rate + 0.1, 1.0)) >= thr


@given(
    n_chars=st.lists(st.integers(min_value=1, max_value=5000),
                     min_size=1, max_size=60),
    budget=st.integers(min_value=64, max_value=8192),
)
@settings(max_examples=50, deadline=None)
def test_sequence_packing_invariants(n_chars, budget):
    """Pure-python twin of the packing arithmetic: every doc lands in
    exactly one sequence (by its start offset), chars are conserved,
    sequence ids start at 0 and never decrease, and each sequence's doc
    start offsets all fall inside its budget window — for ANY doc-size
    distribution and budget. (Ids may SKIP when one doc spans several
    budgets — that is correct, not a gap bug.)"""
    cum = 0
    seqs: dict[int, list[tuple[int, int]]] = {}
    for nc in n_chars:  # doc_id order
        sid = cum // budget  # floor(start_offset / budget)
        seqs.setdefault(sid, []).append((cum, nc))
        cum += nc
    assert sum(nc for v in seqs.values() for _, nc in v) == sum(n_chars)
    sids = sorted(seqs)
    assert sids[0] == 0
    for sid in sids:
        for start, _ in seqs[sid]:
            assert sid * budget <= start < (sid + 1) * budget


@given(
    st.lists(
        st.tuples(st.integers(0, 999), st.sampled_from(["a", "b", "c"])),
        min_size=1, max_size=60, unique_by=lambda t: t[0],
    ),
    st.integers(0, 5),
    st.integers(0, 5),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_stratified_take_exact_quota_property(spark, rows, qa, dflt):
    """For ANY input and quota map: per-stratum output size is exactly
    min(quota, stratum size), and the selection is layout-invariant."""
    from collections import Counter

    from gcp_etl_pipeline_spark.operators.curation import stratified_take

    df = spark.createDataFrame(rows, "k INT, s STRING")
    out = stratified_take(df, "s", {"a": qa}, "k", default_quota=dflt)
    got = Counter(r.s for r in out.collect())
    sizes = Counter(s for _, s in rows)
    for stratum, size in sizes.items():
        quota = qa if stratum == "a" else dflt
        assert got.get(stratum, 0) == min(quota, size), (stratum, got)
    again = stratified_take(
        df.repartition(5), "s", {"a": qa}, "k", default_quota=dflt
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )


@given(
    st.lists(
        st.tuples(
            st.integers(0, 999),
            st.sampled_from(["a", "b"]),
            st.integers(1, 40),
        ),
        min_size=1, max_size=50, unique_by=lambda t: t[0],
    ),
    st.integers(0, 200),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_token_budget_take_property(spark, rows, budget_a):
    """For ANY input: the kept set per stratum is exactly the md5-ordered
    prefix whose inclusive cumsum fits the budget (reference computed in
    Python), and the selection is layout-invariant."""
    import hashlib

    from gcp_etl_pipeline_spark.operators.curation import token_budget_take

    df = spark.createDataFrame(rows, "k BIGINT, s STRING, toks BIGINT")
    out = token_budget_take(
        df, "s", {"a": budget_a}, token_col="toks", key_col="k",
        default_budget=35,
    )
    got = sorted((r.s, r.k) for r in out.collect())
    exp = []
    for stratum in {s for _, s, _ in rows}:
        budget = budget_a if stratum == "a" else 35
        pool = sorted(
            (r for r in rows if r[1] == stratum),
            key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]),
        )
        cum = 0
        for r in pool:
            cum += r[2]
            if cum > budget:
                break
            exp.append((stratum, r[0]))
    assert got == sorted(exp), (got, exp)
    again = token_budget_take(
        df.repartition(5), "s", {"a": budget_a}, token_col="toks",
        key_col="k", default_budget=35,
    )
    assert got == sorted((r.s, r.k) for r in again.collect())


@given(
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "dd ee", "x"]),
             min_size=0, max_size=5),
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "dd ee", "x"]),
             min_size=0, max_size=5),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ledger_sequential_equals_oneshot(spark, t1, t2):
    """Metamorphic: feeding two batches through dedup_incremental
    sequentially (batch-1 ids all lower) must accept exactly the rows a
    ONE-SHOT dedup_exact over the union keeps — for any text multisets,
    including empty batches and cross/within-batch duplicates."""
    from gcp_etl_pipeline_spark.operators.dedup import (
        dedup_exact,
        dedup_incremental,
    )
    from gcp_etl_pipeline_spark.session import scratch_dir

    store = scratch_dir("prop_fp") + "/fp"
    schema = "doc_id BIGINT, text STRING"
    rows1 = [(i, t) for i, t in enumerate(t1)]
    rows2 = [(100 + i, t) for i, t in enumerate(t2)]
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    seq = {
        r.doc_id for r in dedup_incremental(b1, store).collect()
    } | {r.doc_id for r in dedup_incremental(b2, store).collect()}
    oneshot = {
        r.doc_id
        for r in dedup_exact(spark.createDataFrame(rows1 + rows2, schema))
        .collect()
    }
    assert seq == oneshot


@settings(max_examples=200, deadline=None)
@given(
    st.one_of(
        st.integers(min_value=1, max_value=2**52 - 1),
        # perfect squares and their neighbours: where FLOOR(SQRT(...))
        # on doubles rounds the wrong way
        st.integers(min_value=1, max_value=94906265).flatmap(
            lambda k: st.sampled_from([k * k - 1, k * k, k * k + 1])
        ),
    )
)
def test_oracle_isqrt_matches_python_isqrt(n: int):
    """The recall oracle's SQL integer-sqrt (FLOOR(SQRT) + two-sided
    correction) must equal math.isqrt for every corpus size — the
    engine sizes IVF lists with auto_n_lists(isqrt(N)), and a one-off
    list count is a cross-engine hash mismatch at large SF."""
    got = duckdb.sql(
        f"SELECT CASE WHEN (s + 1) * (s + 1) <= n THEN s + 1 "
        f"WHEN s * s > n THEN s - 1 ELSE s END "
        f"FROM (SELECT {n}::BIGINT AS n, "
        f"CAST(FLOOR(SQRT(CAST({n} AS DOUBLE))) AS BIGINT) AS s) isq"
    ).fetchone()[0]
    assert got == math.isqrt(n)
