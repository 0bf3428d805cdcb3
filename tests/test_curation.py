"""Curation operators: PII redaction, TF-IDF plan shape, Misra-Gries
frequent items — including the lossy (eviction) path the DuckDB oracle
can't exercise."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators import curation, freq
from gcp_etl_pipeline_spark.sources.files import read_parquet


def test_redact_pii_all_classes(spark):
    df = spark.createDataFrame(
        [("write a@b.com or see https://x.io/page, call 555-1234 now",)],
        ["t"],
    )
    out = df.select(
        curation.redact_pii("t").alias("r"), *curation.pii_counts("t")
    ).first()
    assert out.r == "write <EMAIL> or see <URL> call <PHONE> now"
    assert (out.n_email, out.n_url, out.n_phone) == (1, 1, 1)


def test_redact_order_email_before_phone(spark):
    # digits inside an email local part must not leak a <PHONE> token
    df = spark.createDataFrame([("user555-1234@example.com",)], ["t"])
    assert df.select(curation.redact_pii("t").alias("r")).first().r == "<EMAIL>"


def test_tfidf_df_join_broadcasts(spark, sf_dir):
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    df = curation.tfidf(docs)
    df.collect()  # let AQE finalize the plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # document-frequency and corpus-size sides must broadcast back onto
    # the (doc_id, term) counts — never a sort-merge join
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_misra_gries_exact_when_capacity_exceeds_vocab(spark):
    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 5
    df = spark.createDataFrame(rows, ["item"]).repartition(4)
    got = {
        r.item: r.cnt
        for r in freq.frequent_items(df, "item", capacity=16).collect()
    }
    assert got == {"a": 50, "b": 30, "c": 5}


def test_misra_gries_eviction_keeps_heavy_hitters(spark):
    # 1000 singleton items + two heavy items; capacity far below the
    # distinct count forces eviction in every partition.
    rows = (
        [("heavy1",)] * 400
        + [("heavy2",)] * 300
        + [(f"noise{i}",) for i in range(1000)]
    )
    df = spark.createDataFrame(rows, ["item"]).repartition(8)
    n = len(rows)
    capacity = 32
    got = {
        r.item: r.cnt
        for r in freq.mg_merge(
            freq.mg_partials(df, "item", capacity), capacity
        ).collect()
    }
    exact = Counter(r[0] for r in rows)
    # guarantee 1: every item with true count > N/capacity survives
    for item, true_cnt in exact.items():
        if true_cnt > n / capacity:
            assert item in got, f"heavy hitter {item} evicted"
    # guarantee 2: estimates are lower bounds within N/capacity of truth
    for item, est in got.items():
        assert est <= exact[item]
        assert exact[item] - est <= n / capacity


def test_mg_partials_bounded_output(spark):
    rows = [(f"u{i}",) for i in range(5000)]
    df = spark.createDataFrame(rows, ["item"]).repartition(4)
    partials = freq.mg_partials(df, "item", capacity=64)
    per_part = (
        partials.withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .count()
        .collect()
    )
    assert all(r["count"] <= 64 for r in per_part)


def test_decontaminate_overlap_flags_shared_ngrams(spark):
    from gcp_etl_pipeline_spark.operators.curation import decontaminate_overlap

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a completely unrelated sentence about databases"),
            (3, "quick brown fox jumps high"),  # shares trigrams with bench
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over fences")], ["doc_id", "text"]
    )
    flagged = {r.doc_id: r.n_hits for r in
               decontaminate_overlap(docs, bench, n=3, min_overlap=2).collect()}
    assert 1 in flagged and 3 in flagged and 2 not in flagged
    # doc 1 shares 'the quick brown','quick brown fox','brown fox jumps'
    assert flagged[1] >= 3


def test_mixture_sample_rates_and_determinism(spark):
    from gcp_etl_pipeline_spark.operators.curation import mixture_sample

    df = spark.range(20_000).selectExpr(
        "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'zh' END AS lang"
    )
    rates = {"en": 1.0, "zh": 0.25}
    s1 = mixture_sample(df, "lang", rates, key_col="doc_id")
    counts = {r.lang: r.n for r in
              s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["en"] == 10_000  # rate 1.0 keeps everything
    assert abs(counts["zh"] - 2_500) < 300  # ~25% +- sampling noise
    # deterministic: a second evaluation yields the identical sample
    ids1 = {r.doc_id for r in s1.collect()}
    ids2 = {r.doc_id for r in
            mixture_sample(df, "lang", rates, key_col="doc_id").collect()}
    assert ids1 == ids2
    # unlisted stratum defaults to dropped
    df2 = spark.createDataFrame([(1, "xx")], ["doc_id", "lang"])
    assert mixture_sample(df2, "lang", rates, key_col="doc_id").count() == 0


def test_temperature_mixture_rates_and_flattening(spark):
    from gcp_etl_pipeline_spark.operators.curation import temperature_mixture

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "stratum"])
    sampled, rates = temperature_mixture(df, "stratum", "doc_id", tau=2.0)
    assert rates["small"] == 1.0          # rarest stratum keeps all
    assert abs(rates["big"] - 0.5) < 1e-12  # sqrt(100/400)
    got = {r.stratum: r.n for r in sampled.groupBy("stratum").count()
           .withColumnRenamed("count", "n").collect()}
    assert got["small"] == 100
    # hash sampling at rate 0.5: binomial around 200; loose band
    assert 130 <= got["big"] <= 270
    # tau=1 keeps everything
    all_kept, r1 = temperature_mixture(df, "stratum", "doc_id", tau=1.0)
    assert all(v == 1.0 for v in r1.values()) and all_kept.count() == 500


def test_token_budget_take_boundary_and_layout_invariance(spark):
    from gcp_etl_pipeline_spark.operators.curation import token_budget_take

    rows = [(i, "a" if i < 8 else "b", 10 + i) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, src STRING, toks BIGINT")
    out = token_budget_take(
        df, "src", {"a": 30, "b": 25}, token_col="toks", key_col="doc_id"
    )
    got = sorted((r.src, r.doc_id) for r in out.collect())
    # recompute expectation: md5-ordered prefix whose INCLUSIVE cumsum
    # fits; the first over-budget doc is dropped whole, not truncated
    import hashlib

    exp = []
    for src, budget in (("a", 30), ("b", 25)):
        pool = sorted(
            (r for r in rows if r[1] == src),
            key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]),
        )
        cum = 0
        for r in pool:
            cum += r[2]
            if cum > budget:
                break
            exp.append((src, r[0]))
    assert got == sorted(exp) and got  # non-empty
    # budgets smaller than any doc keep nothing; layout doesn't matter
    assert token_budget_take(
        df, "src", {}, token_col="toks", key_col="doc_id", default_budget=5
    ).count() == 0
    got7 = sorted(
        (r.src, r.doc_id)
        for r in token_budget_take(
            df.repartition(7), "src", {"a": 30, "b": 25},
            token_col="toks", key_col="doc_id",
        ).collect()
    )
    assert got7 == got


def test_token_budget_take_null_stratum(spark):
    """A NULL stratum is a legal group: its rows get the default budget
    and its cutoff applies (the null-safe join — a plain equality join
    would let null-stratum survivors skip the cutoff and over-keep)."""
    from gcp_etl_pipeline_spark.operators.curation import token_budget_take

    rows = [(i, None if i < 6 else "a", 10) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, src STRING, toks BIGINT")
    out = token_budget_take(
        df.repartition(4), "src", {"a": 100}, token_col="toks",
        key_col="doc_id", default_budget=25,
    )
    got = sorted(
        ((r.src or "", r.doc_id) for r in out.collect())
    )
    got = [(None if s == "" else s, d) for s, d in got]
    # null stratum: 6 docs x 10 toks, budget 25 -> exactly 2 kept
    assert sum(1 for s, _ in got if s is None) == 2, got
    assert sum(1 for s, _ in got if s == "a") == 4, got


def test_dataset_split_deterministic_joinable_and_proportional(spark):
    """Split is a pure function of (salt, key): re-partitioning does not
    move a key between splits (joinable across tables), proportions land
    near the requested bands, and changing the salt redraws."""
    from gcp_etl_pipeline_spark.operators.curation import dataset_split

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    a = dataset_split(df, "k", val_pct=10.0, test_pct=10.0)
    b = dataset_split(df.repartition(7, "k"), "k", val_pct=10.0, test_pct=10.0)
    assert (
        a.withColumnRenamed("split", "sa")
        .join(b.withColumnRenamed("split", "sb"), "k")
        .where("sa <> sb")
        .count()
        == 0
    )
    counts = {r["split"]: r["n"] for r in
              a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert 350 < counts["test"] < 650 and 350 < counts["val"] < 650


def test_dataset_split_validates_and_handles_full_bands(spark):
    """Percentages outside [0, 100] raise instead of silently
    mis-banding (a 5-hex threshold would compare lexicographically);
    a legitimate 100% band assigns every row."""
    import pytest as _pytest

    from gcp_etl_pipeline_spark.operators.curation import dataset_split

    df = spark.range(0, 200).withColumnRenamed("id", "k")
    with _pytest.raises(ValueError, match="invalid split percentages"):
        dataset_split(df, "k", val_pct=60.0, test_pct=60.0)
    with _pytest.raises(ValueError, match="invalid split percentages"):
        dataset_split(df, "k", val_pct=-1.0)
    all_val = dataset_split(df, "k", val_pct=100.0, test_pct=0.0)
    assert {r.split for r in all_val.select("split").distinct().collect()} == {"val"}
    all_test = dataset_split(df, "k", val_pct=0.0, test_pct=100.0)
    assert {r.split for r in all_test.select("split").distinct().collect()} == {"test"}


def test_dataset_split_rejects_null_keys(spark):
    """A NULL key must abort the job loudly: concat_ws would silently
    send every NULL-keyed row to one engine-dependent split (md5(salt)),
    while engines with NULL-propagating concat send them to 'train' —
    a silent, leak-prone divergence."""
    import pytest

    from gcp_etl_pipeline_spark.operators.curation import dataset_split

    df = spark.createDataFrame([(1,), (None,), (3,)], "k INT")
    with pytest.raises(Exception, match="NULL k"):
        dataset_split(df, "k").collect()
    # and the non-null rows of the same frame split fine after filtering
    ok = dataset_split(df.where("k IS NOT NULL"), "k")
    assert ok.count() == 2


def test_gopher_gates_rule_boundaries(spark):
    """Each gate fires on its own boundary: too-short, too-repetitive,
    top-heavy, and a clean doc; integer cross-multiplication means the
    30%/20% thresholds are exact (no float epsilon)."""
    from gcp_etl_pipeline_spark.operators.curation import gopher_gates

    docs = spark.createDataFrame(
        [
            (1, "one two three"),                      # 3 tokens: g_len fails
            (2, " ".join(["spam"] * 6 + ["a b c d e f g h".replace(" ", " ")])
             ),                                        # heavy repetition
            (3, " ".join(f"w{i}" for i in range(10))),  # clean
            (4, " ".join(["x"] * 3 + [f"y{i}" for i in range(7)])),  # top 30%
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in gopher_gates(docs).collect()}
    assert not got[1].g_len and got[3].keep
    assert not got[2].keep  # dup_frac and top_frac both blown
    # doc 4: 10 tokens, top 'x' ×3 => 30% > 20% cap -> g_top False;
    # dup = 10-8 = 2 => 20% <= 30% -> g_dup True
    assert got[4].g_dup and not got[4].g_top and not got[4].keep


def test_token_rarity_exact_floor_division(spark):
    from gcp_etl_pipeline_spark.operators.curation import token_rarity

    docs = spark.createDataFrame(
        [(1, "common rare1"), (2, "common rare2"), (3, "common common")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in token_rarity(docs).collect()}
    # 'common' df=3; rare tokens df=1
    assert got[1].min_df == 1 and got[1].n_distinct_tokens == 2
    assert got[1].mean_df_u == (4 * 1_000_000) // 2  # (3+1)/2 exact
    assert got[3].n_distinct_tokens == 1 and got[3].mean_df_u == 3_000_000


def test_ks_drift_exact_and_empty_snapshot(spark):
    from gcp_etl_pipeline_spark.operators.quality import ks_drift

    a = spark.createDataFrame([(float(v),) for v in [1, 2, 3, 4]], ["x"])
    b = spark.createDataFrame([(float(v),) for v in [3, 4, 5, 6]], ["x"])
    row = ks_drift(a, b, "x").collect()[0]
    # D = |F_a(2) - F_b(2)| = |2/4 - 0| = 0.5
    assert (row.n_a, row.n_b, row.ks_u) == (4, 4, 500_000)
    # identical snapshots: zero drift
    same = ks_drift(a, a, "x").collect()[0]
    assert same.ks_u == 0
    # empty snapshot screams (ks_u = scale), never NULLs
    empty = spark.createDataFrame([], "x DOUBLE")
    loud = ks_drift(a, empty, "x").collect()[0]
    assert loud.ks_u == 1_000_000 and loud.n_b == 0


def test_quantize_int8_zero_vector_and_exact_roundtrip(spark):
    from gcp_etl_pipeline_spark.operators.similarity import quantize_int8_error

    df = spark.createDataFrame(
        [
            (1, [0.0, 0.0]),            # zero vector: no division, zero error
            (2, [1.0, -1.0]),           # max-abs components: exact codes
            (3, [0.5, 1.0]),
        ],
        ["vec_id", "embedding"],
    )
    got = {r.vec_id: r for r in quantize_int8_error(df).collect()}
    assert got[1].max_abs_u == 0 and got[1].max_err_u == 0
    assert got[2].max_err_u == 0  # ±m quantizes to ±127 exactly
    # 0.5 -> q=500000, m=1000000: code = trunc(500000*127/1e6) = 63,
    # recon = trunc(63*1e6/127) = 496062 -> err 3938
    assert got[3].max_err_u == 500_000 - (63 * 1_000_000) // 127


def test_gopher_gates_zero_token_doc_gets_explicit_reject(spark):
    from gcp_etl_pipeline_spark.operators.curation import gopher_gates

    df = spark.createDataFrame(
        [(1, "enough normal words sit right here to pass the length gate"),
         (2, ""), (3, "...")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in gopher_gates(df, min_tokens=3).collect()}
    assert set(out) == {1, 2, 3}  # empty docs present, not silently absent
    assert out[1].keep is True
    for d in (2, 3):
        assert out[d].n_tokens == 0 and out[d].keep is False
        assert out[d].g_len is False


def test_robots_filter_precedence(spark):
    """RFC 9309: longest match wins; Allow wins an equal-length tie;
    no-rule origin defaults to allowed; scope is PER ORIGIN (www.ex.org
    does NOT inherit ex.org rules) unless scope='registrable'; the
    empty homepage path matches as '/'; duplicate frontier URLs each
    keep a verdict row."""
    from gcp_etl_pipeline_spark.operators.curation import robots_filter

    rules = spark.createDataFrame(
        [
            ("ex.org", "/a", False),
            ("ex.org", "/a/b", True),
            ("ex.org", "/t", False),
            ("ex.org", "/t", True),
            ("root.net", "/", False),
        ],
        "host STRING, path_prefix STRING, allow BOOLEAN",
    )
    urls = spark.createDataFrame(
        [
            (1, "https://ex.org/a/x"),        # /a only -> disallowed
            (2, "https://ex.org/a/b/c"),      # /a/b beats /a -> allowed
            (3, "https://ex.org/t/page"),     # tie -> Allow wins
            (4, "https://ex.org/free"),       # no match -> allowed
            (5, "https://www.ex.org/a/x"),    # DIFFERENT origin -> allowed
            (6, "https://root.net"),          # empty path == '/' -> blocked
            (7, "https://ex.org/a/x"),        # duplicate of 1
        ],
        "k BIGINT, url STRING",
    )
    out = {r["k"]: r for r in robots_filter(urls, rules).collect()}
    assert len(out) == 7  # duplicates preserved, one verdict per row
    assert not out[1]["allowed"] and out[1]["matched_prefix"] == "/a"
    assert out[2]["allowed"] and out[2]["matched_prefix"] == "/a/b"
    assert out[3]["allowed"] and out[3]["matched_prefix"] == "/t"
    assert out[4]["allowed"] and out[4]["matched_prefix"] == ""
    assert out[5]["allowed"] and out[5]["matched_prefix"] == ""
    assert not out[6]["allowed"] and out[6]["matched_prefix"] == "/"
    assert not out[7]["allowed"]


def test_strip_tracking_params(spark):
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators.text import strip_tracking_params

    rows = [
        (1, "https://e.org/p"),                          # no query
        (2, "https://e.org/p?utm_source=a&utm_b=c"),     # all tracking
        (3, "https://e.org/p?id=7&utm_medium=m&b=2"),    # order preserved
        (4, "https://e.org/p?ref=tw"),                   # bare ? dropped
        (5, "https://e.org/p?prefix=1&refx=2"),          # refx is NOT ref
    ]
    df = spark.createDataFrame(rows, "k BIGINT, u STRING")
    out = {
        r["k"]: r["c"]
        for r in df.select(
            "k", strip_tracking_params("u").alias("c")
        ).collect()
    }
    assert out[1] == "https://e.org/p"
    assert out[2] == "https://e.org/p"
    assert out[3] == "https://e.org/p?id=7&b=2"
    assert out[4] == "https://e.org/p"
    assert out[5] == "https://e.org/p?prefix=1&refx=2"


def test_robots_filter_assume_distinct_single_scan(spark):
    from gcp_etl_pipeline_spark.operators.curation import robots_filter

    rules = spark.createDataFrame(
        [("ex.org", "/a", False)],
        "host STRING, path_prefix STRING, allow BOOLEAN",
    )
    urls = spark.createDataFrame(
        [(1, "https://ex.org/a/x"), (2, "https://ex.org/b")],
        "k BIGINT, url STRING",
    )
    fast = robots_filter(urls, rules, assume_distinct=True)
    slow = robots_filter(urls, rules)
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    )
    # the fast path must not materialize a second lineage of the input
    plan = fast._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 2  # urls + rules, each ONCE


def test_recrawl_schedule_tiers_and_singleton_base(spark):
    from datetime import datetime

    def t(day, hour=0):
        return datetime(2024, 1, day, hour)

    rows = [
        # url 1: changes every fetch -> live, cadence = observed mean
        (1, t(1), 10, "a"), (1, t(2), 11, "b"), (1, t(3), 12, "c"),
        # url 2: never changes -> static, 64x backoff
        (2, t(1), 20, "x"), (2, t(2), 21, "x"), (2, t(3), 22, "x"),
        # url 3: 1 change / 4 intervals = 250000u -> active, 4x
        (3, t(1), 30, "x"), (3, t(2), 31, "x"), (3, t(3), 32, "y"),
        (3, t(4), 33, "y"), (3, t(5), 34, "y"),
        # url 4: singleton -> static tier, 1-day base * 64
        (4, t(9), 40, "z"),
        # url 5: same-ts pair ordered by fetch_id (deterministic lag)
        (5, t(1), 51, "p"), (5, t(1), 50, "q"), (5, t(2), 52, "p"),
    ]
    df = spark.createDataFrame(
        rows, "url_id BIGINT, ts TIMESTAMP, fetch_id BIGINT, content_fp STRING"
    )
    out = {
        r["url_id"]: r
        for r in curation.recrawl_schedule(df).collect()
    }
    day_us = 86_400_000_000
    assert out[1]["recrawl_tier"] == "live"
    assert out[1]["recrawl_interval_us"] == day_us  # mean interval x1
    assert out[2]["recrawl_tier"] == "static"
    assert out[2]["recrawl_interval_us"] == day_us * 64
    assert out[3]["recrawl_tier"] == "active"
    assert out[3]["change_ratio_u"] == 250000
    assert out[3]["recrawl_interval_us"] == day_us * 4
    assert out[4]["n_fetches"] == 1 and out[4]["span_us"] == 0
    assert out[4]["recrawl_interval_us"] == day_us * 64
    # fetch 50(q) precedes 51(p) at the tied ts: q->p->p = 1 change
    assert out[5]["n_changes"] == 1


def test_host_reputation_thresholds(spark):
    from gcp_etl_pipeline_spark.operators.curation import host_reputation

    rows = (
        [("a", True, 2)] * 3 + [("a", False, 100)] * 1   # 75% -> block
        + [("b", True, 2)] * 1 + [("b", False, 100)] * 3  # 25% -> review
        + [("c", False, 100)] * 4                         # 0% -> allow
        + [("d", True, 1)] * 2 + [("d", False, 9)] * 8    # exactly 20% -> allow
    )
    df = spark.createDataFrame(rows, "host STRING, is_short BOOLEAN, n_tokens BIGINT")
    out = {r["host"]: r for r in host_reputation(df).collect()}
    assert out["a"]["verdict"] == "block"
    assert out["b"]["verdict"] == "review"
    assert out["c"]["verdict"] == "allow"
    assert out["d"]["verdict"] == "allow"  # > 200000u, not >=
    assert out["b"]["short_frac_u"] == 250000
    assert out["d"]["mean_tokens_u"] == int((2 * 1 + 8 * 9) / 10 * 1e6)


def test_parse_robots_txt_grouping_rules(spark):
    from gcp_etl_pipeline_spark.operators.curation import parse_robots_txt

    txt = (
        "Disallow: /orphan\n"            # before any group: invalid
        "User-agent: googlebot\n"
        "Disallow: /gb\n"
        "\n"
        "User-agent: a\n"                # consecutive UA lines =
        "USER-AGENT: *\n"                # one group (case-folded)
        "Allow: /pub  # inline comment\n"
        "# full comment line\n"
        "Disallow:\n"                    # empty pattern: no effect
        "Disallow: /x\n"
        "\n"
        "User-agent: *\n"                # a second matching group
        "Disallow: /x\n"                 # duplicate rule dedupes
        "Disallow: /z\n"
    )
    df = spark.createDataFrame([("h.test", txt)], "host STRING, robots_txt STRING")
    rules = {
        (r["path_prefix"], r["allow"])
        for r in parse_robots_txt(df).collect()
    }
    assert rules == {("/pub", True), ("/x", False), ("/z", False)}
