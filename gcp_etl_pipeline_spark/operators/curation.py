"""Corpus-curation operators: PII redaction, TF-IDF term weighting,
bigram collocation mining.

All JVM-side column expressions (regexp_*, explode, window) — no Python
UDFs anywhere, so each transform stays inside whole-stage codegen and
costs one pass over the text column regardless of corpus size.

Scale notes (100 TB corpus):
- Redaction is a narrow map — no shuffle, fuses with the scan.
- TF-IDF needs two aggregations (per-doc term counts, corpus document
  frequency). The DF side is a small table (|vocabulary| rows) that
  broadcasts back onto the per-doc counts, so the only wide exchange is
  the (doc_id, term) partial-count shuffle, which AQE coalesces.
- Collocations aggregate on the bigram itself; partial (map-side)
  aggregation collapses each partition to its local vocabulary before the
  shuffle, so exchange volume is bounded by vocabulary, not corpus size.

The reference has no text pipeline (its documents never leave BigQuery);
this module is part of the LLM-training-data extension surface alongside
operators/dedup.py and operators/text.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators.text import tokens
from gcp_etl_pipeline_spark.sinks.writers import local_frame

# Patterns are kept to the syntax subset where Java regex (Spark) and RE2
# (DuckDB oracle) agree character-for-character.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_RE = "https?://[^ ]+"
PHONE_RE = "[0-9]{3}-[0-9]{3,4}"

REDACTIONS = [
    ("email", EMAIL_RE, "<EMAIL>"),
    ("url", URL_RE, "<URL>"),
    ("phone", PHONE_RE, "<PHONE>"),
]


def redact_pii(text: Column | str) -> Column:
    """Replace email → url → phone matches with typed placeholder tokens.

    Order matters: emails and URLs are redacted before the bare phone
    pattern so a digit run inside an already-redacted span can't be
    double-matched. Pure regexp_replace chain — narrow, no shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    for _, pat, repl in REDACTIONS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(text: Column | str) -> list[Column]:
    """One count column per PII class (before redaction)."""
    c = F.col(text) if isinstance(text, str) else text
    return [
        F.regexp_count(c, F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in REDACTIONS
    ]


def tfidf(docs: DataFrame) -> DataFrame:
    """Per-(doc, term) TF-IDF, µ-unit quantized for determinism.

    tf = term_count / doc_tokens; idf = ln(N / df). The two counts are
    exact integers under any partitioning; the float product is quantized
    to `score_u = round(tf * idf * 1e6)` so results hash-match the
    DuckDB oracle (one ln + one multiply + one round per output row).

    Plan shape: one (doc_id, term) count shuffle; the document-frequency
    aggregate produces a vocabulary-sized table that Spark broadcasts
    back onto the counts (plan-asserted in tests/test_curation.py).
    """
    toks = docs.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("term")
    )
    term_counts = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    doc_lens = term_counts.groupBy("doc_id").agg(F.sum("cnt").alias("n_toks"))
    df_counts = term_counts.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = docs.select(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        term_counts.join(doc_lens, "doc_id")
        .join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("cnt") / F.col("n_toks"))
                * F.log(F.col("n_docs") / F.col("df"))
                * 1_000_000
            )
            .cast("bigint")
            .alias("score_u"),
        )
    )


def top_terms(scored: DataFrame, k: int) -> DataFrame:
    """Top-k terms per document by (score desc, term asc) — the
    deterministic tie-break makes the result differential-testable."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy(F.desc("score_u"), F.asc("term"))
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def bigram_collocations(docs: DataFrame, min_count: int = 20) -> DataFrame:
    """Corpus-level bigram mining with a PMI association score.

    pmi = ln(n_bigram * total_bigrams / (n_first_any * n_any_second))
    where the unigram counts are positional (times the word appears as a
    bigram head / tail), all exact integers; the single ln is µ-unit
    quantized. Aggregations are on the bigram/unigram key itself, so
    map-side partial aggregation bounds the shuffle by vocabulary size.
    """
    toks = docs.select(tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    bigrams = toks.select(
        F.explode(
            F.transform(
                F.slice("toks", 1, F.size("toks") - 1),
                lambda t, i: F.struct(
                    t.alias("w1"), F.element_at("toks", i + 2).alias("w2")
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    pair = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    heads = pair.groupBy("w1").agg(F.sum("n").alias("n_head"))
    tails = pair.groupBy("w2").agg(F.sum("n").alias("n_tail"))
    total = pair.select(F.sum("n").alias("n_total"))
    return (
        pair.filter(F.col("n") >= min_count)
        .join(F.broadcast(heads), "w1")
        .join(F.broadcast(tails), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "n",
            F.round(
                F.log(
                    F.col("n")
                    * F.col("n_total")
                    / (F.col("n_head") * F.col("n_tail"))
                )
                * 1_000_000
            )
            .cast("bigint")
            .alias("pmi_u"),
        )
    )


def decontaminate_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Training-set decontamination: flag docs sharing at least
    ``min_overlap`` distinct word n-gram shingles with ANY benchmark
    document (the standard eval-leakage guard run before training).

    Scale shape: the benchmark shingle set is eval-suite-sized (thousands
    of docs — tiny next to a 100 TB corpus), so the join broadcasts it;
    the corpus side streams through one shingle explode with no
    self-join, no shuffle of corpus text. Returns (id, n_hits) for
    flagged docs.
    """
    from gcp_etl_pipeline_spark.operators.dedup import shingle_sets

    d_sh = shingle_sets(docs, n=n)
    b_sh = (
        shingle_sets(benchmark, n=n)
        .select("shingle")
        .distinct()
    )
    return (
        d_sh.join(b_sh, "shingle")  # bench side tiny: AQE broadcasts
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))  # shingles distinct per doc
        .where(F.col("n_hits") >= min_overlap)
    )


def mixture_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    key_col: str,
) -> DataFrame:
    """Deterministic corpus-mixture downsampling: keep each stratum at its
    target ``rates[stratum]`` fraction (the data-mixture step of a
    training pipeline — e.g. cap low-quality web text at 10%, keep code
    at 100%).

    Membership is a pure function of the row key (first 4 md5 hex digits
    of ``key_col`` < rate * 16^4), so the sample is reproducible across
    runs/engines, stable under re-partitioning, and join-consistent
    across tables sharing the key. Zero shuffle — a scan-level filter.

    Thresholds are compared as 4-char lowercase-hex strings; rate >= 1.0
    maps to the sentinel "g" (lexicographically above every hex string),
    so a full-keep stratum really keeps all rows.
    """
    expr = F.lit(_hex_threshold(0.0))
    for stratum, rate in sorted(rates.items()):
        expr = (
            F.when(F.col(stratum_col) == stratum, F.lit(_hex_threshold(rate)))
            .otherwise(expr)
        )
    # NULL keys hash as the empty string (one shared bucket) instead of
    # propagating NULL through the comparison and silently dropping the
    # row — a full-keep stratum really keeps its null-key rows too
    key_str = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    bucket = F.substring(F.md5(key_str), 1, 4)
    return df.where(bucket < expr)


def _hex_threshold(rate: float) -> str:
    """4-hex-digit keep threshold; 'g' = keep-everything sentinel."""
    thr = int(rate * 65536)
    if thr >= 65536:
        return "g"
    return f"{max(thr, 0):04x}"


def stratified_take(
    df: DataFrame,
    stratum_col: str,
    quotas: dict[str, int],
    key_col: str,
    default_quota: int = 0,
) -> DataFrame:
    """Exact per-stratum quotas (the fixed-budget companion to the
    rate-based ``mixture_sample``): keep AT MOST ``quotas[stratum]`` rows
    per stratum, selected deterministically by md5(key) order (tie-broken
    by the key itself) — reproducible across runs, engines, and physical
    layouts, like every sampling primitive in this module.

    PRECONDITION: ``key_col`` must be unique within each stratum (same
    contract as surrogate_keys' order_by). Duplicate or null-heavy keys
    make the ordering tie-ambiguous, and WHICH physical row of a tie
    group survives then depends on layout — the selected (stratum, key)
    multiset stays deterministic, the carried non-key columns may not.

    Physical shape: two-level exact top-q. A LOCAL ranking window keyed on
    (stratum, input partition) keeps at most the quota per partition —
    fully parallel, and correct because the global md5-order top-q of a
    stratum is always contained in the union of per-partition top-q's.
    The GLOBAL window then ranks only the ≤ quota × n_partitions
    survivors per stratum instead of the whole stratum (a 20M-row/7-
    stratum smoke dropped 19.6s → 7.8s). The local pruning depends on
    physical layout; the final selection does not — it picks the same
    global top-q from any superset. For a quota that is itself huge over
    a massive stratum, pre-thin with ``mixture_sample`` at ~2× the target
    rate first.
    """
    from pyspark.sql import Window

    quota = F.lit(int(default_quota))
    for s, n in sorted(quotas.items()):
        quota = F.when(F.col(stratum_col) == s, F.lit(int(n))).otherwise(quota)
    key_str = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    order = [F.md5(key_str), F.col(key_col)]
    w_local = Window.partitionBy(
        stratum_col, F.spark_partition_id()
    ).orderBy(*order)
    w = Window.partitionBy(stratum_col).orderBy(*order)
    return (
        df.withColumn("__lrn", F.row_number().over(w_local))
        .where(F.col("__lrn") <= quota)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= quota)
        .drop("__lrn", "__rn")
    )


def token_budget_take(
    df: DataFrame,
    stratum_col: str,
    budgets: dict[str, int],
    token_col: str,
    key_col: str,
    default_budget: int = 0,
) -> DataFrame:
    """Per-stratum TOKEN budgets — the unit pretraining mixes are actually
    specified in (a source contributes N tokens to the run, not N rows):
    keep the deterministic md5(key)-ordered prefix of each stratum whose
    cumulative ``token_col`` stays within ``budgets[stratum]`` (a row is
    kept iff the cumulative sum INCLUDING it fits the budget, so an
    over-long document at the boundary is dropped, not truncated).

    Same determinism contract as ``stratified_take``: selection is a pure
    function of (stratum, key, token counts) — reproducible across runs,
    engines, physical layouts; ``key_col`` unique per stratum.

    Physical shape, two-level like ``stratified_take`` but cumsum-aware:

      1. LOCAL running sum per (stratum, input partition); rows whose
         local cumsum exceeds the budget are pruned. A pruned row's
         GLOBAL cumsum is at least its local one (its local predecessors
         are a subset of its global ones), so every pruned row is
         correctly out — but its TOKENS would still count against later
         rows in other partitions, so pruning alone over-keeps.
      2. CUTOFF: since the global cumsum is monotone along the md5
         order, every row AFTER the first globally-pruned row is also
         over budget. The stratum-level minimum pruned sort key bounds
         that point from below, so survivors at or beyond ANY pruned
         key are dropped (tiny aggregate, broadcast back). Below the
         cutoff no row was pruned anywhere, so the survivor set there
         is complete and its running sum is the true one.
      3. GLOBAL running sum over the remaining ≤ budget-sized prefix
         per partition — never the whole stratum.
    """
    from pyspark.sql import Window

    budget = F.lit(int(default_budget)).cast("long")
    for s, n in sorted(budgets.items()):
        budget = (
            F.when(F.col(stratum_col) == s, F.lit(int(n)).cast("long"))
            .otherwise(budget)
        )
    key_str = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    skey = F.concat(
        F.md5(key_str), F.lit("|"), F.coalesce(key_str, F.lit(""))
    )
    tok = F.col(token_col).cast("long")
    w_local = (
        Window.partitionBy(stratum_col, F.spark_partition_id())
        .orderBy(skey)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Two plan legs (kept filter + cutoff aggregate) consume `flagged`,
    # whose local window partitions on NONDETERMINISTIC
    # spark_partition_id(): if the exchange were recomputed per leg
    # (exchange reuse off, AQE canonicalization miss, nondeterministic
    # upstream), the legs could see DIFFERENT local-pruning decisions and
    # break the complete-prefix invariant. A lazy localCheckpoint pins
    # one materialization that both legs read — computed once at first
    # action, no eager job at operator-construction time.
    flagged = (
        df.withColumn("__skey", skey)
        .withColumn("__lcum", F.sum(tok).over(w_local))
        .localCheckpoint(eager=False)
    )
    kept = flagged.where(F.col("__lcum") <= budget)
    cutoff = (
        flagged.where(F.col("__lcum") > budget)
        .groupBy(stratum_col)
        .agg(F.min("__skey").alias("__cutoff"))
    )
    w = (
        Window.partitionBy(stratum_col)
        .orderBy("__skey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL-SAFE cutoff join: a null stratum is a legal group (its cutoff
    # row carries a null key), and a plain equality join would never
    # match it — its survivors would skip the cutoff filter and over-keep.
    # The cutoff side's stratum is renamed first: both sides share one
    # lineage, and same-name column refs resolve trivially-true.
    cutoff = cutoff.withColumnRenamed(stratum_col, "__cutoff_stratum")
    return (
        kept.join(
            F.broadcast(cutoff),
            F.col(stratum_col).eqNullSafe(F.col("__cutoff_stratum")),
            "left",
        )
        .where(F.col("__cutoff").isNull() | (F.col("__skey") < F.col("__cutoff")))
        .withColumn("__cum", F.sum(tok).over(w))
        .where(F.col("__cum") <= budget)
        .drop("__skey", "__lcum", "__cutoff", "__cutoff_stratum", "__cum")
    )


def temperature_mixture(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    tau: float = 2.0,
) -> tuple[DataFrame, dict]:
    """Temperature-flattened corpus mixture (the multilingual τ-sampling
    recipe, e.g. mBERT/XLM-R): per-stratum keep-rates
    ``r_s ∝ (n_s/N)^(1/τ − 1)`` normalized so the RAREST stratum keeps
    everything — τ>1 flattens the distribution by downsampling dominant
    strata; τ=1 keeps everything. Rates feed the deterministic
    ``mixture_sample`` hash filter, so the draw is reproducible across
    engines and layouts.

    One tiny aggregate (a row per stratum) collects to the driver to
    compute rates; the filter itself is shuffle-free.

    Cross-engine exactness: for τ=2 the rate is computed as
    ``sqrt(n_min)/sqrt(n_s)`` — two correctly-rounded IEEE ops a SQL twin
    reproduces bit-identically. Other τ use ``pow``, whose last-ulp
    rounding may differ across libm implementations; differential-grade
    only the τ=2 path. Returns (sampled_df, {stratum: rate}).
    """
    import math

    counts = {
        r[0]: r[1]
        for r in df.groupBy(stratum_col).agg(F.count(F.lit(1))).collect()
    }
    if not counts:
        return df, {}
    if abs(tau - 2.0) < 1e-12:
        n_min = min(counts.values())
        rates = {
            s: math.sqrt(float(n_min)) / math.sqrt(float(n))
            for s, n in counts.items()
        }
    else:
        expo = 1.0 / tau - 1.0
        w = {s: float(n) ** expo for s, n in counts.items()}
        mx = max(w.values())
        rates = {s: v / mx for s, v in w.items()}
    return mixture_sample(df, stratum_col, rates, key_col), rates


def dataset_split(
    df: DataFrame,
    key_col: str,
    val_pct: float = 2.0,
    test_pct: float = 2.0,
) -> DataFrame:
    """Deterministic train/val/test assignment — the split every training
    pipeline needs to be REPRODUCIBLE and LEAK-FREE: the split is a pure
    function of the key (md5 of ``'split|' || key``), so it is stable
    across runs, engines, and physical layouts, and JOINABLE — the same
    key lands in the same split in every table that carries it
    (sample-consistent features/labels). Spark's randomSplit is none of
    these (per-partition RNG: re-shuffling the input reassigns rows).

    Mechanism: the first 4 hex chars of md5(salt|key) give a uniform
    bucket in [0, 2^16); 'test' takes buckets below floor(test_pct·2^16/
    100), 'val' the next floor-band, 'train' the rest (hex STRING
    comparison — identical lexicographic result in any engine, no
    integer conversion needed). Changing ``salt`` redraws the whole
    assignment; percentages are honored to 1/65536 granularity.

    Scale: one fused projection — no shuffle, no RNG state, fully
    partition-parallel."""
    if test_pct < 0 or val_pct < 0 or test_pct + val_pct > 100:
        raise ValueError(
            f"invalid split percentages: test={test_pct} val={val_pct} "
            "(each must be >= 0 and their sum <= 100)"
        )
    # FAIL FAST on NULL keys instead of assigning them: concat_ws would
    # silently hash every NULL to md5(salt) — all NULL-keyed rows in ONE
    # engine-dependent split (SQL engines where 'salt|' || NULL is NULL
    # would send them to 'train' instead): a silent, leak-prone
    # divergence. raise_error evaluates lazily per row, so non-null
    # corpora pay nothing; a NULL key aborts the job loudly.
    key_checked = F.coalesce(
        F.col(key_col).cast("string"),
        F.raise_error(
            F.lit(
                f"dataset_split: NULL {key_col} — split assignment must be "
                "a pure function of the key; filter or fill NULL keys first"
            )
        ).cast("string"),
    )
    h = F.substring(
        F.md5(F.concat_ws("|", F.lit("split"), key_checked)),
        1,
        4,
    )

    def thr(pct: float) -> str:
        n = int(pct * 65536 / 100)
        # a 100% band needs a threshold ABOVE every 4-hex string; a
        # 5-char '10000' would compare lexicographically, not numerically
        return "g" if n >= 65536 else format(n, "04x")

    t_test = thr(test_pct)
    t_val = thr(test_pct + val_pct)
    return df.withColumn(
        "split",
        F.when(h < F.lit(t_test), F.lit("test"))
        .when(h < F.lit(t_val), F.lit("val"))
        .otherwise(F.lit("train")),
    )


def dataset_split_case_sql(
    id_expr: str,
    val_pct: float = 2.0,
    test_pct: float = 2.0,
) -> str:
    """The DuckDB CASE expression that is the bit-exact twin of
    ``dataset_split`` — the ONE definition oracles interpolate, so a
    change to the split convention (salt, band order, hex granularity)
    lands in every oracle at once instead of drifting copy by copy."""

    def thr(pct: float) -> str:
        n = int(pct * 65536 / 100)
        return "g" if n >= 65536 else format(n, "04x")

    h = f"substring(md5('split|' || CAST({id_expr} AS VARCHAR)), 1, 4)"
    return (
        f"CASE WHEN {h} < '{thr(test_pct)}' THEN 'test'"
        f" WHEN {h} < '{thr(test_pct + val_pct)}' THEN 'val'"
        f" ELSE 'train' END"
    )


def gopher_gates(
    df: DataFrame,
    min_tokens: int = 8,
    max_tokens: int = 2000,
    max_dup_pct: int = 30,
    max_top_pct: int = 20,
) -> DataFrame:
    """Composed Gopher-style repetition/length GATES (Rae et al. 2021
    §A1.1 — the rule family, with engine-configured thresholds): where
    ``text_repetition_stats`` reports the signals, this operator makes
    the keep/drop DECISION a curation pipeline acts on — one boolean per
    rule plus the conjunction, so downstream can both filter on ``keep``
    and audit which rule fired per document.

    Rules (all integer cross-multiplications — no ratio is ever
    materialized as a float, so the verdicts are bit-identical in any
    engine and under any partitioning):
      g_len:  min_tokens <= n_tokens <= max_tokens
      g_dup:  duplicate-token fraction <= max_dup_pct/100
              ((n_tokens - n_distinct) * 100 <= max_dup_pct * n_tokens)
      g_top:  most-frequent-token share <= max_top_pct/100
              (top_count * 100 <= max_top_pct * n_tokens)

    Scale shape: one (doc, token) explode + two keyed aggregates — the
    TF-IDF shuffle shape; the gate columns are a free projection.

    Zero-token documents (empty/NULL/all-punctuation text) get an
    explicit row with counts 0 and ``keep = false`` (g_len fails for any
    min_tokens ≥ 1): a DECISION layer that silently omits the emptiest
    documents would let exactly the junk it exists to drop sail through
    an anti-join-on-rejects pipeline."""
    from gcp_etl_pipeline_spark.operators.text import tokens

    tok = df.select(F.col("doc_id"), F.explode(tokens("text")).alias("t"))
    per = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("top_count"),
    )
    zero = F.lit(0).cast("bigint")
    agg = (
        df.select("doc_id").distinct()
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", zero).alias("n_tokens"),
            F.coalesce("n_distinct", zero).alias("n_distinct"),
            F.coalesce("top_count", zero).alias("top_count"),
        )
    )
    g_len = (F.col("n_tokens") >= min_tokens) & (
        F.col("n_tokens") <= max_tokens
    )
    g_dup = (F.col("n_tokens") - F.col("n_distinct")) * 100 <= (
        F.lit(max_dup_pct) * F.col("n_tokens")
    )
    g_top = F.col("top_count") * 100 <= F.lit(max_top_pct) * F.col("n_tokens")
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_count",
        g_len.alias("g_len"),
        g_dup.alias("g_dup"),
        g_top.alias("g_top"),
        (g_len & g_dup & g_top).alias("keep"),
    )


def token_rarity(df: DataFrame) -> DataFrame:
    """Per-document token-rarity score — the log-free quality proxy for
    "is this document made of normal words or junk": over a document's
    DISTINCT tokens, the corpus document-frequency of its rarest token
    and the floor-div µ-unit mean document-frequency. Boilerplate scores
    high (every token everywhere), OCR noise/garbage scores low (tokens
    appear nowhere else). Unlike a unigram-LM logprob it needs no ln()
    per token, so the score is exact integer arithmetic end-to-end and
    differentially testable bit-for-bit.

    Scale shape: one (doc, distinct-token) explode, one token-keyed
    aggregate for corpus document frequency (map-side partial), one
    token-keyed join back, one per-doc aggregate — the crossdoc shape;
    documents never pair-compare."""
    from gcp_etl_pipeline_spark.operators.text import tokens

    tok = df.select(
        F.col("doc_id"), F.explode(F.array_distinct(tokens("text"))).alias("t")
    )
    dfreq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("__df"))
    return (
        tok.join(dfreq, "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_tokens"),
            F.min("__df").cast("bigint").alias("min_df"),
            F.sum("__df").cast("bigint").alias("__sum_df"),
        )
        .select(
            "doc_id",
            "n_distinct_tokens",
            "min_df",
            F.expr("__sum_df * 1000000 DIV n_distinct_tokens")
            .alias("mean_df_u"),
        )
    )


def weighted_priority_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    weight_col: str,
    k: int = 25,
) -> DataFrame:
    """Deterministic weighted sampling — priority sampling (Duffield,
    Lund & Thorup 2007): each row gets priority ``q = w / u`` with
    ``u = h/2^48`` a uniform hash of the key; per stratum the k LARGEST
    priorities win. Keeping the k largest ``w/h`` is keeping the k
    smallest ``h/w``, and with integer weights that all divide
    840 = lcm(1..8) the ranking key is the EXACT integer
    ``h * (840 / w)`` — no float ratio ever materialized, so a SQL
    twin reproduces the draw bit-for-bit (the dataset_split reproducibility
    contract extended to weighted draws). Heavier rows are
    proportionally likelier to be picked; the draw is a pure function of
    (key, weight): stable across runs, engines, and layouts —
    everything Spark's ``sample()``/``randomSplit`` is not.

    Weights outside 1..840 or not dividing 840 raise at plan level (a
    non-divisor would silently floor the multiplier and bias the draw).

    Scale shape: the hash + multiply is a zero-shuffle projection; the
    per-stratum top-k is one window over the stratum key. For extreme
    per-stratum cardinality, pre-filter with the stratified_take cutoff
    trick before ranking; k rows per stratum is the output contract
    either way.
    """
    from pyspark.sql import Window

    weight_lcm = 840

    # NULL weight must fail fast too (dataset_split's NULL-key contract):
    # a NULL here would make every guard comparison NULL → the otherwise
    # branch returns a NULL ranking key, which Spark sorts FIRST and SQL
    # engines sort LAST — a silently engine-dependent draw.
    guard = F.when(
        F.col(weight_col).isNull()
        | (F.col(weight_col) < 1)
        | (F.col(weight_col) > weight_lcm)
        # fractional weights are rejected too: 840 % 2.5 == 0.0 would
        # slip the divisor test and then be silently floored by the cast
        | (F.col(weight_col).cast("double")
           != F.col(weight_col).cast("bigint").cast("double"))
        | (F.lit(weight_lcm) % F.col(weight_col) != 0),
        F.raise_error(
            F.concat(
                F.lit(f"weight must be a non-null divisor of {weight_lcm} in"
                      f" [1, {weight_lcm}]; got "),
                F.coalesce(F.col(weight_col).cast("string"), F.lit("NULL")),
            )
        ).cast("bigint"),
    ).otherwise(F.col(weight_col).cast("bigint"))
    h = F.expr(
        f"CAST(conv(substring(md5(concat('wps|', CAST({key_col} AS STRING))),"
        f" 1, 12), 16, 10) AS BIGINT)"
    )
    ranked = df.withColumn("__w", guard).withColumn(
        "priority_key", h * F.expr(f"CAST({weight_lcm} AS BIGINT) DIV __w")
    )
    w = Window.partitionBy(stratum_col).orderBy(
        F.col("priority_key").asc(), F.col(key_col).asc()
    )
    return (
        ranked.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
        .select(stratum_col, key_col, F.col("__w").alias("w"), "priority_key", "rn")
    )


def vocab_coverage(df: DataFrame, vocab_size: int = 200) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: fix the vocab as the top-N
    tokens by corpus occurrence count (ties broken by token text — the
    boundary must be deterministic or the whole audit is
    layout-dependent), then score every document's out-of-vocabulary
    OCCURRENCE fraction in µ-units. The pre-training sanity check that a
    tokenizer/vocab choice actually covers the corpus it will train on —
    a high-OOV stratum is about to become UNK soup.

    Scale shape: one token-keyed count aggregate (map-side partial), a
    top-N via sort+limit (per-partition top-k merge), vocab broadcast
    back onto the exploded tokens, one per-doc aggregate. Exact integer
    end-to-end.
    """
    tok = df.select(F.col("doc_id"), F.explode(tokens("text")).alias("t"))
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("__c"))
    vocab = (
        counts.orderBy(F.col("__c").desc(), F.col("t").asc())
        .limit(vocab_size)
        .select("t", F.lit(1).alias("__in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn("oov_u", F.expr("n_oov * 1000000 DIV n_tokens"))
    )


def halflife_decay_engagement(events: DataFrame) -> DataFrame:
    """Recency-weighted per-user engagement: each event contributes
    ``1e6 >> min(age div 7, 19)`` µ-units (a 7-day half-life), where age is
    whole days before the corpus' newest event — an exponential half-life
    decay computed ENTIRELY in integer shifts (no exp()/pow(), so the
    score is bit-identical cross-engine, unlike every float-decay
    implementation). The freshness feature behind data-mixture recency
    weighting and user-activity sampling.

    Scale shape: the reference timestamp is a 1-row aggregate broadcast
    onto the stream (scalar_max_crossjoin pattern); the decay weight is a
    narrow projection; one user-keyed aggregate ends the plan.
    The cap of 19 half-lives (2^19 < 1e6) floors
    ancient events to weight 1 rather than shifting past the integer.
    """
    ref = events.agg(F.max(F.to_date("ts")).alias("__ref"))
    # NULL timestamps fail fast (the dataset_split/priority-sample NULL
    # contract): least() ignores a NULL datediff, so a corrupt feed
    # would otherwise silently score as maximally ancient weight-1 events
    d = F.when(
        F.col("ts").isNull(),
        F.raise_error(F.lit("halflife_decay_engagement: NULL timestamp")
                      ).cast("date"),
    ).otherwise(F.to_date("ts"))
    return (
        events.select(F.col("user_id"), d.alias("__d"))
        .crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            F.expr(
                "CAST(1000000 AS BIGINT) DIV shiftleft(CAST(1 AS BIGINT),"
                " CAST(least(datediff(__ref, __d) DIV 7, 19) AS INT))"
            ).alias("__w"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("__w").cast("bigint").alias("engagement_u"),
        )
    )


def doc_surprisal(df: DataFrame) -> DataFrame:
    """Per-document unigram SURPRISAL score without floating log():
    surprisal of a token occurrence = floor(log2(N / cf)) computed as
    length(bin(N div cf)) − 1 — bit-length arithmetic, exact integer
    end-to-end, identical in Spark and DuckDB. N = total corpus token
    occurrences, cf = the token's corpus occurrence count. A document of
    common words scores low; rare-token/garbage documents score high —
    the unigram-LM cross-entropy quality signal, made differentially
    testable (a real ln() diverges across libms at the ulp level).

    Scale shape: token-keyed count aggregate (map-side partial), 1-row
    total broadcast, token-keyed join back, per-doc aggregate — the
    crossdoc shape; documents never pair-compare."""
    from gcp_etl_pipeline_spark.operators.text import tokens

    tok = df.select(F.col("doc_id"), F.explode(tokens("text")).alias("t"))
    cf = tok.groupBy("t").agg(F.count(F.lit(1)).alias("__cf"))
    total = cf.agg(F.sum("__cf").alias("__n"))
    scored = (
        tok.join(cf, "t")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("doc_id"),
            F.expr("length(bin(__n div __cf)) - 1").alias("__s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("__s").cast("bigint").alias("surprisal_sum"),
        )
        .withColumn(
            "mean_surprisal_u",
            F.expr("surprisal_sum * 1000000 div n_tokens").cast("bigint"),
        )
    )


def shard_assign(df: DataFrame, tokens_per_shard: int = 10_000) -> DataFrame:
    """Size-balanced output sharding — the LAST step of a curation
    pipeline: in deterministic global id order, each document goes to
    the shard where its EXCLUSIVE cumulative token count lands
    (shard = tokens_before div tokens_per_shard), so every shard holds
    ~tokens_per_shard tokens regardless of document-length skew and a
    training loader can stream shards of near-equal work. Emits
    (doc_id, n_tokens, tokens_before, shard) — feed `shard` to
    partitionBy on the write.

    Scale shape: a global cumulative sum via the two-phase distributed
    prefix sum (quality.ks_drift's pattern — per-id-range bucket
    subtotals to the driver as n_buckets scalars, exclusive offsets
    broadcast back, in-bucket windows n_buckets-way parallel), never a
    single-task global window."""
    from pyspark.sql import Window

    from gcp_etl_pipeline_spark.operators.text import token_count

    n_buckets = 64

    toks = df.select(
        F.col("doc_id"), token_count("text").cast("bigint").alias("__n")
    )
    stats = toks.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    spark = df.sparkSession
    if stats["lo"] is None:
        return spark.createDataFrame(
            [],
            "doc_id BIGINT, n_tokens BIGINT, tokens_before BIGINT, "
            "shard BIGINT",
        )
    lo, hi = int(stats["lo"]), int(stats["hi"])
    # INTEGER bucket placement: a float ((id-lo)/width) loses integer
    # precision beyond 2^53 — real at 100-TB id ranges — and a bucket
    # boundary that wobbles between runs would break the prefix-sum's
    # monotone-by-id contract. Divide by a precomputed STRIDE instead of
    # multiplying by n_buckets: (id-lo)*n overflows signed-64 once the
    # id range exceeds ~2^63/n, precisely the domain this exists for.
    # (id-lo) div stride is overflow-free, exact, monotone in id, and
    # lands in [0, n_buckets-1] since stride > width/n_buckets.
    width = hi - lo
    stride = (width // n_buckets) + 1
    bucketed = toks.withColumn(
        "__b",
        F.expr(f"(doc_id - {lo}) div {stride}").cast("long"),
    )
    sub = {
        int(r["__b"]): int(r["s"])
        for r in bucketed.groupBy("__b").agg(F.sum("__n").alias("s")).collect()
    }
    offs, run = [], 0
    for i in range(n_buckets):
        offs.append((i, run))
        run += sub.get(i, 0)
    off_df = local_frame(spark, offs, "__b BIGINT, __off BIGINT")
    w = (
        Window.partitionBy("__b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.join(F.broadcast(off_df), "__b")
        .withColumn("__cum", F.sum("__n").over(w) + F.col("__off"))
        .select(
            F.col("doc_id"),
            F.col("__n").alias("n_tokens"),
            (F.col("__cum") - F.col("__n")).cast("bigint")
            .alias("tokens_before"),
            F.expr(f"(__cum - __n) div {tokens_per_shard}")
            .cast("bigint").alias("shard"),
        )
    )


def _token_bucket(t):
    """md5-derived feature-hash bucket for a token: the first four hex
    nibbles as an integer, mod 64 — JVM-side (md5 + conv), and
    replayable in any engine by folding the same nibbles."""
    return (
        F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("bigint")
        % F.lit(64)
    )


def fit_quality_classifier(df: DataFrame, label_expr: str) -> DataFrame:
    """TRAIN a linear quality classifier over hashed token counts — the
    fastText-shaped tier above rule gates (``gopher_gates``) and
    surprisal scores: one µ-unit weight per feature-hash bucket, learned
    from a labeled corpus as the Laplace-smoothed positive-rate of the
    bucket's token occurrences, centered to [-1e6, +1e6]:

        w_u(b) = (pos_b + 1) * 2_000_000 div (tot_b + 2) - 1_000_000

    All-integer fixed point (no log/exp), so training is bit-identical
    in any engine and under any partitioning — the price is a linear
    probability model rather than true log-odds, which for a gate
    threshold is monotonically equivalent. ``label_expr`` is a boolean
    SQL expression over the input columns (e.g. "lang = 'en'").

    Scale shape: one (doc, token) explode + one n_buckets-row aggregate;
    the output weights table is KBs at any corpus size — made to ride a
    broadcast join at inference."""
    from gcp_etl_pipeline_spark.operators.text import tokens

    tb = df.select(
        F.expr(label_expr).alias("__pos"),
        F.explode(tokens("text")).alias("t"),
    ).select("__pos", _token_bucket(F.col("t")).alias("bucket"))
    return tb.groupBy("bucket").agg(
        (
            (F.sum(F.when(F.col("__pos"), 1).otherwise(0)) + 1)
            * F.lit(2_000_000)
        ).cast("bigint").alias("__p"),
        (F.count(F.lit(1)) + 2).cast("bigint").alias("__t"),
    ).select(
        "bucket",
        (F.expr("__p div __t") - F.lit(1_000_000)).cast("bigint").alias("w_u"),
    )


def quality_classifier_score(df: DataFrame, weights: DataFrame) -> DataFrame:
    """SCORE documents with a trained hashed-feature linear classifier
    (``fit_quality_classifier``): per doc, the mean bucket weight of its
    token stream (µ-unit, sign-split integer division so truncation
    direction is engine-independent), squashed through the algebraic
    sigmoid

        prob_u = 500_000 + sign(s) * (500_000 * |s| div (1_000_000 + |s|))

    — a monotone [0, 1e6] probability with zero floating point — and
    gated at the CORPUS MEAN probability of the scored documents — the
    self-calibrating gate that keeps both classes populated when the
    label's base rate shifts the whole distribution to one side of 0.5
    (a 1-row aggregate broadcast back, exact integer mean). Zero-token
    documents keep an explicit row (score 0, prob 500_000, keep =
    false): the emptiest documents must not sail through an
    anti-join-on-rejects pipeline unseen.

    Scale shape: one explode + one BROADCAST join against the
    n_buckets-row weights table + one per-doc aggregate; zero Python in
    the hot path (md5/conv/sum are all JVM expressions)."""
    from gcp_etl_pipeline_spark.operators.text import tokens

    tb = df.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("t")
    ).select("doc_id", _token_bucket(F.col("t")).alias("bucket"))
    # LEFT join: a token whose bucket never appeared in training scores
    # a NEUTRAL 0, and still counts in n_tokens — an inner join would
    # silently drop it from both the numerator and the denominator (and
    # report an all-unseen-vocabulary doc as n_tokens = 0)
    ds = (
        tb.join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.coalesce("w_u", F.lit(0))).cast("bigint").alias("__s"),
        )
        .withColumn(
            "score_u",
            F.expr(
                "CASE WHEN __s < 0 THEN -((-__s) div n_tokens)"
                " ELSE __s div n_tokens END"
            ).cast("bigint"),
        )
        .withColumn(
            "prob_u",
            (
                F.lit(500_000)
                + F.when(F.col("score_u") < 0, -1).otherwise(1)
                * F.expr(
                    "(500000 * ABS(score_u)) div (1000000 + ABS(score_u))"
                )
            ).cast("bigint"),
        )
    )
    # self-calibrating gate: the exact integer mean prob of the SCORED
    # docs (zero-token rows excluded from the mean AND from keep), one
    # tiny aggregate broadcast onto the row stream
    thr = ds.agg(F.expr("sum(prob_u) div count(1)").cast("bigint").alias("__thr"))
    ds = ds.join(F.broadcast(thr), F.lit(True), "left")
    zero = F.lit(0).cast("bigint")
    return (
        df.select("doc_id").distinct()
        .join(ds, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", zero).alias("n_tokens"),
            F.coalesce("score_u", zero).alias("score_u"),
            F.coalesce("prob_u", F.lit(500_000).cast("bigint")).alias("prob_u"),
            # NULL prob (zero-token doc) -> NULL comparison -> false
            F.coalesce(
                F.col("prob_u") >= F.col("__thr"), F.lit(False)
            ).alias("keep"),
        )
    )


def per_host_budget(df: DataFrame, url_col: str, quota: int) -> DataFrame:
    """Per-host crawl budgets — the politeness/quota operator a frontier
    runs between URL dedup and fetch: bucket every URL by its
    REGISTRABLE host (text.registrable_host — a million s3 subdomains
    are one tenant) and keep at most ``quota`` URLs per host, selected
    deterministically by md5(url) order (tie-broken by the URL itself)
    so the pick is a pure function of content — reproducible across
    runs, engines, and physical layouts, the ``stratified_take`` /
    ``token_budget_take`` discipline with the host as the stratum.

    PRECONDITION: ``url_col`` unique (run url-level dedup first — that
    is this operator's place in the chain).

    Physical shape: two-level exact top-q, same as ``stratified_take``:
    a LOCAL ranking window keyed on (host, input partition) keeps at
    most the quota per partition — fully parallel, a hot host (the
    giant tenant every crawl has) spreads across its source partitions
    — then the GLOBAL window ranks only the ≤ quota × n_partitions
    survivors per host, never the whole host."""
    from pyspark.sql import Window

    from gcp_etl_pipeline_spark.operators.text import registrable_host

    q = F.lit(int(quota))
    out = df.withColumn("host", registrable_host(F.col(url_col)))
    order = [F.md5(F.col(url_col)), F.col(url_col)]
    w_local = Window.partitionBy(
        "host", F.spark_partition_id()
    ).orderBy(*order)
    w = Window.partitionBy("host").orderBy(*order)
    return (
        out.withColumn("__lrn", F.row_number().over(w_local))
        .where(F.col("__lrn") <= q)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= q)
        .drop("__lrn", "__rn")
    )


def robots_pattern_regex(pattern: Column) -> Column:
    """RFC 9309 §2.2.3 path pattern -> anchored regex (JVM-side, one
    expression per rule row): ``*`` matches any octet sequence; ``$``
    anchors the END only when it is the pattern's last octet (a ``$``
    anywhere else is a literal); every other regex metacharacter is
    escaped. Both Spark (Java regex) and the DuckDB oracle (RE2) read
    the produced pattern identically — it contains only literals,
    backslash escapes, ``.*``, ``^`` and a final optional ``$``."""
    ends_anchor = pattern.endswith("$")
    core = F.when(
        ends_anchor, F.substring(pattern, F.lit(1), F.length(pattern) - 1)
    ).otherwise(pattern)
    esc = F.regexp_replace(core, r"([.^$+?(){}\[\]\\|])", r"\\$1")
    return F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(ends_anchor, F.lit("$")).otherwise(F.lit("")),
    )


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    assume_distinct: bool = False,
    wildcards: bool = False,
) -> DataFrame:
    """robots.txt directive evaluation — the fetch-permission gate that
    runs with the per-host budget: ``rules`` is the parsed directive
    table (host, path_prefix, allow) and every URL gets the verdict of
    its MOST SPECIFIC matching rule (longest path_prefix; on a length
    tie Allow wins — the RFC 9309 precedence), defaulting to allowed
    when no rule matches. An empty path matches as '/' (the homepage
    form 'https://h' IS the root — RFC 9309 §2.2.2). Appends
    (allowed, matched_prefix).

    Scope: robots.txt is PER ORIGIN (RFC 9309 §2.3) — cdn.example.com
    and example.com each have their own file — so rules match by exact
    lowercased hostname.

    Duplicate URLs are safe: the verdict is computed once per DISTINCT
    URL and joined back, so every input row keeps its own verdict row
    (no precondition, unlike per_host_budget's unique-key contract).
    When the caller has ALREADY deduplicated (e.g. the output of a
    URL-level group-by, as in frontier_pipeline), pass
    ``assume_distinct=True`` to skip the dedup-and-join-back: the
    verdict aggregate then groups the input rows directly — one scan
    of the frontier instead of two lineages of it.

    ``wildcards=True`` evaluates RFC 9309 §2.2.3 path PATTERNS instead
    of plain prefixes: ``*`` spans any octet sequence and a trailing
    ``$`` anchors the end (literal anywhere else) — each rule compiles
    once to an anchored regex (``robots_pattern_regex``) inside the
    broadcast side, and specificity stays pattern-octet length with
    Allow winning ties (the common implementation of the RFC's
    most-octets rule; a plain prefix is the degenerate pattern, so
    prefix rule tables evaluate identically under either mode).

    Scale shape: a robots table is tiny next to a frontier (thousands
    of hosts x a handful of directives), so the rule join BROADCASTS
    against the distinct-URL table; the prefix match is a JVM
    startswith (or compiled-regex RLIKE) inside the join condition;
    precedence is ONE max_by aggregate over the candidate rows (no
    window sort), and the frontier itself only shuffles for the
    verdict join, which AQE plans against the deduplicated (smaller)
    side."""
    from gcp_etl_pipeline_spark.operators.text import (
        URL_AUTH_RE,
        URL_SCHEME_RE,
        url_hostname,
    )

    uu = urls if assume_distinct else urls.select("url").distinct()
    raw_path = F.regexp_replace(
        F.regexp_replace(F.col("url"), URL_SCHEME_RE, ""),
        URL_AUTH_RE,
        "",
    )
    uu = uu.withColumn("__host", url_hostname(F.col("url"))).withColumn(
        "__path",
        F.when(raw_path.startswith("/"), raw_path).otherwise(
            F.concat(F.lit("/"), raw_path)
        ),
    )
    r = rules.select(
        F.col("host").alias("__rhost"),
        F.col("path_prefix").alias("__pfx"),
        F.col("allow").alias("__allow"),
    )
    if wildcards:
        r = r.withColumn("__rx", robots_pattern_regex(F.col("__pfx")))
        match = F.expr("rlike(__path, __rx)")
    else:
        match = F.col("__path").startswith(F.col("__pfx"))
    cand = uu.join(
        F.broadcast(r),
        (F.col("__host") == F.col("__rhost")) & match,
        "left",
    )
    # RFC precedence as one aggregate: max over (pattern length, allow,
    # pattern) — longest wins, Allow wins the length tie (true >
    # false), and the pattern string itself breaks the remaining tie.
    # In prefix mode two DISTINCT same-length prefixes can never both
    # match one path, so the third key is inert there; under wildcards
    # two distinct same-length patterns CAN both match ('/a*' and
    # '/*a' on '/aa'), and without the total order the
    # matched_prefix pick would be nondeterministic. max_by skips the
    # null no-match row, so an unmatched URL aggregates to NULL and
    # coalesces to the default-allow verdict.
    group_cols = list(urls.columns) if assume_distinct else ["url"]
    verdict = cand.groupBy(*group_cols).agg(
        F.max_by(
            F.struct(F.col("__allow").alias("a"), F.col("__pfx").alias("p")),
            F.struct(
                F.length("__pfx"), F.col("__allow"), F.col("__pfx")
            ),
        ).alias("__v")
    ).select(
        *group_cols,
        F.coalesce(F.col("__v.a"), F.lit(True)).alias("allowed"),
        F.coalesce(F.col("__v.p"), F.lit("")).alias("matched_prefix"),
    )
    if assume_distinct:
        return verdict.select(*urls.columns, "allowed", "matched_prefix")
    return urls.join(verdict, "url").select(
        *urls.columns, "allowed", "matched_prefix"
    )


def recrawl_schedule(fetches: DataFrame) -> DataFrame:
    """Per-URL recrawl-interval estimation from a fetch history — the
    scheduler stage that turns "what did repeated fetches observe" into
    "when to fetch next". For each URL, consecutive fetches (ordered by
    timestamp, sequence id as the deterministic tiebreak) are compared
    on their content fingerprint; the observed change ratio drives a
    multiplier on the mean observed inter-fetch interval (the classic
    change-frequency heuristic: pages that changed on most visits are
    re-fetched at the observed cadence, static pages back off
    geometrically). All exact integer arithmetic (µs epochs, µ-unit
    ratios) so the DuckDB oracle matches bit-for-bit.

    Physical shape at 100 TB of fetch logs: ONE hash exchange on
    ``url_id`` serves both the lag window and the aggregate (the
    groupBy reuses the window's partitioning — no second shuffle); the
    output is |URLs| rows, a small fraction of the log."""
    from pyspark.sql import Window

    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("url_id").orderBy(ts_us, F.col("fetch_id"))
    marked = fetches.select(
        F.col("url_id"),
        ts_us.alias("__us"),
        (F.col("content_fp") != F.lag("content_fp").over(w))
        .cast("bigint")
        .alias("__changed"),
    )
    agg = marked.groupBy("url_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fetches"),
        F.sum(F.coalesce(F.col("__changed"), F.lit(0)))
        .cast("bigint")
        .alias("n_changes"),
        (F.max("__us") - F.min("__us")).alias("span_us"),
    )
    return schedule_from_aggregates(agg)


def schedule_from_aggregates(agg: DataFrame) -> DataFrame:
    """The schedule projection over per-URL fetch aggregates (url_id,
    n_fetches, n_changes, span_us) — factored out of
    ``recrawl_schedule`` so the streaming twin's incrementally-merged
    state table goes through the IDENTICAL ratio/interval/tier rules
    (one definition, one oracle)."""
    denom = F.col("n_fetches") - F.lit(1)
    # integer DIV, not floor(float /): n_changes*1e6 and span_us can
    # exceed double's 2^53 exact range at corpus scale, where a float
    # floor diverges from the oracle's exact // (the pagerank.py HITS
    # lesson, applied here after review)
    change_ratio_u = F.when(
        denom > 0,
        F.expr("CAST(n_changes * 1000000 DIV (n_fetches - 1) AS BIGINT)"),
    ).otherwise(F.lit(0)).cast("bigint")
    mean_interval_us = F.when(
        denom > 0,
        F.expr("CAST(span_us DIV (n_fetches - 1) AS BIGINT)"),
    ).otherwise(F.lit(0)).cast("bigint")
    mult = (
        F.when(change_ratio_u >= 500000, F.lit(1))
        .when(change_ratio_u >= 200000, F.lit(4))
        .when(change_ratio_u > 0, F.lit(16))
        .otherwise(F.lit(64))
    )
    tier = (
        F.when(change_ratio_u >= 500000, F.lit("live"))
        .when(change_ratio_u >= 200000, F.lit("active"))
        .when(change_ratio_u > 0, F.lit("slow"))
        .otherwise(F.lit("static"))
    )
    return agg.select(
        "url_id",
        "n_fetches",
        "n_changes",
        "span_us",
        change_ratio_u.alias("change_ratio_u"),
        mean_interval_us.alias("mean_interval_us"),
        # single-fetch URLs have no observed cadence: schedule at the
        # tier multiplier over a 1-day base instead of 0 (a 0 interval
        # would re-fetch in a tight loop — the exact failure this
        # operator exists to prevent)
        (F.when(denom > 0, mean_interval_us)
         .otherwise(F.lit(86_400_000_000)) * mult)
        .cast("bigint")
        .alias("recrawl_interval_us"),
        tier.alias("recrawl_tier"),
    )


def cache_freshness(
    responses: DataFrame,
    keep: tuple = ("url_id",),
) -> DataFrame:
    """RFC 9111 shared-cache freshness from raw response headers — the
    HTTP-caching half the revalidation tier was missing: when may a
    crawl cache SERVE a stored response without refetching, and when
    is it merely allowed to store-but-revalidate?

    Parsed per response (header-section regexes shared with
    ``text.http_header``): Cache-Control directives (max-age /
    s-maxage with digit values — an unparseable value is treated as
    an absent directive, falling through the lifetime chain, the
    conservative reading of §4.2.1; bare no-store / no-cache /
    private tokens at list boundaries — the qualified
    ``no-cache="set-cookie"`` form is out of scope), Age (invalid ->
    0, clamped non-negative), and HTTP-dates in Date / Expires /
    Last-Modified (fixed-format IMF-fixdate; the weekday prefix is
    stripped, not validated — a wrong weekday is a sender bug a cache
    tolerates).

    Freshness lifetime (shared cache, §4.2.1-§4.2.2 order): s-maxage,
    else max-age, else Expires - Date (clamped >= 0), else the 10%
    Last-Modified heuristic (Date - Last-Modified) DIV 10, else 0.
    Verdict precedence: no_store > private (a shared cache MUST NOT
    store) > revalidate (no-cache) > fresh (lifetime > age) > stale.
    ``stale_at_s`` = Date + lifetime (-1 without a Date).

    All integer arithmetic after parsing; one row per response, pure
    per-row expressions — embarrassingly parallel at any scale."""
    from gcp_etl_pipeline_spark.operators.text import http_header

    c = F.col("headers")
    num = r'(?i)(?:^|[,\s])%s\s*=\s*"?(\d+)'
    tok = r"(?i)(?:^|[,\s])%s(?:$|[,\s])"
    max_age = F.regexp_extract(cc_ := http_header(c, "Cache-Control"),
                               num % "max-age", 1).try_cast("bigint")
    s_maxage = F.regexp_extract(cc_, num % "s-maxage", 1).try_cast(
        "bigint"
    )
    no_store = cc_.rlike(tok % "no-store")
    no_cache = cc_.rlike(tok % "no-cache")
    private = cc_.rlike(tok % "private")

    def _http_date_s(name: str) -> Column:
        v = F.regexp_replace(
            http_header(c, name), r"^[A-Za-z]{3},[ ]", ""
        )
        return F.unix_timestamp(
            F.when(v != "", v), "dd MMM yyyy HH:mm:ss 'GMT'"
        ).cast("bigint")

    date_s = _http_date_s("Date")
    expires_s = _http_date_s("Expires")
    lastmod_s = _http_date_s("Last-Modified")
    age_s = F.greatest(
        F.coalesce(http_header(c, "Age").try_cast("bigint"), F.lit(0)),
        F.lit(0),
    )
    lifetime = (
        F.when(s_maxage.isNotNull(), s_maxage)
        .when(max_age.isNotNull(), max_age)
        .when(
            expires_s.isNotNull() & date_s.isNotNull(),
            F.greatest(expires_s - date_s, F.lit(0)),
        )
        .when(
            lastmod_s.isNotNull() & date_s.isNotNull(),
            # DIV on a clamped non-negative difference: floor == trunc,
            # so Spark DIV and the oracle's // agree
            F.expr(
                "GREATEST(CAST(0 AS BIGINT), "
                "__date_s - __lastmod_s) DIV 10"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    verdict = (
        F.when(no_store, F.lit("no_store"))
        .when(private, F.lit("private"))
        .when(no_cache, F.lit("revalidate"))
        .when(lifetime > age_s, F.lit("fresh"))
        .otherwise(F.lit("stale"))
    )
    base = responses.withColumn("__date_s", date_s).withColumn(
        "__lastmod_s", lastmod_s
    )
    return base.select(
        *keep,
        F.coalesce(max_age, F.lit(-1)).cast("bigint").alias("max_age_s"),
        F.coalesce(s_maxage, F.lit(-1)).cast("bigint").alias(
            "s_maxage_s"
        ),
        no_store.alias("no_store"),
        no_cache.alias("no_cache"),
        private.alias("private"),
        age_s.cast("bigint").alias("age_s"),
        lifetime.alias("lifetime_s"),
        verdict.alias("verdict"),
        F.coalesce(F.col("__date_s") + lifetime, F.lit(-1))
        .cast("bigint")
        .alias("stale_at_s"),
    )


def sitemap_boost(sched: DataFrame, hints: DataFrame) -> DataFrame:
    """Sitemap-freshness boost over a recrawl schedule: LEFT-join the
    per-URL <lastmod> hints (µs epochs) onto the schedule (must carry
    ``url`` and ``last_fetch_us`` alongside ``recrawl_interval_us``) and
    let any URL whose sitemap declares a modification AFTER the last
    observed fetch jump the due queue — next_due = last fetch (due
    now) instead of last fetch + backoff interval. No hint, or a hint
    at/before the last fetch, keeps the observed-cadence schedule.

    Scale shape: one hash join on the url string (the hint table is
    page-sized — not broadcastable); everything else is per-row
    expressions. Output keeps the schedule's row count (hints are
    unique per URL by the sitemap contract)."""
    j = sched.join(
        hints.select("url", "lastmod_us"), "url", "left"
    )
    jumped = F.col("lastmod_us").isNotNull() & (
        F.col("lastmod_us") > F.col("last_fetch_us")
    )
    return j.withColumn(
        "sitemap_lastmod_us",
        F.coalesce("lastmod_us", F.lit(-1)).cast("bigint"),
    ).withColumn("sitemap_jump", jumped).withColumn(
        "next_due_us",
        F.when(jumped, F.col("last_fetch_us"))
        .otherwise(F.col("last_fetch_us") + F.col("recrawl_interval_us"))
        .cast("bigint"),
    ).drop("lastmod_us")


def host_reputation(docs: DataFrame) -> DataFrame:
    """Per-host reputation rollup — the domain-level quality gate a
    curation pipeline applies ON TOP of per-document gates (CommonCrawl
    practice: a host whose pages are mostly junk is blocked wholesale,
    including its few passing pages). Exact integer micro-unit
    fractions so the verdict is engine-stable.

    Scale shape at 100 TB: one partial-aggregated hash exchange on the
    host; output is |hosts| rows — the verdict table then BROADCASTS
    back onto the corpus (a few million hosts ≪ the document count)."""
    # integer DIV (see schedule_from_aggregates): sum(n_tokens)*1e6
    # passes 2^53 for any host with ~9e9 total tokens
    agg = docs.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(
            "CAST(SUM(CAST(is_short AS BIGINT)) * 1000000"
            " DIV COUNT(1) AS BIGINT)"
        ).alias("short_frac_u"),
        F.expr(
            "CAST(SUM(CAST(n_tokens AS BIGINT)) * 1000000"
            " DIV COUNT(1) AS BIGINT)"
        ).alias("mean_tokens_u"),
    )
    verdict = (
        F.when(F.col("short_frac_u") > F.lit(500_000), F.lit("block"))
        .when(F.col("short_frac_u") > F.lit(200_000), F.lit("review"))
        .otherwise(F.lit("allow"))
    )
    return agg.select("*", verdict.alias("verdict"))


def doc_bigram_surprisal(df: DataFrame) -> DataFrame:
    """Per-document CONDITIONAL (bigram) surprisal — the sequence-level
    quality signal unigram surprisal can't see: templated/shuffled text
    built from common words scores low on unigrams but high here,
    because P(b|a) ≈ cf(a,b) / cf(a·) collapses only when the corpus
    actually continues ``a`` with ``b``. Same no-float discipline as
    ``doc_surprisal``: surprisal(a,b) = floor(log2(cf_prefix / cf_ab))
    via bit-length arithmetic (length(bin(x)) − 1), exact integer
    end-to-end in both engines. cf_prefix is the count of bigrams
    STARTING with ``a`` (so Σ_b P(b|a) = 1 by construction — a true
    conditional, not a unigram ratio). Documents under 2 tokens have no
    bigrams and emit no row.

    Scale shape: bigrams derive from the token array in-place (zero
    joins), then one bigram-keyed count aggregate (map-side partial),
    one prefix-keyed aggregate, a bigram-keyed join back, and a per-doc
    aggregate. Documents never pair-compare; only bigram strings
    shuffle."""
    from gcp_etl_pipeline_spark.operators.text import tokens

    # tokenize ONCE into a materialized column, then zip two slices:
    # an element_at(toks, i)-per-element transform would let codegen
    # re-inline the whole split/filter chain per element — O(len²)
    # regex work per row (the html-extraction re-inlining trap; the
    # first form of this operator benched 8.4s at sf0.1, this one 0.6s)
    t = df.select(F.col("doc_id"), tokens("text").alias("__toks"))
    tk = F.col("__toks")
    bigrams = F.when(
        F.size(tk) >= 2,
        F.zip_with(
            F.slice(tk, 1, F.size(tk) - 1),
            F.slice(tk, 2, F.size(tk) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = t.select(F.col("doc_id"), F.explode(bigrams).alias("bg"))
    prefix = F.substring_index("bg", " ", 1)
    cf_ab = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("__cab"))
    cf_a = cf_ab.groupBy(prefix.alias("__a")).agg(
        F.sum("__cab").alias("__ca")
    )
    scored = (
        bg.join(cf_ab, "bg")
        .withColumn("__a", prefix)
        .join(cf_a, "__a")
        .select(
            F.col("doc_id"),
            F.expr("length(bin(__ca div __cab)) - 1").alias("__s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("__s").cast("bigint").alias("surprisal_sum"),
        )
        .withColumn(
            "mean_surprisal_u",
            F.expr("surprisal_sum * 1000000 div n_bigrams").cast("bigint"),
        )
    )


ROBOTS_DIRECTIVE_RE = "^\\s*([A-Za-z-]+)\\s*:"


def parse_robots_txt(docs: DataFrame) -> DataFrame:
    """Parse raw robots.txt documents into the (host, path_prefix,
    allow) rule table ``robots_filter`` evaluates — the front half of
    the politeness gate (RFC 9309 §2.1-2.2 grouping): lines split,
    comments stripped, directives recognized case-insensitively;
    CONSECUTIVE User-agent lines open one group (a rule line closes
    the run); Allow/Disallow lines attach to the current group; rules
    before any User-agent line are invalid and drop; an empty-pattern
    rule has no effect and drops. The rules kept are those of the
    ``*`` groups: the crawler names no agent of its own.

    Plan shape: one explode over documents, one per-host window pass
    (lag + running sum — group ids), one semi-join of rules onto
    matching group ids. Robots documents are host-sized (KB each);
    nothing here scales with the corpus."""
    grouped = _robots_grouped(docs, ("user-agent", "allow", "disallow"))
    matching = _robots_matching(grouped)
    rules = grouped.where(
        (F.col("__kind") != "user-agent")
        & (F.col("__gid") >= 1)
        & (F.col("__val") != "")
    )
    return (
        rules.join(matching, ["host", "__gid"], "left_semi")
        .select(
            "host",
            F.col("__val").alias("path_prefix"),
            (F.col("__kind") == "allow").alias("allow"),
        )
        .distinct()
    )


def _robots_grouped(docs: DataFrame, kinds: tuple) -> DataFrame:
    """Shared robots.txt line parse + RFC 9309 §2.1 group-run ids:
    (host, __no, __kind, __val, __gid). Only the directive kinds in
    ``kinds`` participate — an unrecognized line is ignored entirely
    (it neither attaches to nor CLOSES a User-agent run, the
    Google-parser convention parse_robots_txt has always used), while
    any recognized group-member record closes the run. Callers that
    recognize extra member kinds (crawl-delay) therefore see runs
    split where those records intervene between User-agent lines —
    which is exactly the attribution question they exist to answer."""
    from pyspark.sql import Window

    lines = docs.select(
        F.col("host"),
        F.posexplode(F.split(F.col("robots_txt"), "\r?\n")).alias(
            "__no", "__line"
        ),
    )
    clean = F.trim(F.regexp_replace("__line", "#.*$", ""))
    kind = F.lower(F.regexp_extract(clean, ROBOTS_DIRECTIVE_RE, 1))
    value = F.trim(F.regexp_replace(clean, ROBOTS_DIRECTIVE_RE, ""))
    d = lines.select(
        "host", "__no", kind.alias("__kind"), value.alias("__val")
    ).where(F.col("__kind").isin(*kinds))
    w = Window.partitionBy("host").orderBy("__no")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return d.select(
        "*",
        F.sum(
            (
                (F.col("__kind") == "user-agent")
                & (
                    F.coalesce(
                        F.lag("__kind").over(w) != "user-agent", F.lit(True)
                    )
                )
            ).cast("bigint")
        )
        .over(wrun)
        .alias("__gid"),
    )


def _robots_matching(grouped: DataFrame) -> DataFrame:
    """RFC 9309 §2.2.1 group selection per host for the ``*`` agent:
    (host, __gid) of every group with a ``User-agent: *`` line. The
    agent is ``*`` itself, so its exact-agent groups ARE the ``*``
    groups and no fallback is left to preempt."""
    return grouped.where(
        (F.col("__kind") == "user-agent") & (F.col("__val") == "*")
    ).select("host", "__gid")


def robots_crawl_delays(docs: DataFrame) -> DataFrame:
    """Per-host ``Crawl-delay`` extraction: (host, crawl_delay_s) from
    the ``*`` groups (the parse_robots_txt selection). Crawl-delay is a
    de-facto group-member record (the Bing/Yandex convention — RFC 9309
    leaves it out), so it participates in group-run detection here: a
    Crawl-delay between two User-agent lines closes the first run, and
    its value binds to THAT group's agents only. Non-integer or negative
    values drop; a host whose matching groups carry several delays keeps
    the MAX (the conservative politeness bound). Hosts with no
    applicable delay are absent — the politeness layer's per-host
    default applies."""
    grouped = _robots_grouped(
        docs, ("user-agent", "allow", "disallow", "crawl-delay")
    )
    matching = _robots_matching(grouped)
    delays = grouped.where(F.col("__kind") == "crawl-delay").select(
        "host",
        "__gid",
        F.col("__val").try_cast("bigint").alias("delay"),
    ).where(F.col("delay").isNotNull() & (F.col("delay") >= 0))
    return (
        delays.join(matching, ["host", "__gid"], "left_semi")
        .groupBy("host")
        .agg(F.max("delay").alias("crawl_delay_s"))
    )


# absolute-URL gate for Sitemap directives: the sitemaps protocol (and
# RFC 9309 §2.3's "other records" carve-out) requires a full URL — a
# relative value has no defined base inside robots.txt and drops
ROBOTS_SITEMAP_ABS_RE = "^[A-Za-z][A-Za-z0-9+.-]*://"


def robots_sitemaps(docs: DataFrame) -> DataFrame:
    """Extract ``Sitemap:`` directives from raw robots.txt documents —
    the discovery hand-off from the politeness gate to the sitemap
    front door (``text.parse_sitemap`` / ``parse_sitemap_index``).

    Per RFC 9309 §2.3 sitemap lines are *other records*: they bind to
    the whole document, not to any User-agent group, so extraction
    ignores grouping entirely — a ``Sitemap:`` inside a group and one
    before the first group are equally valid. The directive name is
    case-insensitive; inline comments strip like any robots line; the
    value must be an absolute URL (relative values drop). Discovered
    URLs are canonicalized with ``text.normalize_url`` and deduped per
    host, so scheme/host case noise and trailing-slash twins collapse
    before the fetch queue sees them.

    Plan shape: one explode over host-sized documents + a distinct;
    nothing scales with the page corpus. Reference has no crawl tier;
    this extends jobs/raw ingestion (SURVEY §2) to crawl discovery."""
    from gcp_etl_pipeline_spark.operators.text import normalize_url

    lines = docs.select(
        F.col("host"),
        F.explode(F.split(F.col("robots_txt"), "\r?\n")).alias("__line"),
    )
    clean = F.trim(F.regexp_replace("__line", "#.*$", ""))
    kind = F.lower(F.regexp_extract(clean, ROBOTS_DIRECTIVE_RE, 1))
    value = F.trim(F.regexp_replace(clean, ROBOTS_DIRECTIVE_RE, ""))
    sm = lines.select(
        "host", kind.alias("__kind"), value.alias("__val")
    ).where(
        (F.col("__kind") == "sitemap")
        & F.col("__val").rlike(ROBOTS_SITEMAP_ABS_RE)
    )
    return sm.select(
        "host", normalize_url("__val").alias("sitemap_url")
    ).distinct()


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """BM25 top-k retrieval over an inverted index: (query_id, doc_id,
    rk, score_u, n_terms) — the ranked-lookup primitive retrieval-side
    decontamination and targeted corpus audits need.

    Determinism recipe (tfidf's, extended to a SUM): tf/df/dl/N are
    exact integers; the ONE float product per (term, doc) — Robertson
    idf ln((N+1)/(df+0.5)) times the k1/b-saturated tf — is µ-unit
    quantized BEFORE the per-(query, doc) sum, so the aggregate adds
    BIGINTs and no addition order (Spark partial aggs vs DuckDB) can
    perturb the result. Query terms are set-deduped; ties break
    (score_u DESC, doc_id ASC).

    Plan shape: one (doc, term) count shuffle builds the posting
    lists; the query-term table broadcasts onto them (posting-list
    join — only rows for matched terms survive); document-frequency
    stats are semi-joined to query terms first so the broadcast is
    query-sized, not vocabulary-sized; corpus stats are a 1-row
    broadcast cross join. Nothing collects."""
    from pyspark.sql import Window

    b = 0.75
    k1 = 1.2

    toks = docs.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    qterms = queries.select(
        F.col("query_id"), F.explode(tokens("query_text")).alias("term")
    ).distinct()
    qdf = dfreq.join(
        qterms.select("term").distinct(), "term", "left_semi"
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(qdf), "term")
        .crossJoin(F.broadcast(corpus))
    )
    idf = F.log(
        (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b)
            * F.col("dl")
            * F.col("n_docs")
            / F.col("total_len")
        )
    )
    per = scored.select(
        "query_id",
        "doc_id",
        F.round(idf * tfn * 1_000_000).cast("bigint").alias("c_u"),
    )
    agg = per.groupBy("query_id", "doc_id").agg(
        F.sum("c_u").alias("score_u"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_u"), F.asc("doc_id")
    )
    return agg.select(
        "*", F.row_number().over(w).alias("rk")
    ).where(F.col("rk") <= k)
