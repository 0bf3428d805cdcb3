"""Text-analysis operators for large-scale training-data pipelines.

All pure JVM-side column expressions (no Python UDFs) — each transform is
a narrow projection that fuses into whole-stage codegen, so cost is one
pass over the text column regardless of scale.

Operators: tokenization + token counts, language ID (stopword-hit
heuristic), quality scoring (length/punctuation/stopword/repetition
ratios), document fingerprinting (md5 of normalized text — md5 chosen over
xxhash64 so DuckDB oracles can reproduce it bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# Tiny per-language stopword marker sets for the n-gram/stopword-hit
# language heuristic. Deliberately small and disjoint.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
}


def tokens(text: Column | str) -> Column:
    """Lowercased alnum tokens (empty strings filtered)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: the language whose marker-stopword hit count
    is highest (ties broken by language code order); 'und' when no marker
    appears. One pass, no shuffle, no UDF.

    Expression shape matters here: Spark expressions are TREES, not
    DAGs, and higher-order functions get no codegen CSE, so the earlier
    per-language `when`-chain duplicated the tokenize chain once per
    reference — ~2^|langs| copies per row (this operator alone was most
    of doc_lang_mixture's 4.3s at sf0.1; this form runs it in ~0.5s).
    Now: ONE tokenize feeding ONE `aggregate` fold that increments all
    marker counters per token, then argmax via `array_max` over
    (hits, rank, code) structs — rank = reverse code order so the
    earliest code wins ties, with an 'und' sentinel ranked above all so
    all-zero rows resolve to 'und'. The whole chain is referenced
    exactly once."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    codes = sorted(LANG_MARKERS)
    n = len(codes)
    counts = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), n),
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[t.isin(*LANG_MARKERS[cd]).cast("int") for cd in codes]
            ),
            lambda a, b: a + b,
        ),
    )
    meta = F.array(
        *[
            F.struct(F.lit(n - i).alias("rank"), F.lit(cd).alias("code"))
            for i, cd in enumerate(codes)
        ]
    )
    cands = F.zip_with(
        counts,
        meta,
        lambda h, m: F.struct(
            h.alias("hits"), m["rank"].alias("rank"), m["code"].alias("code")
        ),
    )
    sentinel = F.struct(
        F.lit(0).alias("hits"),
        F.lit(n + 1).alias("rank"),
        F.lit("und").alias("code"),
    )
    # coalesce: NULL text must stay 'und' (the pre-fold form's NULL
    # comparisons fell through to the otherwise branch; the fold
    # propagates NULL) — a shared operator's NULL contract is part of
    # its semantics even when current fixtures never exercise it
    return F.coalesce(
        F.array_max(F.concat(F.array(sentinel), cands))["code"],
        F.lit("und"),
    )


def _token_stats_fn(sh_series):
    """Arrow-batched integer token statistics: (n_tok, sum_len, n_uniq).
    Tokens are [a-z0-9]+ only, so Python len == Java length exactly."""
    import pandas as _pd

    out = []
    for toks in sh_series:
        if toks is None or len(toks) == 0:
            out.append((0, 0, 0))
            continue
        out.append((len(toks), sum(len(t) for t in toks), len(set(toks))))
    return _pd.DataFrame(out, columns=["n_tok", "sum_len", "n_uniq"])


def _token_stats_udf():
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType, StructField, StructType

    return pandas_udf(
        _token_stats_fn,
        StructType(
            [
                StructField("n_tok", LongType()),
                StructField("sum_len", LongType()),
                StructField("n_uniq", LongType()),
            ]
        ),
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-scoring features: n_tokens, n_chars, avg token
    length, alpha ratio, unique-token ratio (repetition detector).

    Physical shape: ONE tokenization (JVM, locale-exact) feeding one
    Arrow batch that produces the integer counts — the earlier
    all-Catalyst form re-tokenized per derived column and interpreted
    the per-token lambdas, costing ~4x at corpus scale. Every ratio is
    still the same IEEE division of the same exact integers, computed
    in Catalyst, so outputs are bit-identical to the original form
    (and to the DuckDB oracles)."""
    stats = _token_stats_udf()
    n_chr = F.length(F.col(text_col))
    alpha = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    with_stats = df.withColumn("__ts", stats(tokens(text_col)))
    n_tok = F.col("__ts.n_tok")
    return (
        with_stats.withColumn("n_tokens", n_tok)
        .withColumn("n_chars_obs", n_chr.cast("bigint"))
        .withColumn(
            "avg_token_len",
            F.when(
                n_tok > 0,
                F.col("__ts.sum_len").cast("double") / n_tok,
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "alpha_ratio",
            F.when(n_chr > 0, alpha.cast("double") / n_chr).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "uniq_token_ratio",
            F.when(
                n_tok > 0, F.col("__ts.n_uniq").cast("double") / n_tok
            ).otherwise(F.lit(0.0)),
        )
        .drop("__ts")
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 over whitespace-normalized
    lowercase text. Used for exact dedup at scale (32-byte key vs full
    document compare)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def char_pair_merges(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """First-round BPE merge-table induction: count adjacent CHARACTER
    pairs inside token occurrences across the corpus and rank the top-k
    (count desc, pair asc — deterministic boundary). The most frequent
    pair IS byte-pair encoding's first merge; the full ranked table is
    the data a tokenizer trainer consumes each round. Distinct from
    word-level bigram_collocations: this operates within tokens, at the
    character level.

    Scale shape: tokens → per-token pair arrays via a JVM-side transform
    HOF (no Python), one pair-keyed count aggregate (map-side partial),
    top-k via sort+limit. Tokens shorter than 2 chars contribute nothing
    (guarded: Spark's sequence() would generate a DESCENDING range for
    them, not an empty one).
    """
    pairs = (
        df.select(F.explode(tokens(text_col)).alias("t"))
        .where(F.char_length("t") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, char_length(t) - 1),"
                       " i -> substring(t, i, 2))")
            ).alias("pair")
        )
    )
    ranked = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
    return ranked.withColumn("merge_rank", F.row_number().over(w).cast("bigint"))


def content_defined_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking over the token stream (the rolling-hash
    boundary trick storage dedup uses — Muthitacharoen et al.'s LBFS —
    lifted to tokens): a chunk boundary falls after every token whose
    md5 starts with nibble '0' (P = 1/16 → ~16-token expected chunks).
    Because boundaries depend only on LOCAL content, an insertion early
    in a document shifts ONE chunk instead of re-chunking everything —
    exactly why CDC beats fixed windows for incremental near-dup and
    delta storage. Emits per-doc chunk count and the largest chunk.

    All JVM higher-order functions over the token array — zero shuffle,
    zero Python; a narrow projection that fuses with the scan. Spark's
    sequence(1, n) generates a DESCENDING range when n < 1, so the
    boundary scan is guarded for 1-token docs.
    """
    bounds = (
        "CASE WHEN size(__t) >= 2 THEN "
        "filter(sequence(1, size(__t) - 1),"
        " i -> substring(md5(element_at(__t, i)), 1, 1) = '0') "
        "ELSE CAST(array() AS ARRAY<INT>) END"
    )
    return (
        df.select(F.col(id_col), tokens(text_col).alias("__t"))
        .where(F.size("__t") >= 1)
        .withColumn("__allb", F.expr(
            f"concat(array(0), {bounds}, array(size(__t)))"
        ))
        .withColumn("__sizes", F.expr(
            "transform(sequence(1, size(__allb) - 1),"
            " j -> element_at(__allb, j + 1) - element_at(__allb, j))"
        ))
        .select(
            id_col,
            F.size("__t").cast("bigint").alias("n_tokens"),
            F.size("__sizes").cast("bigint").alias("n_chunks"),
            F.array_max("__sizes").cast("bigint").alias("max_chunk_tokens"),
        )
    )


# Shared BPE building blocks — ONE definition used by both the trainer and
# the apply-side stats so a tie-break or fold change can never desynchronize
# them. Greedy left-to-right merge fold over a token's symbol
# array, referencing the broadcast pair columns x/y; NULL x/y (empty top
# pair) falls through to the append branch, i.e. a no-op merge.
_BPE_MERGE_FOLD = (
    "aggregate(syms, CAST(array() AS ARRAY<STRING>),"
    " (acc, c) -> IF(size(acc) > 0 AND element_at(acc, -1) = x"
    "                AND c = y,"
    "   concat(slice(acc, 1, size(acc) - 1), array(concat(x, y))),"
    "   concat(acc, array(c))), acc -> acc)"
)


def _bpe_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """Distinct-token symbol table weighted by occurrence count — the
    structure every BPE round operates on (cost scales with |vocab|,
    not corpus size)."""
    return (
        df.select(F.explode(tokens(text_col)).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            F.expr("filter(split(t, ''), c -> c <> '')").alias("syms"),
            "cnt",
        )
    )


def _bpe_top_pair(vocab: DataFrame) -> DataFrame:
    """The round's winning adjacent pair as a 1-row frame (x, y,
    pair_count); ties break deterministically (count desc, x asc, y asc)."""
    return (
        vocab.where(F.size("syms") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(element_at(syms, i) AS x,"
                    "             element_at(syms, i + 1) AS y))"
                )
            ).alias("p"),
            "cnt",
        )
        .groupBy("p.x", "p.y")
        .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
        .orderBy(
            F.col("pair_count").desc(), F.col("x").asc(), F.col("y").asc()
        )
        .limit(1)
    )


def _bpe_apply_top(vocab: DataFrame, top: DataFrame) -> DataFrame:
    """Apply the winning pair to every vocab row. LEFT join on TRUE, not
    a crossJoin: a round with no mergeable pair (top empty) must leave
    the vocab UNCHANGED — a cross join with an empty frame would empty
    it and silently truncate every later round."""
    return (
        vocab.join(F.broadcast(top.select("x", "y")), F.lit(True), "left")
        .select(F.expr(_BPE_MERGE_FOLD).alias("syms"), "cnt")
    )


# lineage truncation pays only once the O(rounds^2) re-unroll tax
# exceeds the per-generation block-manager round trip: at k<=3 the lazy
# unroll benched 1.31s vs 1.9s checkpointed, at k=8
# the checkpointed form is 4.8x FASTER (10.8s -> 2.3s, SCALE.md) — so
# generations are pinned only above this round count
_BPE_CHECKPOINT_MIN_ROUNDS = 3


def bpe_train_merges(
    df: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Multi-round BPE merge-table TRAINING (Sennrich et al. 2016): the
    iterated count → pick-top-pair → apply-merge → recount loop a real
    tokenizer trainer runs, not just the first round's pair table
    (``char_pair_merges``). Emits one row per round: (round, x, y,
    merged, pair_count) — the merge table in training order.

    Fully declarative, zero driver collects: each round's winning pair
    is a 1-row aggregate that CROSS-JOINS (broadcast, 1 row) onto the
    symbol table, and the merge is applied by a JVM fold over each
    token's symbol array referencing the pair columns — greedy
    left-to-right, the reference BPE semantics ('aaaa' + merge (a,a) →
    [aa, aa], never [aa, a, a]). The trainer operates on the DISTINCT
    token table weighted by occurrence count, so round cost scales with
    |vocab|, not corpus size — at 100 TB the vocab table is MBs after
    one corpus-wide count, and every subsequent round touches only it.

    Ties break deterministically (count desc, x asc, y asc). Each
    generation's vocab is ``localCheckpoint(eager=True)``-pinned:
    lineage truncation WITHOUT an InMemoryRelation leg. Measured
    same-session at sf0.1/k=8 (SCALE.md): lazy unroll 10.8s
    median (the O(rounds²) re-unroll tax), persist-per-generation 26.6s
    (A/B — InMemoryRelation blocks codegen fusion), localCheckpoint
    2.3s — 4.8x faster than lazy. The vocab table is MBs (distinct
    tokens), so the checkpointed blocks are tiny, and ContextCleaner
    frees RDD blocks on GC (unlike SQL-layer cache entries), so nothing
    leaks.
    """
    vocab = _bpe_vocab(df, text_col)
    out = None
    for r in range(1, rounds + 1):
        top = _bpe_top_pair(vocab)
        row = top.select(
            F.lit(r).cast("bigint").alias("round"),
            "x",
            "y",
            F.concat("x", "y").alias("merged"),
            "pair_count",
        )
        out = row if out is None else out.unionByName(row)
        if r < rounds:
            vocab = _bpe_apply_top(vocab, top)
            if rounds > _BPE_CHECKPOINT_MIN_ROUNDS:
                vocab = vocab.localCheckpoint(eager=True)
    return out


def bpe_apply_merges_stats(
    df: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Corpus compression achieved by APPLYING the first ``rounds`` BPE
    merges (the follow-through on ``bpe_train_merges``: train, apply,
    measure): one row with total occurrence-weighted symbol counts
    before (= characters) and after the merges, and the µ-unit
    compression ratio. The number a tokenizer-training loop watches to
    decide when more merges stop paying.

    Same zero-collect shape as the trainer — each round's winning pair
    rides a 1-row broadcast into a JVM fold over the distinct-token
    symbol table — and the same per-generation localCheckpoint lineage
    truncation (the measured 4.8x win over the lazy unroll)."""
    vocab = _bpe_vocab(df, text_col)
    before = vocab.select("syms", "cnt")
    for _r in range(1, rounds + 1):
        vocab = _bpe_apply_top(vocab, _bpe_top_pair(vocab))
        if rounds > _BPE_CHECKPOINT_MIN_ROUNDS:
            vocab = vocab.localCheckpoint(eager=True)
    agg_before = before.agg(
        F.sum(F.size("syms") * F.col("cnt")).cast("bigint").alias("chars_total")
    )
    agg_after = vocab.agg(
        F.sum(F.size("syms") * F.col("cnt")).cast("bigint")
        .alias("symbols_total")
    )
    return (
        agg_before.crossJoin(agg_after)
        .withColumn(
            "compression_u",
            F.expr("symbols_total * 1000000 div chars_total").cast("bigint"),
        )
    )


# ------------------- HTML/markup -> text extraction (the crawl front door)
#
# Every crawl-derived corpus passes through tag stripping before any
# dedup/gating; these tables are the SINGLE definition of that transform —
# operators/curation_queries.py compiles the same steps into the DuckDB
# oracle, so an edit here keeps both engines in lockstep. All steps are
# plain regex/replace column expressions (JVM whole-stage codegen; RE2-
# compatible so the oracle replays them): no backreferences, no lookaround.

HTML_STRIP_STEPS: tuple[tuple[str, str], ...] = (
    # script/style bodies go first — their CONTENT must never leak
    (r"(?is)<script\b[^>]*>.*?</script\s*>", " "),
    (r"(?is)<style\b[^>]*>.*?</style\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    # UNTERMINATED blocks (fetch truncated mid-page — routine in crawl
    # data): any opener still present after the paired strips has no
    # closer, so its body runs to end-of-document and must go with it
    (r"(?is)<script\b[^>]*>.*$", " "),
    (r"(?is)<style\b[^>]*>.*$", " "),
    (r"(?s)<!--.*$", " "),
    # block-level boundaries become newlines so paragraph structure
    # survives for downstream chunkers/dedup
    (
        r"(?i)</?(p|div|br|hr|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|table"
        r"|thead|tbody|blockquote|section|article|header|footer|nav"
        r"|aside|pre|title|form)\b[^>]*>",
        "\n",
    ),
    # every remaining tag (inline: a, b, span, ...) vanishes in place
    (r"(?s)<[^>]*>", ""),
)

# decoded AFTER tag removal so a literal &lt;div&gt; in text can never be
# re-parsed as markup; &amp; decodes LAST so "&amp;lt;" yields "&lt;".
# Unknown entities pass through untouched.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#34;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),
)

HTML_WS_STEPS: tuple[tuple[str, str], ...] = (
    (r"[ \t\r]+", " "),      # horizontal runs -> one space
    (r" ?\n ?", "\n"),       # spaces hugging a newline fold into it
    (r"\n+", "\n"),          # block-boundary runs -> one newline
    (r"^\n|\n$", ""),        # strip the (single, post-collapse) edges
)


def html_to_text(html: Column | str) -> Column:
    """Markup -> clean text: script/style/comment excision, block tags to
    newlines, inline tags dropped, common entities decoded, whitespace
    normalized. One narrow projection per document — fuses into the scan,
    shuffles nothing, needs no Python."""
    c = F.col(html) if isinstance(html, str) else html
    for pat, rep in HTML_STRIP_STEPS:
        c = F.regexp_replace(c, pat, rep)
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    for pat, rep in HTML_WS_STEPS:
        c = F.regexp_replace(c, pat, rep)
    return F.trim(c)


def extract_html_text(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Dataframe form of ``html_to_text``: (id, text) with every other
    column dropped — the shape the gate -> dedup intake chain consumes."""
    return df.select(F.col(id_col), html_to_text(html_col).alias("text"))


# --------------------------- URL normalization (crawl frontier dedup)
#
# The canonical-URL transform every crawler applies before URL-level
# dedup: scheme and host lowercased, default ports stripped (:80 for
# http, :443 for https), fragments dropped, trailing path slashes
# trimmed. Pure regexp_extract/replace — the SQL twin in
# curation_queries.py mirrors these exact patterns (RE2-compatible);
# keep the two in lockstep.

URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
URL_AUTH_RE = r"^([^/?#]*)"


def normalize_url(url: Column | str) -> Column:
    # scheme-less / relative input has no authority to normalize — the
    # generic path would mint '://' + a lowercased prefix as a fake
    # authority, silently MERGING distinct malformed frontier entries.
    # Pass such rows through untouched instead.
    #
    # The scheme leg is locate/substring, not URL_SCHEME_RE: scheme
    # chars exclude ':' and '/', so the FIRST '://' occurrence decides
    # the match exactly like the anchored regex, and the validity rlike
    # then runs over the few-char prefix only. The earlier form ran the
    # full scheme regex three times per row (rlike guard + extract +
    # replace; CASE branches get no common-subexpression elimination)
    # and benched 1.2x of this one (5x-warm A/B; equivalence
    # checked over proto-relative, embedded-'://', mailto and empty
    # adversarial forms in tests).
    c = F.col(url) if isinstance(url, str) else url
    p = F.locate("://", c)
    prefix = F.substring(c, F.lit(1), p - 1)
    # \z, not $: Java's $ matches BEFORE a trailing line terminator, so
    # 'HTTP\n' would pass as a valid scheme prefix and diverge from the
    # anchored-regex semantics (and from the RE2 oracle twins, where $
    # is end-of-text)
    valid = (p > 0) & prefix.rlike("^[A-Za-z][A-Za-z0-9+.-]*\\z")
    scheme = F.lower(prefix)
    rest = F.substring(c, p + 3, F.length(c))
    return F.when(valid, _normalize_url_abs(scheme, rest)).otherwise(c)


def _normalize_url_abs(scheme: Column, rest: Column) -> Column:
    auth = F.lower(F.regexp_extract(rest, URL_AUTH_RE, 1))
    tail = F.regexp_replace(rest, URL_AUTH_RE, "")
    auth = F.when(
        (scheme == "http"), F.regexp_replace(auth, ":80$", "")
    ).otherwise(
        F.when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    # fragment never reaches the server; the trailing-slash trim applies
    # to the PATH only — a query value ending in '/' is part of the
    # resource identity ('?to=/' != '?to=') and must survive
    tail = F.regexp_replace(tail, "#.*$", "")
    path = F.regexp_replace(F.regexp_extract(tail, r"^([^?]*)", 1), "/+$", "")
    query = F.regexp_replace(tail, r"^[^?]*", "")
    return F.concat(scheme, F.lit("://"), auth, path, query)


# ---------------- registrable-host extraction (per-host crawl budgets)
#
# The host a crawler budgets/politeness-buckets on is the REGISTRABLE
# domain, not the full hostname (a million s3 subdomains are one tenant).
# Full public-suffix-list semantics need the PSL data file; this is the
# standard two-label heuristic with the common multi-part ccTLD
# second-levels (co.uk, com.au, ...) handled: take the last two labels,
# or three when the second-to-last is a generic SLD under a 2-letter
# ccTLD. Pure array expressions — the SQL twin in curation_queries.py
# mirrors them; keep in lockstep.

MULTI_PART_SLDS = ("ac", "co", "com", "edu", "gov", "net", "org")


def url_hostname(url: Column | str) -> Column:
    """Lowercased hostname: authority minus userinfo and port — the
    per-origin key robots.txt scope uses (RFC 9309)."""
    c = F.col(url) if isinstance(url, str) else url
    rest = F.regexp_replace(c, URL_SCHEME_RE, "")
    return F.lower(
        F.regexp_replace(
            F.regexp_replace(F.regexp_extract(rest, URL_AUTH_RE, 1),
                             "^[^@]*@", ""),
            ":[0-9]*$", "",
        )
    )


def registrable_host(url: Column | str) -> Column:
    host = url_hostname(url)
    labels = F.split(host, r"\.")
    n = F.size(labels)
    sld = F.element_at(labels, -2)
    tld = F.element_at(labels, -1)
    take3 = (
        (n >= 3)
        & (F.length(tld) == 2)
        & sld.isin(*MULTI_PART_SLDS)
    )
    last3 = F.concat_ws(
        ".", F.element_at(labels, -3), sld, tld
    )
    last2 = F.concat_ws(".", sld, tld)
    return F.when(n <= 1, host).otherwise(
        F.when(take3, last3).otherwise(last2)
    )


# -------------- charset / encoding front door (runs BEFORE html_to_text)
#
# Real crawl feeds hit mis-declared encodings before they hit markup:
# CP1252 bytes re-decoded as UTF-8 (mojibake), C0/C1 control characters
# from binary-in-text fields, and U+FFFD replacement characters from a
# lossy upstream decode. These step tables are the single definition of
# the repair — operators/curation_queries.py compiles the same tuples
# into the DuckDB oracle (the html_to_text discipline). Order matters:
# mojibake pairs repair FIRST (some sequences contain C1 controls, e.g.
# the U+201D artifact ends in \x9d — stripping controls first would
# orphan the prefix), then controls and replacement characters strip.

# CP1252-decoded-as-UTF-8 artifacts: the UTF-8 bytes of the target char
# read back through CP1252. Literal replaces, longest-first so a
# three-byte artifact is never pre-empted by a two-byte prefix pair.
def _cp1252_artifact(target: str) -> str:
    """The mojibake form of ``target``: its UTF-8 bytes re-decoded as
    CP1252 (bytes CP1252 leaves undefined — 0x81/8D/8F/90/9D — survive
    as their C1 codepoints, the standard lenient-decoder behavior).
    Generated, not hand-typed: several artifacts contain C1 controls no
    editor renders faithfully."""
    out = []
    for b in target.encode("utf-8"):
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


MOJIBAKE_STEPS: tuple[tuple[str, str], ...] = tuple(
    (_cp1252_artifact(t), rep)
    for t, rep in (
        ("’", "'"),    # right single quote
        ("‘", "'"),    # left single quote
        ("“", '"'),    # left double quote
        ("”", '"'),    # right double quote (C1-tail artifact)
        ("–", "-"),    # en dash
        ("—", "-"),    # em dash
        ("…", "..."),  # ellipsis
        ("é", "é"),  # e-acute: artifact repairs to the char
        ("è", "è"),
        ("á", "á"),
        ("ó", "ó"),
        ("ñ", "ñ"),
        ("ü", "ü"),
        ("ö", "ö"),
        ("ä", "ä"),
        (" ", " "),       # nbsp artifact -> plain space
    )
)

# C0 controls except \t \n \r, the DEL char, and the C1 range -- none
# carry text; all break downstream tokenizers/regexes. \x{..} escapes
# only: the one hex-escape form Java regex and RE2 (the DuckDB oracle
# engine) share, so the pattern string is reused verbatim.
CTRL_STRIP_RE = (
    "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}-\\x{9F}]"
)
REPLACEMENT_CHAR = "�"


def replacement_char_count(text: Column | str) -> Column:
    """Count of U+FFFD replacement characters — the lossy-upstream-decode
    signal, measured BEFORE repair strips them (a gate thresholds on it)."""
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.length(c) - F.length(F.replace(c, F.lit(REPLACEMENT_CHAR), F.lit("")))
    ).cast("bigint")


def control_char_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.length(c) - F.length(F.regexp_replace(c, CTRL_STRIP_RE, ""))
    ).cast("bigint")


def repair_encoding(text: Column | str) -> Column:
    """Mojibake repair + control/replacement-char strip: one narrow
    projection (literal replaces then one character-class regex), fuses
    into the scan, no Python, no shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    for bad, good in MOJIBAKE_STEPS:
        c = F.replace(c, F.lit(bad), F.lit(good))
    c = F.regexp_replace(c, CTRL_STRIP_RE, "")
    return F.replace(c, F.lit(REPLACEMENT_CHAR), F.lit(""))


# ----------------- main-content extraction (readability-style, per page)
#
# The page-level complement to corpus-level line_boilerplate_removal:
# over the newline-preserving extraction (html_to_text keeps block
# boundaries as '\n'), pick the DENSEST text block — the readability
# heuristic's core, with density = letter count (chrome lines are short
# and symbol-heavy; body prose is letter-dense). Expression-only (one
# transform + one aggregate fold over the line array, zero shuffle,
# zero Python) so the DuckDB oracle replays it exactly.

_MAIN_BLOCK_FOLD = (
    "aggregate("
    " transform({lines}, (l, i) -> struct("
    "   CAST(length(regexp_replace(l, '[^A-Za-z]', '')) AS BIGINT)"
    "     AS sc, CAST(i AS BIGINT) AS idx, l AS line)),"
    " struct(CAST(-1 AS BIGINT) AS sc, CAST(-1 AS BIGINT) AS idx,"
    "        CAST('' AS STRING) AS line),"
    " (acc, x) -> IF(x.sc > acc.sc, x, acc))"
)


def main_content_block(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_blocks, block_idx, block_score, main_text): the densest
    newline-delimited block per document, ties to the FIRST such block
    (strict > in the fold). Documents whose extraction is empty yield
    the empty block at idx 0 (split('') is one empty element)."""
    picked = F.expr(
        _MAIN_BLOCK_FOLD.format(lines=f"split({text_col}, chr(10))")
    )
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).cast("bigint").alias(
            "n_blocks"
        ),
        picked["idx"].alias("block_idx"),
        picked["sc"].alias("block_score"),
        picked["line"].alias("main_text"),
    )


# --------------- tracking-parameter stripping (frontier canonicalization)
#
# The second half of URL canonicalization: click-tracking query params
# (utm_*, fbclid, gclid, msclkid, ref) make the same resource look like
# millions of distinct URLs. Strip them, preserve every other param in
# original order, and drop the bare '?' when nothing survives. Composes
# AFTER normalize_url (which already dropped the fragment). One shared
# regex drives both engines (RE2-compatible).

TRACKING_PARAM_RE = "^(utm_[^=&]*|fbclid|gclid|msclkid|ref)(=|$)"


def strip_tracking_params(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    head = F.regexp_extract(c, r"^([^?]*)", 1)
    query = F.regexp_replace(c, r"^[^?]*\??", "")
    kept = F.filter(
        F.split(query, "&"),
        lambda p: ~p.rlike(TRACKING_PARAM_RE) & (p != ""),
    )
    return F.when(F.length(query) == 0, c).otherwise(
        F.concat(
            head,
            F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&")))
            .otherwise(F.lit("")),
        )
    )


# ------------------- unicode script profile (multilingual curation gate)
#
# Character-class census per document: the cheap script detector a
# multilingual pipeline runs before (or as a sanity check on) model
# language ID — a doc claiming lang='en' that is 80% CJK is mislabeled.
# Counts are exact integers (length deltas); the dominant script is an
# argmax with a fixed tie order. \x{..} ranges are the Java-regex / RE2
# common subset, so the oracle reuses the patterns verbatim.

SCRIPT_RANGES: tuple[tuple[str, str], ...] = (
    ("latin", "[A-Za-z\\x{00C0}-\\x{024F}]"),
    ("cyrillic", "[\\x{0400}-\\x{04FF}]"),
    ("greek", "[\\x{0370}-\\x{03FF}]"),
    ("arabic", "[\\x{0600}-\\x{06FF}]"),
    ("cjk", "[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}\\x{AC00}-\\x{D7AF}]"),
)


def script_counts(text: Column | str) -> list[Column]:
    c = F.col(text) if isinstance(text, str) else text
    return [
        (F.length(c) - F.length(F.regexp_replace(c, pat, "")))
        .cast("bigint")
        .alias(f"n_{name}")
        for name, pat in SCRIPT_RANGES
    ]


def dominant_script(text: Column | str) -> Column:
    """The script with the highest character count; ties break by the
    SCRIPT_RANGES order (latin first); 'none' when no script char
    appears. Same strictly-greater fold as lang_id."""
    best = None
    for name, pat in SCRIPT_RANGES:
        c = F.col(text) if isinstance(text, str) else text
        cnt = F.length(c) - F.length(F.regexp_replace(c, pat, ""))
        cand = F.struct(cnt.alias("n"), F.lit(name).alias("s"))
        best = cand if best is None else F.when(
            cand["n"] > best["n"], cand
        ).otherwise(best)
    return F.when(best["n"] > 0, best["s"]).otherwise(F.lit("none"))


# ----------------------- crawl-trap URL detection (frontier hygiene)
#
# Infinite URL spaces (calendar pages, session-id links, self-nesting
# path loops, faceted-search parameter explosions) are what actually
# kills a crawl at scale: the frontier grows without bound while unique
# content does not. These signals are the standard structural
# heuristics a fetch scheduler applies BEFORE enqueueing — all exact
# integer/boolean expressions over the URL string, no fetch needed.
# Every pattern is in the Java-regex / RE2 common subset so the DuckDB
# oracle in curation_queries.py replays them verbatim.

# a query param whose name suggests a per-visitor token, or whose value
# is a >=22-char hex blob (session ids re-mint per visit -> every link
# containing one is a unique URL forever)
SESSION_PARAM_RE = (
    "(?i)(^|&)[a-z0-9_]*(session|sid|jsessionid|phpsessid)[a-z0-9_]*="
)
HEX_TOKEN_PARAM_RE = "(^|&)[A-Za-z0-9_]+=[0-9a-fA-F]{22,}(&|$)"
# /YYYY/M(M)/D(D)/ anywhere in the path: a calendar widget's day pages
CALENDAR_PATH_RE = "/(19|20)[0-9]{2}/[0-9]{1,2}/[0-9]{1,2}(/|$)"


def url_path_query(url: Column | str) -> tuple[Column, Column]:
    """(path, query) of a URL: path starts at the first '/' after the
    authority (empty for authority-only URLs), query excludes '?' and
    any fragment."""
    c = F.col(url) if isinstance(url, str) else url
    rest = F.regexp_replace(c, URL_SCHEME_RE, "")
    tail = F.regexp_replace(rest, URL_AUTH_RE, "")
    nofrag = F.regexp_replace(tail, "#.*$", "")
    path = F.regexp_extract(nofrag, r"^([^?]*)", 1)
    query = F.regexp_replace(nofrag, r"^[^?]*\??", "")
    return path, query


def url_trap_signals(url: Column | str) -> list[Column]:
    """Structural trap signals, one projection: ``path_depth`` (count of
    non-empty path segments), ``repeated_segments`` (segments minus
    distinct segments — a path that revisits a name is self-nesting),
    ``param_count``, ``has_session_param``, ``has_calendar_path``."""
    path, query = url_path_query(url)
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    params = F.filter(F.split(query, "&"), lambda p: p != "")
    return [
        F.size(segs).cast("bigint").alias("path_depth"),
        (F.size(segs) - F.size(F.array_distinct(segs)))
        .cast("bigint")
        .alias("repeated_segments"),
        F.size(params).cast("bigint").alias("param_count"),
        (query.rlike(SESSION_PARAM_RE) | query.rlike(HEX_TOKEN_PARAM_RE))
        .alias("has_session_param"),
        path.rlike(CALENDAR_PATH_RE).alias("has_calendar_path"),
    ]


def is_crawl_trap(
    path_depth: Column,
    repeated_segments: Column,
    param_count: Column,
    has_session_param: Column,
    has_calendar_path: Column,
    *,
    max_depth: int = 8,
    max_params: int = 5,
) -> Column:
    """The enqueue verdict: structural depth/repetition bounds, session
    tokens always out, calendar paths only when also deep (a shallow
    /2024/05/17/ archive page is legitimate; five levels under it is
    the widget walking itself)."""
    return (
        (path_depth > max_depth)
        | (repeated_segments >= 2)
        | (param_count > max_params)
        | has_session_param
        | (has_calendar_path & (path_depth > 5))
    )


# --------------------- sitemap parsing (crawl discovery front door)
#
# The discovery-side twin of robots.txt: a sitemap is the site's OWN
# list of fetchworthy URLs (+ lastmod hints the recrawl scheduler
# seeds from). Tag-scoped regexes in the Java-regex / RE2 common
# subset — the DuckDB oracle replays them verbatim; XML namespaces and
# attribute noise inside <url> elements don't matter because only the
# <loc>/<lastmod> text nodes are captured.

SITEMAP_ENTRY_RE = "(?is)<url>(.*?)</url>"
SITEMAP_LOC_RE = "(?is)<loc>\\s*([^<]*?)\\s*</loc>"
SITEMAP_LASTMOD_RE = "(?is)<lastmod>\\s*([^<]*?)\\s*</lastmod>"


def parse_sitemap(
    df: DataFrame, xml_col: str = "xml", keep: list[str] | None = None
) -> DataFrame:
    """Explode a sitemap document into one row per <url> entry:
    ``entry_no`` (document order), ``loc`` (the raw URL text node),
    ``lastmod`` (raw text, '' when the entry has none). Alignment is
    structural, not positional: whole <url> elements extract first and
    loc/lastmod sub-extract PER ELEMENT, so a sitemap where only some
    entries carry <lastmod> can never misattribute a date to the wrong
    URL. Zero Python, zero shuffle: the extracts and per-element
    transforms fuse into the scan; the explode is a JVM generator."""
    keep = keep if keep is not None else [
        c for c in df.columns if c != xml_col
    ]
    entries = F.regexp_extract_all(
        xml_col, F.lit(SITEMAP_ENTRY_RE), F.lit(1)
    )
    arr = df.select(*keep, entries.alias("__entries"))
    z = arr.select(
        *keep,
        F.posexplode("__entries").alias("__no", "__e"),
    )
    return z.select(
        *keep,
        F.col("__no").cast("bigint").alias("entry_no"),
        F.regexp_extract("__e", SITEMAP_LOC_RE, 1).alias("loc"),
        F.regexp_extract("__e", SITEMAP_LASTMOD_RE, 1).alias("lastmod"),
    )


SITEMAP_INDEX_ENTRY_RE = "(?is)<sitemap>(.*?)</sitemap>"


def parse_sitemap_index(
    df: DataFrame, xml_col: str = "xml", keep: list[str] | None = None
) -> DataFrame:
    """Explode a <sitemapindex> document into one row per child
    <sitemap> element: ``child_no`` (document order), ``loc`` (the
    child sitemap URL), ``lastmod`` — the two-level discovery shape
    every large site uses (an index fans out to 50k-URL child
    sitemaps; a crawler that only reads <urlset> documents never sees
    most of the site). Same structural-alignment discipline as
    ``parse_sitemap``: whole elements extract first, sub-fields
    per element."""
    keep = keep if keep is not None else [
        c for c in df.columns if c != xml_col
    ]
    entries = F.regexp_extract_all(
        xml_col, F.lit(SITEMAP_INDEX_ENTRY_RE), F.lit(1)
    )
    z = df.select(*keep, entries.alias("__entries")).select(
        *keep,
        F.posexplode("__entries").alias("__no", "__e"),
    )
    return z.select(
        *keep,
        F.col("__no").cast("bigint").alias("child_no"),
        F.regexp_extract("__e", SITEMAP_LOC_RE, 1).alias("loc"),
        F.regexp_extract("__e", SITEMAP_LASTMOD_RE, 1).alias("lastmod"),
    )


# ------------- fetch-response triage (soft-404 and wall detection)
#
# HTTP 200 does not mean content: real crawls are full of soft-404s,
# login walls, parked domains, and captcha interstitials served with a
# success status. This is the standard marker-phrase triage a pipeline
# runs right after extraction — first matching class wins, 'empty'
# outranks everything (a 9-char page is junk whatever it says), 'ok'
# is the fallthrough. Patterns are in the Java-regex / RE2 common
# subset; the oracle replays them and the precedence verbatim.

TRIAGE_CLASSES: tuple[tuple[str, str], ...] = (
    (
        "soft404",
        "(?i)(page not found|404 error|no longer available"
        "|does not exist|been removed)",
    ),
    (
        "login_wall",
        "(?i)(log in to continue|sign in to view|subscribe to (read|continue)"
        "|create an account to)",
    ),
    (
        "parked",
        "(?i)(domain (is )?for sale|this domain (was|has been) "
        "(parked|registered)|buy this domain)",
    ),
    (
        "captcha",
        "(?i)(verify (that )?you are (a )?human|unusual traffic"
        "|complete the security check)",
    ),
)

TRIAGE_MIN_CHARS = 10


def fetch_triage(text: Column | str) -> Column:
    """Page-level verdict: 'empty' | first matching TRIAGE_CLASSES
    label | 'ok'."""
    c = F.col(text) if isinstance(text, str) else text
    verdict: Column = F.lit("ok")
    for name, pat in reversed(TRIAGE_CLASSES):
        verdict = F.when(c.rlike(pat), F.lit(name)).otherwise(verdict)
    return F.when(F.length(c) < TRIAGE_MIN_CHARS, F.lit("empty")).otherwise(
        verdict
    )


# -------------- HTTP response-envelope parsing (fetch-store front door)
#
# A crawl store's raw record is "status line + headers + blank line +
# body". These are the fields every downstream stage keys on, extracted
# with tag-disciplined regexes in the Java-regex / RE2 common subset
# (header names case-insensitive, first occurrence wins, values
# trimmed). No map types — plain columns, so the DuckDB oracle replays
# field-for-field.

HTTP_STATUS_RE = r"^HTTP/[0-9.]+ ([0-9]{3})"
# a header line: capture group 1 = value; (?m) anchors ^ per line; the
# name is interpolated per field below
_HTTP_HEADER_RE = r"(?mi)^{name}:[ \t]*([^\r\n]*)"
HTTP_BODY_RE = r"(?s)\r?\n\r?\n(.*)$"


def http_header_pattern(name: str) -> str:
    """The header-match regex for ``name`` with regex metacharacters
    escaped — HTTP token chars include '.', '+', '*', '^', '|' (e.g.
    'X.Custom'), which unescaped would mis-match or fail to compile.
    `re.escape` output (backslash-before-punctuation) is legal in Java
    regex and RE2 alike, so both engines share this one pattern."""
    import re as _re

    return _HTTP_HEADER_RE.format(name=_re.escape(name))


def http_header(raw: Column | str, name: str) -> Column:
    """First value of header ``name`` in the HEADER SECTION only (the
    pre-body prefix — a body line that looks like a header must never
    match), '' when absent."""
    c = F.col(raw) if isinstance(raw, str) else raw
    head = F.regexp_extract(c, r"(?s)^(.*?)(\r?\n\r?\n|$)", 1)
    return F.trim(
        F.regexp_extract(head, http_header_pattern(name), 1)
    )


def http_response_fields(raw: Column | str) -> list[Column]:
    """status_code (bigint, 0 when unparseable), content_type
    (lowercased, parameters stripped), charset (from the content-type
    parameter, lowercased, '' when absent), body."""
    c = F.col(raw) if isinstance(raw, str) else raw
    status = F.regexp_extract(c, HTTP_STATUS_RE, 1)
    ctype_raw = http_header(c, "Content-Type")
    return [
        F.when(status == "", F.lit(0))
        .otherwise(status.cast("bigint"))
        .cast("bigint")
        .alias("status_code"),
        F.lower(F.trim(F.regexp_extract(ctype_raw, r"^([^;]*)", 1)))
        .alias("content_type"),
        F.lower(
            F.regexp_extract(ctype_raw, r"(?i)charset=\"?([A-Za-z0-9_-]+)", 1)
        ).alias("charset"),
        F.regexp_extract(c, HTTP_BODY_RE, 1).alias("body"),
    ]


HTTP_HEAD_RE = r"(?s)^(.*?)(\r?\n\r?\n|$)"


def http_head(raw: Column | str) -> Column:
    """The envelope's header section (everything before the first blank
    line) — extract it ONCE into a column when several header fields
    will be read: each `http_header` call re-runs this full-document
    regex otherwise (expressions are trees; no CSE across references)."""
    c = F.col(raw) if isinstance(raw, str) else raw
    return F.regexp_extract(c, HTTP_HEAD_RE, 1)


def revalidation_fields(
    raw: Column | str, *, assume_head: bool = False
) -> list[Column]:
    """Conditional-refetch planning from a response envelope — the HTTP
    caching tier a recrawler runs before spending a fetch: pages that
    handed out validators are re-checked with a conditional request
    (304 costs headers, 200 costs the page), everything else is a full
    fetch. Columns: etag, last_modified (head-scoped, spoof-proof),
    action ('conditional_etag' — If-None-Match wins when both
    validators exist — | 'conditional_modified' | 'full_fetch'),
    validator (the If-None-Match / If-Modified-Since value to send),
    fresh_for_s (Cache-Control max-age seconds; 0 when absent or
    no-store — the window needing NO request at all).

    One codegen'd projection, zero shuffle; composes after
    ``http_response_fields`` in the fetch-store chain.

    Pass ``assume_head=True`` when the input is already the header
    section (``http_head`` materialized behind a barrier): the three
    field extracts each embed the full-document head regex otherwise —
    the no-CSE expression-duplication trap — so the hot path extracts
    the head once per record, not once per field reference."""
    c = F.col(raw) if isinstance(raw, str) else raw
    head = c if assume_head else http_head(c)
    etag = F.trim(F.regexp_extract(head, http_header_pattern("ETag"), 1))
    last_mod = F.trim(
        F.regexp_extract(head, http_header_pattern("Last-Modified"), 1)
    )
    cache_ctl = F.trim(
        F.regexp_extract(head, http_header_pattern("Cache-Control"), 1)
    )
    no_store = cache_ctl.rlike("(?i)no-store")
    max_age_s = F.regexp_extract(cache_ctl, r"(?i)max-age=([0-9]+)", 1)
    return [
        etag.alias("etag"),
        last_mod.alias("last_modified"),
        F.when(etag != "", F.lit("conditional_etag"))
        .when(last_mod != "", F.lit("conditional_modified"))
        .otherwise(F.lit("full_fetch"))
        .alias("action"),
        F.when(etag != "", etag).otherwise(last_mod).alias("validator"),
        F.when(no_store | (max_age_s == ""), F.lit(0))
        .otherwise(max_age_s.cast("bigint"))
        .cast("bigint")
        .alias("fresh_for_s"),
    ]


# ------------- WARC-shaped multi-record fetch-store framing
#
# Real crawl stores (WARC/WET-shaped) are CONCATENATED multi-record
# files: one stored object holds many fetch records, each framed as a
# version line + header section + blank line + Content-Length bytes of
# payload + blank-line trailer. The envelope parser above assumes one
# row = one response, so this splitter is the stage that lets the
# triage/intake tier consume real fetch stores. Framing is LENGTH-
# DRIVEN, never marker-driven: a payload may legally contain
# 'WARC/1.0' lines and 'Content-Length:' lines (an archived page ABOUT
# warc files, or an adversarial body) — splitting on markers
# mis-frames exactly there, while the Content-Length walk never looks
# inside a payload at all.

WARC_MAGIC = "WARC/1.0\r\n"
WARC_CONTENT_LENGTH_RE = r"(?mi)^Content-Length:[ \t]*([0-9]+)"


def warc_records(blob: Column | str, max_records: int = 32) -> Column:
    """Split one concatenated WARC-shaped store blob into its records:
    ``array<struct<head string, payload string>>`` where ``head`` is
    the record's WARC header section (version line included) and
    ``payload`` is exactly its Content-Length characters. Malformed
    framing (missing magic, unparseable/absent Content-Length, payload
    truncated past the blob end) stops the walk at the last valid
    record — a torn final record never yields a half-payload row.

    Shape: ONE ``aggregate`` fold over ``sequence(1, max_records)``
    carrying (rest-of-blob, records) in the accumulator — pure JVM
    expressions, no UDF, no per-record join. Each step is O(|rest|)
    (substring + one locate + one header-section regex), so a blob
    costs O(records x blob_len); fetch stores chunk at a bounded
    records-per-object count, which is what ``max_records`` encodes —
    at 100 TB the parallel unit is the blob row, and blobs never
    pair-compare or shuffle payloads. The DuckDB twin walks the same
    framing as a recursive CTE capped at the same depth.

    Content-Length here counts CHARACTERS. For BYTE-exact framing of
    arbitrary binary stores, decode the blob as ISO-8859-1 first
    (``F.decode(bin, 'ISO-8859-1')``): every byte maps losslessly to
    one char U+0000..U+00FF, so the char walk IS the byte walk, and
    ``F.encode(payload, 'ISO-8859-1')`` recovers the exact payload
    bytes — proven round-trip on non-UTF-8 bytes in
    tests/test_html_extract.py::test_warc_records_binary_roundtrip."""
    c = F.col(blob) if isinstance(blob, str) else blob
    rec_t = "array<struct<head:string,payload:string>>"
    init = F.struct(
        c.alias("rest"), F.array().cast(rec_t).alias("recs")
    )

    def step(acc: Column, _i: Column) -> Column:
        rest = acc["rest"]
        hdr_end = F.locate("\r\n\r\n", rest)
        head = F.substring(rest, F.lit(1), hdr_end - 1)
        clen_s = F.regexp_extract(head, WARC_CONTENT_LENGTH_RE, 1)
        # try_cast, not cast: under ANSI a Content-Length >= 2^31
        # (legal for a >2GiB record, or adversarial) must stop the
        # walk like every other malformed frame — the oracle twin's
        # TRY_CAST does — not fail the job. (A JVM string can't hold
        # a >2GiB payload anyway, so int is the honest width.)
        clen = F.when(clen_s != "", clen_s.try_cast("int"))
        payload = F.substring(rest, hdr_end + 4, clen)
        ok = (
            rest.startswith(WARC_MAGIC)
            & (hdr_end > 0)
            & clen.isNotNull()
            & ((hdr_end + 3 + clen) <= F.length(rest))
        )
        # +8 = the header blank line (4) + the record trailer (4)
        new_rest = F.substring(rest, hdr_end + 8 + clen, F.length(rest))
        return F.when(
            ok,
            F.struct(
                new_rest.alias("rest"),
                F.concat(
                    acc["recs"],
                    F.array(
                        F.struct(
                            head.alias("head"), payload.alias("payload")
                        )
                    ),
                ).alias("recs"),
            ),
        ).otherwise(
            F.struct(F.lit("").alias("rest"), acc["recs"].alias("recs"))
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(max_records)),
        init,
        step,
        lambda acc: acc["recs"],
    )


def warc_envelope(recs: DataFrame, rec_col: str = "rec") -> DataFrame:
    """The shared record -> envelope step of the fetch-store chain:
    for exploded WARC records (a struct<head, payload> column), emit
    ``url`` (WARC-Target-URI, head-scoped) plus the four
    ``http_response_fields`` columns. Batch twin, streaming twin, and
    any future consumer share THIS definition — a gate or extraction
    fix lands once, not per twin."""
    keep = [c for c in recs.columns if c != rec_col]
    r = F.col(rec_col)
    return recs.select(
        *keep,
        F.trim(
            F.regexp_extract(
                r["head"], http_header_pattern("WARC-Target-URI"), 1
            )
        ).alias("url"),
        *http_response_fields(r["payload"]),
    )


# ------------- gzip-member compressed fetch stores (warc.gz framing)
#
# Real crawl archives are not plaintext: each record is its own gzip
# MEMBER and members are concatenated (the warc.gz convention), so a
# store can seek to one record without inflating the whole file. The
# member walk below is STREAM-driven — zlib reports where each member
# ends via ``unused_data`` after the end-of-stream marker — never
# magic-driven: DEFLATE output can contain the ``\x1f\x8b`` magic by
# chance, and a STORED-block member (compression level 0) whose payload
# itself holds literal gzip magic reproduces it verbatim mid-member, so
# scanning for magic bytes tears exactly there. A torn trailing member
# (truncated before its end-of-stream trailer) stops the walk at the
# last complete member — the same rule warc_records applies to a torn
# final record.

GZIP_MAGIC = b"\x1f\x8b"


def gzip_member(data: bytes, level: int = 6) -> bytes:
    """One deterministic gzip member. ``zlib.compressobj(wbits=31)``
    writes a fixed mtime-0 header (unlike ``gzip.compress``, whose
    default header embeds wall-clock time — nondeterministic fixtures).
    ``level=0`` emits STORED blocks: the payload bytes appear verbatim
    in the compressed stream, which the fixture uses to plant literal
    gzip magic INSIDE a member."""
    import zlib

    co = zlib.compressobj(level, zlib.DEFLATED, 31)
    return co.compress(data) + co.flush()


def gzip_members(data: bytes, max_members: int = 1024) -> list[bytes]:
    """Split a concatenated-gzip-member store and inflate each member.
    Stops at the first torn member (``eof`` never reached: truncated
    DEFLATE stream or trailer) or corrupt stream (bad CRC raises inside
    zlib) — partial members never yield partial payloads."""
    import zlib

    out: list[bytes] = []
    rest = data
    while len(out) < max_members and rest[:2] == GZIP_MAGIC:
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(rest)
        except zlib.error:
            break
        if not d.eof:
            break
        out.append(chunk)
        rest = d.unused_data
    return out


def gunzip_store(
    df: DataFrame,
    gz_col: str = "gz",
    out_col: str = "blob",
    max_members: int = 1024,
) -> DataFrame:
    """Inflate a compressed fetch store: a binary ``gz_col`` holding
    concatenated gzip members (one WARC record per member, the warc.gz
    layout) becomes ``out_col`` — the plaintext store string (members
    joined, ISO-8859-1 decoded so the char walk IS the byte walk:
    warc_records' binary-mode contract) — plus ``n_members``. All other
    columns pass through.

    Shape: Arrow-batched ``mapInPandas`` with stdlib zlib (the
    operators/codecs.py precedent) — the parallel unit stays the blob
    row, payloads never shuffle, and the output feeds the existing
    ``warc_records``/``warc_envelope`` chain unchanged. At 100 TB the
    per-task unit of work is one store object, exactly how a cluster
    inflates a crawl archive."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    keep = [f for f in df.schema.fields if f.name != gz_col]
    schema = StructType(
        [
            *keep,
            StructField(out_col, StringType()),
            StructField("n_members", IntegerType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            members = [
                gzip_members(bytes(b), max_members) for b in pdf[gz_col]
            ]
            out = pdf.drop(columns=[gz_col]).copy()
            out[out_col] = pd.Series(
                [b"".join(m).decode("ISO-8859-1") for m in members],
                index=pdf.index,
                dtype="object",
            )
            out["n_members"] = pd.Series(
                [len(m) for m in members], index=pdf.index, dtype="int32"
            )
            yield out

    return df.mapInPandas(run, schema)


def pdf_text_stage(
    df: DataFrame,
    content_col: str = "content",
    out_col: str = "pdf_text",
    err_col: str = "decode_error",
) -> DataFrame:
    """Arrow-batched PDF text extraction over a content column — the
    intake branch that stops the gate from dropping application/pdf.
    ``content_col`` may be BINARY (raw store bytes) or STRING (the WARC
    body world, ISO-8859-1 — every char is one byte, so encoding back
    recovers the exact bytes). Corrupt or out-of-scope documents become
    ``err_col`` rows instead of failing the stage (at 100 TB some PDFs
    WILL be torn) — the decode_media error-row discipline. All other
    columns pass through; parallel unit is the document row."""
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    from gcp_etl_pipeline_spark.operators.codecs import pdf_text

    is_str = {
        f.name: f.dataType.simpleString() for f in df.schema.fields
    }[content_col] == "string"
    keep = [f for f in df.schema.fields if f.name != content_col]
    schema = StructType(
        [
            *keep,
            StructField(out_col, StringType()),
            StructField(err_col, StringType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            texts: list[str | None] = []
            errs: list[str | None] = []
            for b in pdf[content_col]:
                try:
                    data = (
                        b.encode("ISO-8859-1") if is_str else bytes(b)
                    )
                    texts.append(pdf_text(data))
                    errs.append(None)
                except Exception as e:  # noqa: BLE001
                    texts.append(None)
                    errs.append(str(e)[:200])
            out = pdf.drop(columns=[content_col]).copy()
            out[out_col] = pd.Series(
                texts, index=pdf.index, dtype="object"
            )
            out[err_col] = pd.Series(errs, index=pdf.index, dtype="object")
            yield out

    return df.mapInPandas(run, schema)


# ---------------- sentence segmentation (sub-document curation unit)
#
# The unit between token and paragraph: sentence-level dedup is how
# boilerplate slogans and memorized spans are measured when paragraph
# granularity is too coarse. RE2 has no lookbehind, so the boundary
# keeps the terminator via a sentinel rewrite: protect known
# abbreviations, mark each [.!?]+ + whitespace boundary with \x00,
# split on the sentinel, restore. Both engines run the same patterns;
# only the group-reference syntax differs ($1 vs \1), which each
# engine's compiler supplies.

SENT_ABBREV_RE = "(?i)\\b(mr|mrs|ms|dr|prof|vs|etc|e\\.g|i\\.e)\\."
SENT_BOUNDARY_RE = "([.!?]+)[ \\t\\r\\n]+"


def sentences(text: Column | str) -> Column:
    """Array of trimmed, non-empty sentences in document order.

    Pre-existing NUL/SOH control bytes (common in raw crawl text before
    charset repair) are stripped first — they are the sentinel alphabet,
    so leaving them in would rewrite a literal \\x01 to '.' and split on
    a literal \\x00. The upstream `repair_encoding` step removes all C0
    controls anyway; this guard makes the operator safe standalone."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, "[\x00\x01]", "")
    protected = F.regexp_replace(c, SENT_ABBREV_RE, "$1\x01")
    marked = F.regexp_replace(protected, SENT_BOUNDARY_RE, "$1\x00")
    restored = F.regexp_replace(marked, "\x01", ".")
    return F.filter(
        F.transform(F.split(restored, "\x00"), lambda s: F.trim(s)),
        lambda s: s != "",
    )


# ------------------- HTML table extraction (structured-data harvest)
#
# Tables are the densest structured data in a crawl (specs, stats,
# schedules) and LLM-training pipelines harvest them separately from
# running text. Tag-scoped lazy regexes in the Java-regex / RE2 common
# subset, same structural-alignment discipline as parse_sitemap: whole
# <table> elements extract first, then rows PER TABLE, then cells PER
# ROW, so ragged rows (fewer cells) and header/data mixes can never
# misalign across elements. NESTED tables are out of scope for the
# lazy frame walk (the inner </table> would close the outer frame) —
# real harvesters flatten or drop them; callers get the outermost
# frame's prefix either way, deterministically.

# the opening tag is '<name>' or '<name attrs>' — NOT '<name[^>]*>',
# which would let '<thead>' match as '<th' + 'ead' and '<track>' as
# '<tr' + 'ack' and tear the frame; <thead>/<tbody> wrappers pass
# through harmlessly because only <tr>/<td>/<th> elements are framed
HTML_TABLE_RE = "(?is)<table(?:\\s[^>]*)?>(.*?)</table>"
HTML_TR_RE = "(?is)<tr(?:\\s[^>]*)?>(.*?)</tr>"
HTML_CELL_RE = "(?is)<t[dh](?:\\s[^>]*)?>.*?</t[dh]>"
HTML_CELL_INNER_RE = "(?is)<t[dh](?:\\s[^>]*)?>(.*?)</t[dh]>"


def parse_html_tables(
    df: DataFrame, html_col: str = "html", keep: list[str] | None = None
) -> DataFrame:
    """Explode HTML documents into one row per table CELL:
    ``table_no`` / ``row_no`` / ``col_no`` (document order),
    ``is_header`` (the cell element is <th>), ``cell`` (inner text —
    inline markup stripped, whitespace collapsed, trimmed; '' for an
    empty cell). Three chained JVM generators, zero Python, zero
    shuffle: each posexplode consumes the previous level's element
    text, so the whole walk fuses into the scan projection."""
    keep = keep if keep is not None else [
        c for c in df.columns if c != html_col
    ]
    tables = df.select(
        *keep,
        F.posexplode(
            F.regexp_extract_all(html_col, F.lit(HTML_TABLE_RE), F.lit(1))
        ).alias("__tno", "__t"),
    )
    rows = tables.select(
        *keep,
        "__tno",
        F.posexplode(
            F.regexp_extract_all("__t", F.lit(HTML_TR_RE), F.lit(1))
        ).alias("__rno", "__r"),
    )
    cells = rows.select(
        *keep,
        "__tno",
        "__rno",
        F.posexplode(
            F.regexp_extract_all("__r", F.lit(HTML_CELL_RE), F.lit(0))
        ).alias("__cno", "__c"),
    )
    inner = F.regexp_extract("__c", HTML_CELL_INNER_RE, 1)
    text = F.trim(
        F.regexp_replace(
            F.regexp_replace(inner, "<[^>]*>", ""), "\\s+", " "
        )
    )
    return cells.select(
        *keep,
        F.col("__tno").cast("bigint").alias("table_no"),
        F.col("__rno").cast("bigint").alias("row_no"),
        F.col("__cno").cast("bigint").alias("col_no"),
        (F.lower(F.substring("__c", 1, 3)) == "<th").alias("is_header"),
        text.alias("cell"),
    )


# ---------------------------------------------------------------- feeds
# RSS 2.0 / Atom discovery feeds — the other standing discovery channel
# next to sitemaps. Same structural discipline as parse_sitemap: whole
# <item>/<entry> elements extract first, fields sub-extract PER
# ELEMENT, so ragged feeds (items without dates, entries without hrefs)
# can never misalign. CDATA sections are out of scope (text nodes and
# the Atom href attribute only).

FEED_RSS_DOC_RE = "(?is)<rss[\\s>]"
FEED_RSS_ITEM_RE = "(?is)<item>(.*?)</item>"
FEED_ATOM_ENTRY_RE = "(?is)<entry>(.*?)</entry>"
FEED_RSS_LINK_RE = "(?is)<link>\\s*([^<]*?)\\s*</link>"
FEED_RSS_PUBDATE_RE = "(?is)<pubdate>\\s*([^<]*?)\\s*</pubdate>"
FEED_ATOM_HREF_RE = "(?is)<link[^>]*href=\"([^\"]*)\""
FEED_ATOM_UPDATED_RE = "(?is)<updated>\\s*([^<]*?)\\s*</updated>"


def parse_feed(
    df: DataFrame, xml_col: str = "xml", keep: list[str] | None = None
) -> DataFrame:
    """Explode RSS 2.0 / Atom feed documents into one row per item:
    ``entry_no`` (document order), ``kind`` ('rss' | 'atom'), ``link``
    (raw — RSS <link> text node, Atom <link href=...> attribute; ''
    when absent), ``published`` (raw RSS <pubDate> / Atom <updated>
    text, '' when absent). The document kind is sniffed from the root
    element (<rss ...> vs anything else = Atom). Zero Python, zero
    shuffle — regex extracts fuse into the scan, the explode is a JVM
    generator."""
    keep = keep if keep is not None else [
        c for c in df.columns if c != xml_col
    ]
    is_rss = F.col(xml_col).rlike(FEED_RSS_DOC_RE)
    entries = F.when(
        is_rss,
        F.regexp_extract_all(xml_col, F.lit(FEED_RSS_ITEM_RE), F.lit(1)),
    ).otherwise(
        F.regexp_extract_all(
            xml_col, F.lit(FEED_ATOM_ENTRY_RE), F.lit(1)
        )
    )
    arr = df.select(
        *keep,
        F.when(is_rss, F.lit("rss")).otherwise(F.lit("atom")).alias(
            "__kind"
        ),
        entries.alias("__entries"),
    )
    z = arr.select(
        *keep,
        "__kind",
        F.posexplode("__entries").alias("__no", "__e"),
    )
    link = F.when(
        F.col("__kind") == "rss",
        F.regexp_extract("__e", FEED_RSS_LINK_RE, 1),
    ).otherwise(F.regexp_extract("__e", FEED_ATOM_HREF_RE, 1))
    published = F.when(
        F.col("__kind") == "rss",
        F.regexp_extract("__e", FEED_RSS_PUBDATE_RE, 1),
    ).otherwise(F.regexp_extract("__e", FEED_ATOM_UPDATED_RE, 1))
    return z.select(
        *keep,
        F.col("__no").cast("bigint").alias("entry_no"),
        F.col("__kind").alias("kind"),
        link.alias("link"),
        published.alias("published"),
    )


FEED_LINK_TAG_RE = "(?is)<link\\b([^>]*)>"
# the (?:^|[^-\w]) guard (an explicit boundary class — RE2 has no
# lookbehind, so the oracle twin shares the consumed-char form) stops
# 'rel' matching inside 'data-rel', 'href' inside 'data-href' etc.
# (a data-rel="nofollow" attribute used to shadow the real rel)
_ATTR_DQ = "(?is)(?:^|[^-\\w]){name}\\s*=\\s*\"([^\"]*)\""
_ATTR_SQ = "(?is)(?:^|[^-\\w]){name}\\s*=\\s*'([^']*)'"
FEED_MIME_KIND = {
    "application/rss+xml": "rss",
    "application/atom+xml": "atom",
}


def _tag_attr(tag: Column, name: str) -> Column:
    """First value of attribute ``name`` in a tag's attribute text,
    either quote style (double-quoted tried first), '' when absent."""
    dq = F.regexp_extract(tag, _ATTR_DQ.format(name=name), 1)
    sq = F.regexp_extract(tag, _ATTR_SQ.format(name=name), 1)
    return F.when(dq != "", dq).otherwise(sq)


def feed_links(
    df: DataFrame, html_col: str = "html", keep: list[str] | None = None
) -> DataFrame:
    """RSS/Atom autodiscovery from HTML <link> elements (the HTML 4.01
    / WHATWG convention every browser and crawler honors): whole
    <link ...> tags extract first, rel/type/href sub-extract PER
    ELEMENT in either quote style and any attribute order, and a tag
    qualifies iff its rel contains the 'alternate' token (word match,
    case-folded — 'alternate home' qualifies, 'alternates' does not)
    and its type is a feed MIME type. Returns one row per discovered
    feed: ``link_no`` (document order among qualifying tags), ``kind``
    ('rss' | 'atom'), ``href`` (raw — resolution against a base URL is
    the caller's step). Zero Python, zero shuffle."""
    keep = keep if keep is not None else [
        c for c in df.columns if c != html_col
    ]
    from pyspark.sql import Window

    tags = F.regexp_extract_all(
        html_col, F.lit(FEED_LINK_TAG_RE), F.lit(1)
    )
    z = df.select(*keep, F.posexplode(tags).alias("__no", "__t"))
    rel = F.lower(_tag_attr(F.col("__t"), "rel"))
    typ = F.lower(_tag_attr(F.col("__t"), "type"))
    href = _tag_attr(F.col("__t"), "href")
    kind = F.when(
        typ == "application/rss+xml", F.lit("rss")
    ).when(typ == "application/atom+xml", F.lit("atom"))
    flt = z.where(
        kind.isNotNull() & rel.rlike("(?:^|\\s)alternate(?:$|\\s)")
    )
    w = (
        Window.partitionBy(*keep).orderBy("__no")
        if keep
        else Window.orderBy("__no")
    )
    return flt.select(
        *keep,
        (F.row_number().over(w) - 1).cast("bigint").alias("link_no"),
        kind.alias("kind"),
        href.alias("href"),
    )
