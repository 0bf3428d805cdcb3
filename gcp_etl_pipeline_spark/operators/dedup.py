"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:
  - Exact dedup never compares documents — it hash-groups on a 32-byte
    md5 fingerprint (one shuffle on a short key).
  - Near-dup never goes O(n²): MinHash banding (LSH) buckets candidate
    pairs so the join fans out only within buckets; SimHash uses 4-band
    pigeonhole (hamming ≤ 3 ⇒ at least one equal byte) so candidates
    co-locate by band equality. Brute-force pairing exists only inside
    the verification step over LSH candidates.
  - All hashes are md5-derived (not Spark's xxhash64/murmur) so a DuckDB
    oracle can reproduce every sketch bit-for-bit — the sketches
    themselves are differential-testable, not just the final pairs.

Reference has no dedup operators; these are the training-data-pipeline
extensions (BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators.parallel import spread
from gcp_etl_pipeline_spark.operators.text import fingerprint, tokens

HEX_HIGH = tuple("89abcdef")  # md5 nibbles whose high bit is set


class LedgerBusyError(RuntimeError):
    """A ledger increment and a compaction (or two increments) overlapped.
    The maintenance-window contract (compact BETWEEN increments, never
    concurrently) was violated by the orchestrator; the losing operation
    raises instead of silently re-accepting duplicates or — worse —
    losing an increment's files to the compaction swap."""


def _ledger_guard(store_path: str, timeout_sec: float = 60.0):
    """Exclusive ``flock`` shared by the ledger INCREMENT paths
    (``dedup_incremental`` / ``neardup_incremental``: list→anti-join→
    append) and ``compact_ledger``'s rewrite — a scheduling mistake that
    overlaps them surfaces as :class:`LedgerBusyError` instead of silent
    duplicate admission (an increment listing the store mid-swap sees an
    empty ledger) or data loss (an append landing mid-rewrite rides the
    swapped-aside directory to deletion).

    The lock file lives NEXT TO the store directory (``.<name>.ledger.
    lock``), never inside it: compaction renames the store dir aside, and
    a lock inside would ride the rename while waiters open/create a fresh
    file at the old path — two "holders". URI-schemed stores (gs://,
    s3a://...) get a no-op guard: object stores have no flock; there the
    compaction path still aborts on mid-rewrite drift
    (``layout.compact_small_files``'s snapshot check) and mutual
    exclusion is the orchestrator's documented contract."""
    import contextlib
    import os

    from gcp_etl_pipeline_spark.locks import flock_guard

    if "://" in store_path:
        return contextlib.nullcontext()

    norm = store_path.rstrip("/")
    parent, name = os.path.dirname(norm) or ".", os.path.basename(norm)
    return flock_guard(
        f"{parent}/.{name}.ledger.lock",
        timeout_sec,
        lambda: LedgerBusyError(
            f"{store_path}: another increment or compaction "
            f"holds the ledger lock (> {timeout_sec:.0f}s); "
            "compact BETWEEN increments, never concurrently"
        ),
        poll_sec=0.05,
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact-duplicate group.
    One shuffle on the md5 fingerprint; no document ever compared."""
    fp = df.withColumn("__fp", fingerprint(text_col))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, [id_col, "__fp"], "inner").drop("__fp")


def dedup_incremental(
    new_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    attempt_id: str | None = None,
) -> DataFrame:
    """Cross-run exact dedup against a persisted FINGERPRINT LEDGER — the
    at-scale pattern: a 100 TB corpus is deduped once, and every daily
    increment dedups against the ledger of 32-byte fingerprints (KB per
    million docs) instead of re-scanning the corpus.

    Semantics: within the increment, keep one representative (min id)
    per fingerprint group (``dedup_exact``); then drop every survivor
    whose fingerprint already exists in the store (anti-join on the
    fingerprint — the corpus itself is never touched). Surviving
    fingerprints are APPENDED to the store so the next increment sees
    them. First call (no store yet) dedups the increment and seeds the
    store.

    Replay: with ``attempt_id=None`` the append is NOT replay-idempotent
    — a crashed-and-retried run re-appends fingerprints and then
    anti-joins against them, losing the whole batch. Pass a stable
    ``attempt_id`` (the batch's logical identity: a date, a batch
    number) and the ledger write becomes an OVERWRITE of
    ``store/attempt=<id>/`` whose anti-join reads every ledger file
    EXCEPT that attempt's own partition — a retried batch rewrites its
    partition instead of double-appending and never anti-joins against
    its first attempt's output (the exactly-once-over-at-least-once
    recipe the foreachBatch streams in streaming/queries.py use, with
    ``attempt_id=f"b{batch_id}"``). Either mode adds one small file per increment;
    reclaim the file count with ``compact_ledger`` between increments.

    Scale shape: one shuffle on the md5 fingerprint for the in-batch
    dedup, one fingerprint-keyed anti-join against the ledger (Catalyst
    broadcasts the DAY'S new fingerprints when small, or shuffles both —
    either way only 32-byte keys move, never documents). The append is
    new-fingerprints-only, so the store grows by exactly the accepted
    rows. Returns the accepted (kept) new documents."""
    spark = new_docs.sparkSession
    batch = dedup_exact(new_docs, text_col, id_col).withColumn(
        "__fp", fingerprint(text_col)
    )
    # PIN the store read to its current part files: a directory-level
    # read re-lists on every execution, so a lazy plan re-executed after
    # the append below would see the batch's own just-written
    # fingerprints and anti-join itself to empty.
    # The list→anti-join→checkpoint→append section holds the ledger
    # guard: an overlapping compaction (or second increment) raises
    # LedgerBusyError instead of silently racing the store listing.
    # The kept frame is localCheckpoint'ed INSIDE the guard (matching
    # neardup_incremental): the returned frame must not lazily re-read
    # the pinned file list after the guard is released — a compaction
    # running in that gap deletes those exact files and fails the
    # caller's first action on the result. The checkpoint also means the
    # append below and the caller's consumption share one scan of the
    # increment instead of two.
    with ledger_increment(spark, store_path, attempt_id) as txn:
        store = txn.read()
        if store is not None:
            kept = batch.join(store.select("__fp"), "__fp", "left_anti")
        else:
            kept = batch
        kept = kept.localCheckpoint(eager=True)
        txn.write(kept.select("__fp"))
    return kept.drop("__fp")


def _ledger_files(
    store_path: str, spark, exclude_attempt: str | None = None
) -> list[str]:
    """Current parquet part files of a ledger tree (empty list if the
    ledger doesn't exist yet) — flat append files AND ``attempt=*``
    partition files, recursively. Explicit file lists pin a read to the
    pre-append state of a store the same job appends to; passing
    ``exclude_attempt`` omits that attempt's own partition so a retried
    batch never anti-joins against its first attempt's output.

    Lists through the Hadoop FileSystem API, which resolves the path the
    way the parquet read does (gs://, s3a://, hdfs://, file:// or the
    default file system); absence is checked, any other error
    propagates."""
    skip = f"/attempt={exclude_attempt}/" if exclude_attempt is not None else None
    hpath = spark._jvm.org.apache.hadoop.fs.Path(store_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out, it = [], fs.listFiles(hpath, True)  # recursive
    while it.hasNext():
        p = str(it.next().getPath())
        if p.endswith(".parquet") and (skip is None or skip not in p):
            out.append(p)
    return sorted(out)


class _LedgerTxn:
    """One guarded ledger increment — the lifecycle discipline every
    modality's ledger shares (exact-fp, near-dup-band, chunk-fp,
    perceptual-band), factored once so the next modality doesn't copy
    it a fifth time:

      - the parquet file listing is taken ONCE inside the flock and
        pinned, excluding the increment's own ``attempt=<id>`` partition
        (a retried batch never anti-joins its first attempt's output);
      - reads go through that pinned list (``read()``), so the store
        this job is about to append to can never self-read;
      - results must be ``localCheckpoint(eager=True)``-ed INSIDE the
        guard before ``write()`` (callers do this — the returned frames
        must not lazily re-read the pinned list after the guard drops:
        a compaction in that gap deletes those exact files);
      - ``write(df)`` appends flat files, or OVERWRITES the attempt
        partition when ``attempt_id`` is set (replay-idempotent
        retries).

    Use via :func:`ledger_increment`; an overlapping increment or
    compaction raises ``LedgerBusyError`` from the shared guard."""

    def __init__(self, spark, store_path: str, attempt_id: str | None):
        self._spark = spark
        self._store = store_path
        self._attempt = attempt_id
        self.files = _ledger_files(
            store_path, spark, exclude_attempt=attempt_id
        )

    def read(self) -> DataFrame | None:
        """The ledger's pre-increment state (None when empty/new)."""
        if not self.files:
            return None
        return self._spark.read.parquet(*self.files)

    def write(self, df: DataFrame) -> None:
        if self._attempt is None:
            df.write.mode("append").parquet(self._store)
        else:
            df.write.mode("overwrite").parquet(
                f"{self._store.rstrip('/')}/attempt={self._attempt}"
            )


import contextlib as _contextlib


@_contextlib.contextmanager
def ledger_increment(spark, store_path: str, attempt_id: str | None = None):
    """Guard + pinned-listing + attempt-aware-write scope for one ledger
    increment (see :class:`_LedgerTxn`)."""
    with _ledger_guard(store_path):
        yield _LedgerTxn(spark, store_path, attempt_id)


def compact_ledger(spark, store_path: str) -> tuple[int, int]:
    """Ledger maintenance: rewrite a fingerprint/band ledger into a
    bounded number of flat files. A year of daily increments is 365+
    tiny files (plus one directory per ``attempt_id``), each costing an
    open+footer read in EVERY subsequent increment's anti-join — the
    classic small-files tax, paid on the hot path.

    Reuses ``layout.compact_small_files`` with ``recursive=True``: the
    read walks ``attempt=*`` subtrees with ``recursiveFileLookup`` (no
    partition inference, so directory names never become data columns)
    and the result lands as flat top-level files via the staged-swap
    rename. Attempt partitions disappear in the rewrite — by design:
    compaction is a COMMIT of all prior attempts, so run it between
    increments, never concurrently with one (same maintenance-window
    contract as OPTIMIZE). The contract is ENFORCED, not just stated:
    compaction and the increments share an exclusive flock
    (:func:`_ledger_guard`), so an overlap raises
    :class:`LedgerBusyError`; on filesystems without flock the rewrite
    additionally re-lists the store before its swap and aborts if an
    increment's files appeared mid-compaction. After compaction a retried pre-compaction
    attempt would re-append rather than overwrite; orchestrators must
    not replay batches from before a compaction point. Returns
    (files_before, files_after)."""
    from gcp_etl_pipeline_spark.operators.layout import compact_small_files

    # same guard the increments hold: a concurrent increment makes this
    # raise LedgerBusyError instead of compacting a half-written ledger.
    # Belt-and-braces for filesystems without flock: compact_small_files
    # itself re-lists before the swap and aborts if new files appeared.
    with _ledger_guard(store_path):
        return compact_small_files(
            spark, store_path, target_file_bytes=32 * 1024 * 1024,
            recursive=True,
        )


def neardup_incremental(
    new_docs: DataFrame,
    store_path: str,
    num_hashes: int = 12,
    bands: int = 4,
    attempt_id: str | None = None,
) -> DataFrame:
    """Cross-run NEAR-dup dedup against a persisted BAND-SIGNATURE ledger
    — the fuzzy companion to ``dedup_incremental``: the ledger stores
    each accepted document's ``bands`` LSH band hashes (a few dozen
    bytes/doc), so a daily increment near-dedups against the whole
    accepted history with one band-keyed join; the corpus text is never
    re-read.

    Contract (one-pass, like ``semantic_dedup``'s — stated, not greedy):
      - in-batch: a doc is dropped iff a LOWER-id doc of the increment
        shares any LSH band with it;
      - cross-run: a surviving doc is dropped iff it shares any band
        with the ledger;
      - survivors' band rows are appended to the ledger (the dropped-id
        union is checkpointed BEFORE the append so no post-append plan
        re-reads the store — the same self-read hazard as
        ``dedup_incremental``). Same replay contract too: pass a stable
        ``attempt_id`` to make a crashed-and-retried batch overwrite its
        own ``attempt=<id>`` partition (read-excluded from its own
        anti-join) instead of double-appending; compact the growing file
        count with ``compact_ledger`` between increments.

    Band collision IS the drop criterion — the crawl-pipeline trade:
    verifying exact Jaccard against history would require storing every
    accepted document's shingle sets (ledger grows with corpus text, not
    signatures). Tune ``bands``/``num_hashes`` for the collision
    probability curve P[drop] = 1-(1-j^rows)^bands. Docs with fewer than
    3 tokens have no signature: always accepted, never ledgered.

    Scale shape: one Arrow signature pass over the increment, one
    self-join and one ledger semi-join both keyed on (band_id, h), the
    increment anti-joins on the id — documents never pair-compare, and
    only band rows ride the ledger."""
    spark = new_docs.sparkSession
    arr = shingle_arrays(new_docs)
    sig = minhash_signatures_from_arrays(arr, num_hashes=num_hashes)
    stacked = band_table(sig, num_hashes=num_hashes, bands=bands).persist()

    # in-batch rule "dropped iff a LOWER id shares a band" == "id exceeds
    # its bucket's min id in some bucket" — ONE window-min shuffle (no
    # ORDER BY, so no sort: whole-bucket min), NOT a bucket self-join: a
    # crawl batch with a B-doc boilerplate bucket emits B rows, not B^2/2
    from pyspark.sql import Window as _W

    dropped = (
        stacked.withColumn(
            "__mn", F.min("doc_id").over(_W.partitionBy("band_id", "h"))
        )
        .where(F.col("doc_id") > F.col("__mn"))
        .select("doc_id")
        .distinct()
    )
    surv = stacked.join(dropped, "doc_id", "left_anti")
    # the list→semi-join→append section holds the ledger guard (same
    # contract as dedup_incremental): overlap with a compaction raises
    with ledger_increment(spark, store_path, attempt_id) as txn:
        store = txn.read()  # pinned pre-append file list (see _LedgerTxn)
        if store is not None:
            led_dropped = (
                surv.join(
                    store.select("band_id", "h"), ["band_id", "h"], "left_semi"
                )
                .select("doc_id")
                .distinct()
            )
            dropped = dropped.unionByName(led_dropped)
        # checkpoint ONLY the dropped-id union before touching the
        # ledger: it is consumed by the caller-facing anti-join AFTER
        # the append, and a lazy led_dropped leg re-reading the store
        # would then see this batch's own band rows (the
        # dedup_incremental self-read hazard). `surv` is equivalently
        # "stacked minus ALL dropped ids" — deriving it from the cached
        # band table and the just-checkpointed ids lets the append
        # compute it in one anti-join instead of paying a second
        # window+store-read materialization (a second ledger
        # checkpoint): the write below executes INSIDE the guard,
        # its only ledger input is the checkpointed id set, and its own
        # output goes to a path the pinned listing excludes.
        dropped = dropped.localCheckpoint(eager=True)
        surv = stacked.join(dropped, "doc_id", "left_anti")
        txn.write(surv)
        stacked.unpersist()
    # anti-join on dropped ids (not semi on survivors): short/empty docs
    # have no bands, hence no survivor rows, but they are still accepted
    return new_docs.join(
        dropped.withColumnRenamed("doc_id", "__drop"),
        F.col("doc_id") == F.col("__drop"),
        "left_anti",
    )


def _shingle_batch_fn(n: int):
    def run(toks_series: _pd.Series) -> _pd.Series:
        out = []
        for toks in toks_series:
            if toks is None or len(toks) < n:
                out.append([])
                continue
            joined = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            # preserve first-occurrence order; dedup within the doc
            out.append(list(dict.fromkeys(joined)))
        return _pd.Series(out, dtype="object")

    return run


def shingle_arrays(df: DataFrame, n: int = 3) -> DataFrame:
    """Per-document DISTINCT shingle array: (id, __sh array<string>).

    Tokenization runs JVM-side (locale-exact vs the SQL oracles); the
    n-gram assembly — pure slicing/joining, no locale semantics — runs in
    an Arrow batch (the Catalyst sequence→slice→concat_ws higher-order
    chain interpreted per element was the profile's hotspot). The batch fn
    dedups within the doc, so downstream needs no distinct shuffle."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    mk = pandas_udf(_shingle_batch_fn(n), ArrayType(StringType()))
    return spread(df, "doc_id").select(F.col("doc_id"), mk(tokens("text")).alias("__sh"))


def shingle_sets(df: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle) rows.
    The exploded layout is the scalable one — set ops become joins/groupBys
    instead of per-pair array intersections. Already distinct per doc (the
    batch shingler dedups) — no shuffle here."""
    return shingle_arrays(df, n=n).select(
        F.col("doc_id"), F.explode("__sh").alias("shingle")
    )


def jaccard_pairs(shingles: DataFrame, threshold: float = 0.5) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard ≥ threshold, computed by
    shared-shingle join + per-pair common counts (never a full cross join;
    the join key is the shingle, so only docs sharing content meet).

    The sizes joins are plain joins — ``sizes`` has one row per document,
    so a broadcast hint would ship the whole corpus to every executor at
    scale; AQE still broadcasts it when it actually fits."""
    a = shingles.select(F.col("doc_id").alias("a"), "shingle")
    b = shingles.select(F.col("doc_id").alias("b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        common.join(sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _minhash_expr(k: int) -> Column:
    """Hash-k of a shingle: 16 hex chars of md5(k|shingle); min over a
    document's shingles = the k-th MinHash component."""
    return F.min(F.substring(F.md5(F.concat(F.lit(f"{k}|"), F.col("shingle"))), 1, 16))


def _minhash_batch_fn(num_hashes: int):
    def run(sh_series: _pd.Series) -> _pd.Series:
        import hashlib

        prefixes = [f"{k}|" for k in range(num_hashes)]
        sentinel = "￿"  # > every hex char
        out = []
        for shingles in sh_series:
            if shingles is None or len(shingles) == 0:
                out.append(None)
                continue
            mins = [sentinel] * num_hashes
            for s in shingles:
                for k, p in enumerate(prefixes):
                    h = hashlib.md5((p + s).encode("utf-8")).hexdigest()[:16]
                    if h < mins[k]:
                        mins[k] = h
            out.append(mins)
        return _pd.Series(out, dtype="object")

    return run


def minhash_signatures_from_arrays(
    arrays: DataFrame, num_hashes: int = 12
) -> DataFrame:
    """MinHash signatures computed per document in one Arrow batch from
    the per-doc shingle array — identical values to a groupBy over
    ``_minhash_expr`` (same md5(k|shingle) 16-hex-min; lowercase-hex
    string order == lexicographic in both engines) without the
    K-aggregate groupBy shuffle. Empty-shingle docs are dropped (groupBy parity)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    mh = pandas_udf(_minhash_batch_fn(num_hashes), ArrayType(StringType()))
    sig = arrays.where(F.size("__sh") > 0).select(
        F.col("doc_id"), mh(F.col("__sh")).alias("__mh")
    )
    return sig.select(
        F.col("doc_id"),
        *[F.col("__mh")[k].alias(f"mh{k}") for k in range(num_hashes)],
    )


def band_table(
    signatures: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Stacked LSH band table from MinHash signatures: one (id, band_id,
    h) row per band, h = md5 over the band's signature components. The
    join-able form every LSH consumer (candidate pairing, the
    incremental ledger) buckets on."""
    rows = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)])
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = signatures.select(F.col("doc_id"), *band_cols)
    return banded.select(
        F.col("doc_id"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("h"))
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select(F.col("doc_id"), F.col("bh.band_id"), F.col("bh.h"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Band the signature and bucket-join: docs sharing any band hash are
    candidates. Shuffle is on (band_id, band_hash) — the only fan-out is
    within buckets of near-identical documents."""
    stacked = band_table(signatures, num_hashes=num_hashes, bands=bands)
    a = stacked.select(F.col("doc_id").alias("a"), "band_id", "h")
    b = stacked.select(F.col("doc_id").alias("b"), "band_id", "h")
    return (
        a.join(b, ["band_id", "h"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def line_boilerplate_removal(df: DataFrame, min_df: int = 10) -> DataFrame:
    """LINE-level boilerplate excision — the nav/footer/cookie-banner
    cleaner that runs right after HTML extraction (which preserves block
    boundaries as newlines precisely so this pass has lines to work
    with): a line is boilerplate iff it appears in >= ``min_df``
    DISTINCT documents, and every occurrence is removed; surviving
    lines reassemble in order. The line-granular sibling of the
    CDC-chunk excision family (token-window chunks catch mid-paragraph
    duplication; lines catch template chrome exactly).

    Returns (id, n_lines, removed_lines, clean_text) — one row per
    input document, including documents excised to empty.

    Scale shape: lines explode JVM-side; only 32-byte line fingerprints
    shuffle (groupBy fp -> df count, then an anti-join on fp); the
    reassembly is one per-doc sort of kept (idx, line) pairs — text
    never joins text, and no corpus-wide state outlives the df count."""
    lines = df.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias(
            "__idx", "__line"
        ),
    ).withColumn("__h", F.md5("__line"))
    # persist: totals, the df count, and the kept reassembly all read it
    lines = lines.persist()
    hot = (
        lines.groupBy("__h")
        .agg(F.countDistinct("doc_id").alias("__df"))
        .where(F.col("__df") >= min_df)
        .select("__h")
    )
    kept = lines.join(hot, "__h", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__idx", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("__clean"),
    )
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    from gcp_etl_pipeline_spark.operators.similarity import _release_on_gc

    out = (
        totals.join(agg, "doc_id", "left")
        .select(
            F.col("doc_id"),
            "n_lines",
            (F.col("n_lines") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("removed_lines"),
            F.coalesce(F.col("__clean"), F.lit("")).alias("clean_text"),
        )
    )
    return _release_on_gc(out, lines)


def minhash_dedup_pairs(
    df: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    candidates → exact-Jaccard verify ≥ threshold. The per-doc shingle
    array is built once (persisted); signatures derive from it in one
    Arrow pass and the exploded verify set by a plain explode — no
    groupBy before the candidate join."""
    arr = shingle_arrays(df).persist()
    sh = arr.select(F.col("doc_id"), F.explode("__sh").alias("shingle"))
    # sketches feed self-joins: persist or every join side recomputes them
    sig = minhash_signatures_from_arrays(arr, num_hashes=num_hashes).persist()
    cand = lsh_candidate_pairs(sig, num_hashes=num_hashes, bands=bands)
    # verify candidates only: join candidate pairs back to shingle sets
    a_sh = sh.select(F.col("doc_id").alias("a"), "shingle")
    b_sh = sh.select(F.col("doc_id").alias("b"), "shingle")
    common = (
        cand.join(a_sh, "a")
        .join(b_sh, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        common.join(sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


import pandas as _pd


def _simhash_batch(toks_series: _pd.Series) -> _pd.Series:
    """SimHash a batch of distinct-token lists: bit i of a token's vote is
    the high bit of md5 hex digit i; document bit i set iff the ±1 vote
    sum is ≥ 0 (⟺ 2·high_count ≥ n_tokens). Exact md5-derived semantics —
    the DuckDB oracle reproduces every bit.

    Tokens repeat across the documents of a batch (natural-language
    vocabularies are Zipfian), so each unique token is hashed ONCE and
    per-document vote sums are numpy gathers over the vocabulary matrix —
    ~3-5x over hashing per occurrence."""
    import hashlib

    import numpy as np
    import pandas as pd

    lut = np.zeros(256, dtype=np.int64)
    for ch in b"89abcdef":
        lut[ch] = 1
    shifts = np.int64(1) << np.arange(32, dtype=np.int64)

    vocab: dict[str, int] = {}
    doc_idx: list[np.ndarray] = []
    for toks in toks_series:
        doc_idx.append(
            np.fromiter(
                (vocab.setdefault(t, len(vocab)) for t in toks),
                dtype=np.int64,
                count=len(toks),
            )
        )
    votes = np.empty((len(vocab), 32), dtype=np.int64)
    for t, i in vocab.items():
        hd = hashlib.md5(t.encode("utf-8")).hexdigest()[:32]
        votes[i] = lut[np.frombuffer(hd.encode(), dtype=np.uint8)]

    out = []
    for idx in doc_idx:
        n = len(idx)
        if n == 0:
            out.append(None)
            continue
        counts = votes[idx].sum(axis=0)
        out.append(int((shifts[(2 * counts) >= n]).sum()))
    return pd.Series(out, dtype="object")


def simhash32(df: DataFrame) -> DataFrame:
    """32-bit SimHash over distinct tokens, computed per document in one
    Arrow-batched pass (no token×bit explode/shuffle — the all-SQL
    formulation of the same semantics was ~10× slower; the DuckDB oracle
    still checks it bit-for-bit because the md5 vote math is identical).
    Empty-token documents are dropped (the explode formulation's
    behavior)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    sh = pandas_udf(_simhash_batch, LongType())
    toks = F.array_distinct(tokens("text"))
    return (
        spread(df, "doc_id").select(F.col("doc_id"), toks.alias("__toks"))
        .where(F.size("__toks") > 0)
        .select("doc_id", sh(F.col("__toks")).alias("simhash"))
    )


def simhash_neardup_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ 3, found via 4-band
    pigeonhole (≤3 differing bits ⇒ at least one of 4 bytes equal), so the
    join is band-equality, never all-pairs."""
    assert max_hamming <= 3, "4-band pigeonhole only covers hamming <= 3"
    # persist: the band self-join would otherwise compute the sketch twice
    sh = simhash32(df).persist()
    bands = sh.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band_id"),
    ).withColumn(
        "band_val",
        F.expr("shiftrightunsigned(simhash, CAST(band_id * 8 AS INT))").bitwiseAND(
            F.lit(255)
        ),
    )
    a = bands.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"), "band_id", "band_val")
    b = bands.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"), "band_id", "band_val")
    # hamming filter BEFORE the distinct: bit_count is a cheap rowwise op,
    # the distinct is a shuffle — filter first and shuffle narrow rows
    # (hamming is functional on (a,b), so distinct cardinality is equal)
    return (
        a.join(b, ["band_id", "band_val"])
        .where(F.col("a") < F.col("b"))
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", F.col("hamming").cast("int").alias("hamming"))
        .distinct()
    )


def paragraph_dedup(docs: DataFrame) -> DataFrame:
    """Corpus-wide exact paragraph dedup (the C4 recipe, Raffel et al.
    2020: drop every repeated paragraph, keeping its FIRST occurrence):
    split each document on blank lines (``\\n\\n``), keep one copy of
    each distinct paragraph — the occurrence with the lowest (doc_id,
    position) — and reassemble the survivors in original order. Documents whose
    every paragraph was a repeat drop out entirely.

    Scale shape: one explode, one ranking shuffle keyed on the paragraph
    hash (md5 — the full text never rides the shuffle twice), one
    group-back by doc. All JVM-side; the reassembly sorts each doc's
    surviving (pos, paragraph) structs in-memory per doc, bounded by
    document size.
    """
    from pyspark.sql import Window

    # the separator is LITERAL (the DuckDB oracle's string_split is
    # literal too) — F.split takes a Java regex, so quote it (\Q...\E,
    # Pattern.quote's own scheme)
    quoted = "\\Q\n\n\\E"
    parts = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), F.lit(quoted))).alias(
            "pos", "para"
        ),
    ).where(F.col("para") != "")
    w = Window.partitionBy(F.md5("para")).orderBy("doc_id", "pos")
    kept = (
        parts.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
                "\n\n",
            ).alias("text")
        )
    )


def dedup_canonical(df: DataFrame, score_col: str) -> DataFrame:
    """Exact-dup grouping with CANONICAL-representative selection: instead
    of dedup_exact's keep-min-id, keep the group member with the highest
    ``score_col`` (quality score, recency, source priority...), id as the
    deterministic tie-break. Same physical shape — one shuffle on the md5
    fingerprint, max_by aggregation, no document ever compared."""
    fp = df.withColumn("__fp", fingerprint("text"))
    keep = fp.groupBy("__fp").agg(
        F.max_by(
            F.col("doc_id"), F.struct(F.col(score_col), F.col("doc_id"))
        ).alias("doc_id")
    )
    return fp.join(keep, ["doc_id", "__fp"], "inner").drop("__fp")


def crossdoc_duplication(df: DataFrame) -> DataFrame:
    """Per-document CROSS-document duplication fraction — the
    exact-substring dedup signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better") at n-token window
    granularity: a window is duplicated iff it also appears in at least
    one OTHER document. High fractions mark boilerplate/mirrored text
    that survives whole-document dedup; the standard curation gate drops
    or trims them.

    Semantics (stated, distinct-shingle basis): per document, over its
    DISTINCT n-token shingles, ``n_dup_windows`` counts those whose
    corpus document-frequency is ≥ 2; ``dup_fraction_u`` is the µ-unit
    quantized ratio. Documents with fewer than 3 tokens have no
    windows and are omitted.

    Scale shape: one (doc, shingle) explode, one shingle-keyed
    aggregation for document frequency (map-side partial before the
    exchange), one shingle-keyed join back, one per-doc aggregation —
    everything keyed on shingles or ids, documents never pair-compare.
    Known skew: a stopword-heavy shingle present in millions of docs
    concentrates the join-back's left side on one reducer; AQE's
    skew-join split handles it (the build side is one row per shingle,
    so splitting is loss-free)."""
    sh = shingle_sets(df)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("__df") >= 2).cast("long")).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows") / F.col("n_windows") * 1_000_000
            ).cast("bigint").alias("dup_fraction_u"),
        )
    )


def dedup_neardup_transitive(df: DataFrame) -> DataFrame:
    """TRANSITIVE near-dup dedup — the production composition the pair
    and cluster primitives exist for: simhash near-dup PAIRS → connected
    components (transitive closure: A~B, B~C drops C even when A and C
    never collide directly) → keep exactly the minimum-id representative
    of every cluster. Pairwise dropping alone over-keeps: a drop decided
    per colliding pair leaves chains half-deduped.

    Scale shape: the banded simhash self-join (never all-pairs) + the
    log-diameter label-propagation loop + one id-keyed semi-join back
    onto the corpus; documents are never compared, and the corpus rides
    exactly one join. Returns the kept documents with their original
    columns."""
    from gcp_etl_pipeline_spark.operators.components import (
        connected_components,
    )

    pairs = simhash_neardup_pairs(df)
    comp = connected_components(
        df.select(F.col("doc_id").alias("node")),
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")),
    )
    reps = comp.where(F.col("node") == F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return df.join(reps, "doc_id", "left_semi")


def boilerplate_ngrams(df: DataFrame, top_k: int = 20) -> DataFrame:
    """Corpus boilerplate mining: the ``top_k`` n-token shingles by
    DOCUMENT frequency, (df desc, shingle asc) tie-broken — the audit a
    curation run does before choosing crossdoc/dedup thresholds (the
    output is literally the table of headers, footers, and license
    blurbs that near-dup banding will be dominated by).

    Scale shape: one shingle explode + one shingle-keyed count with
    map-side partials (exchange bounded by shingle vocabulary), then a
    top-k over the vocabulary-sized aggregate."""
    sh = shingle_sets(df)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("shingle"))
        .limit(top_k)
    )


def source_overlap(df: DataFrame) -> DataFrame:
    """Pairwise shingle-set Jaccard between SOURCES (crawls, dumps,
    feeds) — the corpus-level overlap audit run before mixing sources
    into one training set: a near-1.0 pair means two feeds are the same
    data relabeled and their quotas double-count. Emits only overlapping
    pairs (inter ≥ 1), with exact intersection/set sizes and the µ-unit
    Jaccard (inclusion-exclusion on the union).

    Scale shape: (source, shingle) is distinct-ed shingle-keyed; the
    per-shingle pair fan-out is bounded by |sources|², and source labels
    are inherently few (tens), so the fan-out is a constant factor — for
    a HIGH-cardinality grouping (e.g. per-domain) use MinHash signatures
    per group and estimate instead. Set sizes are a tiny aggregate,
    broadcast back onto the pair table.
    """
    gs = (
        shingle_sets(df)
        .join(df.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    sizes = gs.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    a = gs.select(F.col("source").alias("src_a"), "shingle")
    b = gs.select(F.col("source").alias("src_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                     F.col("n_sh").alias("n_a"))), "src_a")
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"),
                                     F.col("n_sh").alias("n_b"))), "src_b")
        .select(
            "src_a", "src_b", "inter", "n_a", "n_b",
            F.expr("inter * 1000000 DIV (n_a + n_b - inter)").alias("jaccard_u"),
        )
    )


def shingle_novelty(df: DataFrame) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a document's distinct
    shingles not seen in any earlier document (first-occurrence = min id
    over the corpus). The diversity signal a crawl pipeline tracks over
    time — a falling novelty curve means new data is re-crawl, and the
    per-doc score doubles as a cheap near-dup prior (novelty ≈ 0 ⇒ the
    document's content already exists piecewise).

    Scale shape: exactly the crossdoc_duplication plan — one shingle-keyed
    min aggregate (map-side partial), one shingle-keyed join back, one
    per-doc aggregate; documents never pair-compare. Docs with fewer than
    n tokens have no shingles and are absent (shingle_sets contract).
    """
    sh = shingle_sets(df)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("__first"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("__first") == F.col("doc_id"), 1).otherwise(0)
            ).cast("bigint").alias("n_novel"),
        )
        .withColumn("novelty_u", F.expr("n_novel * 1000000 DIV n_shingles"))
    )


def source_minhash_overlap(df: DataFrame) -> DataFrame:
    """MinHash-estimated source-pair Jaccard — the SCALE path promised by
    source_overlap's docstring for high-cardinality groupings: one
    K-component signature per group (a K-column aggregate over the
    group's distinct shingles), then signature agreement over group
    PAIRS — the shingle-keyed pair join disappears entirely; only
    |groups|² tiny signature rows ever pair. The estimator's error
    versus the exact Jaccard is itself graded (minhash_estimate_error
    at group level): emits agree/K as the µ-unit estimate alongside the
    exact µ-unit Jaccard (0 for non-overlapping pairs) and |est−exact|.

    All md5-derived integer/hex arithmetic — bit-for-bit replayable.
    """
    num_hashes = 16
    gs = (
        shingle_sets(df)
        .join(df.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    sig = gs.groupBy("source").agg(
        *[_minhash_expr(k).alias(f"mh{k}") for k in range(num_hashes)]
    )
    a = sig.select(
        F.col("source").alias("src_a"),
        *[F.col(f"mh{k}").alias(f"a{k}") for k in range(num_hashes)],
    )
    b = sig.select(
        F.col("source").alias("src_b"),
        *[F.col(f"mh{k}").alias(f"b{k}") for k in range(num_hashes)],
    )
    agree_expr = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(num_hashes)
    )
    est = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            agree_expr.cast("bigint").alias("agree"),
            F.expr(f"CAST({1_000_000} DIV {num_hashes} AS BIGINT)").alias("__per"),
        )
        .select(
            "src_a", "src_b", "agree",
            (F.col("agree") * F.col("__per")).cast("bigint").alias("est_j_u"),
        )
    )
    exact = source_overlap(df).select(
        "src_a", "src_b", F.col("jaccard_u").alias("exact_j_u")
    )
    return (
        est.join(exact, ["src_a", "src_b"], "left")
        .withColumn("exact_j_u", F.coalesce(F.col("exact_j_u"), F.lit(0).cast("bigint")))
        .withColumn("err_u", F.expr("abs(est_j_u - exact_j_u)"))
    )


def rare_ngram_cosine_pairs(
    df: DataFrame,
    max_block_df: int = 5,
    threshold: float = 0.4,
) -> DataFrame:
    """Sparse TF-cosine near-dup: candidate pairs come from a RARE-n-gram
    inverted index (documents sharing at least one shingle that occurs in
    ≤ max_block_df documents), then each candidate pair is scored with
    the exact token-frequency cosine — integer dot product over shared
    tokens divided by the two L2 norms (one sqrt each, the _qcos float
    recipe, bit-identical cross-engine). The frequency-weighted
    complement to set-Jaccard (dedup_ngram_jaccard) and to dense
    embedding KNN: the classic blocking-then-verify shape of sparse
    similarity search.

    Scale shape: blocking is a shingle-keyed self-join restricted to
    rare shingles — per-shingle fan-out is ≤ max_block_df², a hard cap
    (the hot boilerplate shingle that wrecks all-pairs joins is excluded
    by construction, the same philosophy as minhash_dedup_pairs'
    max_df). Scoring joins the candidate list against the (doc, token,
    tf) table twice on the token key; the corpus itself never
    self-joins.
    """
    sh = shingle_sets(df)
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= max_block_df)
        .select("shingle")
    )
    rsh = sh.join(rare, "shingle")
    cand = (
        rsh.select(F.col("doc_id").alias("a"), "shingle")
        .join(rsh.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    tf = (
        df.select(F.col("doc_id"), F.explode(tokens("text")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    norms = tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("__nrm")
    )
    ta = tf.select(F.col("doc_id").alias("a"), "t", F.col("tf").alias("__tfa"))
    tb = tf.select(F.col("doc_id").alias("b"), "t", F.col("tf").alias("__tfb"))
    dots = (
        cand.join(ta, "a")
        .join(tb, ["b", "t"])
        .groupBy("a", "b")
        .agg(F.sum(F.col("__tfa") * F.col("__tfb")).alias("__dot"))
    )
    return (
        dots.join(norms.select(F.col("doc_id").alias("a"),
                               F.col("__nrm").alias("__na")), "a")
        .join(norms.select(F.col("doc_id").alias("b"),
                           F.col("__nrm").alias("__nb")), "b")
        .select(
            "a", "b",
            (F.col("__dot").cast("double") / (F.col("__na") * F.col("__nb")))
            .alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def _winnow_batch_fn(n: int, w: int):
    """Arrow batch body for winnowing: 48-bit md5 n-gram hashes, sliding
    w-window minima with the rightmost-minimal tie-break, per-doc
    distinct (pos, fp) selections. Pure integer/bytes work — one Python
    pass per document, vectorized across the batch."""

    def run(toks_series: _pd.Series) -> _pd.Series:
        import hashlib

        out = []
        for toks in toks_series:
            if toks is None or len(toks) < n + w - 1:
                out.append([])
                continue
            hs = [
                int(
                    hashlib.md5(
                        " ".join(toks[i:i + n]).encode("utf-8")
                    ).hexdigest()[:12],
                    16,
                )
                for i in range(len(toks) - n + 1)
            ]
            sel = set()
            for j in range(len(hs) - w + 1):
                win = hs[j:j + w]
                mn = min(win)
                pos = j + max(i for i, v in enumerate(win) if v == mn) + 1
                sel.add((pos, mn))
            out.append([{"pos": p, "fp": f} for p, f in sorted(sel)])
        return _pd.Series(out, dtype="object")

    return run


def winnowing_fingerprints(df: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every n-gram, slide a w-hash
    window, and keep the minimum of each window (rightmost position on
    ties — the standard density-reducing tie-break). Guarantees: any
    shared substring of length ≥ n+w-1 tokens yields at least one
    SHARED fingerprint, while only ~2/(w+1) of hashes are kept — the
    LOCAL fingerprinting scheme plagiarism/near-dup detection uses
    where MinHash (global, per-doc) cannot localize the match.

    Emits (doc, pos, fp) rows — distinct selected fingerprints WITH
    their positions, so matches are alignable. Documents with fewer
    than n+w-1 tokens produce no windows and are absent.

    Tokenization stays JVM-side (locale-exact vs the SQL oracle); the
    hash + sliding-min + tie-break runs in ONE Arrow batch per doc — the
    shingle_arrays precedent: an all-Catalyst HOF version was ~25×
    slower because projection collapse re-inlines the hash-array
    expression into every per-window element access (each window min
    re-derived the md5 transform of the WHOLE array). Zero shuffle
    until the caller aggregates/joins fingerprints.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    n = 3
    window = 4

    sel_udf = pandas_udf(
        _winnow_batch_fn(n, window),
        ArrayType(StructType([
            StructField("pos", LongType()),
            StructField("fp", LongType()),
        ])),
    )
    return (
        df.select(F.col("doc_id"), tokens("text").alias("__t"))
        .where(F.size("__t") >= n + window - 1)
        .select(F.col("doc_id"), F.explode(sel_udf(F.col("__t"))).alias("__s"))
        .select(
            "doc_id",
            F.col("__s.pos").alias("pos"),
            F.col("__s.fp").alias("fp"),
        )
    )


def winnow_match_spans(df: DataFrame, max_fp_df: int | None = None) -> DataFrame:
    """Aligned match detection over winnowing fingerprints — what MOSS
    actually reports: document pairs sharing ≥ 2 selected
    fingerprints, with the positional EXTENT of the match on each side
    (min/max fingerprint position). Because winnowing guarantees a
    shared fingerprint for every ≥ n+w−1-token overlap, span extents
    localize WHERE the copied region sits — the signal Jaccard/MinHash
    (set-level) cannot give.

    Scale shape: one fp-keyed equi-join of the (doc, pos, fp) table with
    itself — fingerprints are ~2/(w+1) of hashes, so the join input is
    already winnowed; one pair-keyed aggregate ends the plan.

    ``max_fp_df`` is the hot-key guard every pair-generating operator
    here carries (minhash_dedup_pairs' max_df discipline): a BOILERPLATE
    fingerprint — a license header, a nav bar — selected in d documents
    fans the self-join out d² on that one key. With the cap, any
    fingerprint appearing in more than max_fp_df distinct documents is
    dropped BEFORE the join (one fp-keyed distinct-count + anti-join,
    moving 8-byte keys only), bounding per-key fan-out at max_fp_df²
    and, at 100 TB, turning an adversarial quadratic blowup into a
    tunable recall knob. None (default) preserves exact MOSS semantics.
    """
    fps = winnowing_fingerprints(df)
    if max_fp_df is not None:
        # the fp table now feeds THREE legs (df-count, anti-join probe,
        # and the self-join) whose exchanges differ — persist it so the
        # Arrow winnowing pass runs once, released when the result is
        # GC'd (the sketch-self-join discipline)
        fps = fps.persist()
        pinned_fps = fps
        hot = (
            fps.groupBy("fp")
            .agg(F.countDistinct("doc_id").alias("__df"))
            .where(F.col("__df") > max_fp_df)
            .select("fp")
        )
        fps = fps.join(hot, "fp", "left_anti")
    a = fps.select(F.col("doc_id").alias("a"), F.col("pos").alias("pa"), "fp")
    b = fps.select(F.col("doc_id").alias("b"), F.col("pos").alias("pb"), "fp")
    out = (
        a.join(b, "fp")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.countDistinct("fp").cast("bigint").alias("n_shared"),
            F.min("pa").cast("bigint").alias("a_from"),
            F.max("pa").cast("bigint").alias("a_to"),
            F.min("pb").cast("bigint").alias("b_from"),
            F.max("pb").cast("bigint").alias("b_to"),
        )
        .where(F.col("n_shared") >= 2)
    )
    if max_fp_df is not None:
        from gcp_etl_pipeline_spark.operators.similarity import _release_on_gc

        return _release_on_gc(out, pinned_fps)
    return out


def source_containment(df: DataFrame) -> DataFrame:
    """Directed containment between sources: |A∩B| / |A| per ordered
    pair — the ASYMMETRIC companion to source_overlap's Jaccard. A pair
    with low Jaccard but containment(A→B) ≈ 1 means feed A is a SUBSET
    of B (a re-crawl, a filtered mirror) — the direction Jaccard hides,
    and exactly what source-quota decisions need to know. µ-unit exact
    integer division; only overlapping ordered pairs are emitted.

    Same plan shape as source_overlap (shingle-keyed distinct + bounded
    pair fan-out); emits both directions of each unordered pair.
    """
    base = source_overlap(df)
    fwd = base.select(
        F.col("src_a").alias("src_from"), F.col("src_b").alias("src_to"),
        "inter", F.col("n_a").alias("n_from"),
    )
    rev = base.select(
        F.col("src_b").alias("src_from"), F.col("src_a").alias("src_to"),
        "inter", F.col("n_b").alias("n_from"),
    )
    return fwd.union(rev).select(
        "src_from", "src_to", "inter", "n_from",
        F.expr("inter * 1000000 DIV n_from").alias("containment_u"),
    )


def dedup_substring_excise(df: DataFrame) -> DataFrame:
    """Substring-LEVEL duplicate removal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the excision their
    suffix-array pipeline performs, re-expressed over content-defined
    chunks): drop the REPEATED SPANS from otherwise-unique documents
    instead of dropping whole documents/paragraphs.

    1. chunk each document's token stream at content-defined boundaries
       (``text.content_defined_chunks``' rolling-hash rule — a boundary
       after every token whose md5 starts with nibble '0', ~16-token
       expected chunks; boundaries are LOCAL, so an insertion shifts one
       chunk, not the whole doc's chunking)
    2. fingerprint each chunk (md5 of its space-joined tokens)
    3. a chunk whose fingerprint occurs in ≥ 2 DISTINCT
       documents is boilerplate/duplication — excise every occurrence
    4. reassemble each document from its surviving chunks in order

    Emits (doc_id, n_chunks, excised_chunks, kept_tokens, clean_text).
    Deterministic md5/integer arithmetic end to end — a SQL oracle can
    replay it exactly.

    Scale shape: document TEXT never shuffles. The fingerprint stream
    (doc_id, idx, 32-char fp) is what moves: one fp-keyed aggregate
    finds hot fingerprints, one join + doc-keyed collect builds each
    doc's (small) excise index set, and the final doc-keyed join filters
    the chunk array in place with an index-aware HOF. The token/chunk
    projection is computed twice (once under the fp stream, once under
    the reassembly) — a narrow, shuffle-free recompute, deliberately
    cheaper at 100 TB than shuffling full text through a doc-keyed
    aggregate or checkpointing the chunked corpus.

    Reference parity: the reference has no substring dedup; this is part
    of the beyond-reference LLM-curation tier (SURVEY §2 extension).
    """
    base = _cdc_chunk_base(df)
    fps = _cdc_chunk_fps(base)
    hot = (
        fps.groupBy("__fp")
        .agg(F.countDistinct("doc_id").alias("__df"))
        .where(F.col("__df") >= 2)
        .select("__fp")
    )
    return _excise_assemble(base, fps, hot)


def _cdc_chunk_base(df: DataFrame) -> DataFrame:
    """(id, __ch) — per-doc array of content-defined chunk texts (the
    content_defined_chunks boundary rule; chunk text = space-joined
    tokens). Shared by the one-shot and incremental excision paths."""
    bounds = (
        "CASE WHEN size(__t) >= 2 THEN "
        "filter(sequence(1, size(__t) - 1),"
        " i -> substring(md5(element_at(__t, i)), 1, 1) = '0') "
        "ELSE CAST(array() AS ARRAY<INT>) END"
    )
    return (
        df.select(F.col("doc_id"), tokens("text").alias("__t"))
        .where(F.size("__t") >= 1)
        .withColumn(
            "__allb", F.expr(f"concat(array(0), {bounds}, array(size(__t)))")
        )
        .withColumn(
            "__ch",
            F.expr(
                "transform(sequence(1, size(__allb) - 1),"
                " j -> array_join(slice(__t, element_at(__allb, j) + 1,"
                " element_at(__allb, j + 1) - element_at(__allb, j)), ' '))"
            ),
        )
        .select("doc_id", "__ch")
    )


def _cdc_chunk_fps(base: DataFrame) -> DataFrame:
    """(id, __idx, __fp) — exploded chunk fingerprints with positions."""
    return base.select(
        F.col("doc_id"),
        F.posexplode(F.expr("transform(__ch, c -> md5(c))")).alias(
            "__idx", "__fp"
        ),
    )


def _assemble_kept(
    base: DataFrame, idx_sets: DataFrame, id_col: str, removed_alias: str
) -> DataFrame:
    """THE index-set reassembly shared by every chunk-removal operator
    (one-shot/incremental excision and the intra-doc dedup): drop the
    per-doc ``__ex`` chunk indexes from the chunk array and emit
    (id, n_chunks, <removed_alias>, kept_tokens, clean_text). A single
    definition so the removal contract can't fork between the family's
    operators (the BPE-helper lesson)."""
    return (
        base.join(idx_sets, id_col, "left")
        .withColumn(
            "__ex",
            F.coalesce("__ex", F.expr("CAST(array() AS ARRAY<INT>)")),
        )
        .withColumn(
            "__kept",
            F.expr("filter(__ch, (c, i) -> NOT array_contains(__ex, i))"),
        )
        .select(
            id_col,
            F.size("__ch").cast("bigint").alias("n_chunks"),
            F.size("__ex").cast("bigint").alias(removed_alias),
            F.expr(
                "aggregate(__kept, 0, (a, c) -> a + size(split(c, ' ')), a -> a)"
            ).cast("bigint").alias("kept_tokens"),
            F.array_join("__kept", " ").alias("clean_text"),
        )
    )


def _excise_assemble(
    base: DataFrame, fps: DataFrame, excise_fps: DataFrame
) -> DataFrame:
    """Excise every chunk whose fingerprint is in ``excise_fps`` and
    reassemble the survivors in order. Text never shuffles: the excise
    set joins the 48-byte fp stream, and only the per-doc excise INDEX
    sets come back to the chunk-array row."""
    excise = (
        fps.join(excise_fps.select("__fp"), "__fp")
        .groupBy("doc_id")
        .agg(F.collect_set("__idx").alias("__ex"))
    )
    return _assemble_kept(base, excise, "doc_id", "excised_chunks")


def substring_excise_incremental(
    new_docs: DataFrame,
    store_path: str,
    attempt_id: str | None = None,
) -> DataFrame:
    """Cross-run substring excision against a persisted CHUNK-FINGERPRINT
    ledger — ``dedup_substring_excise``'s incremental twin, in
    ``dedup_incremental``'s ledger discipline: a chunk is excised if its
    fingerprint is already in the ledger (seen in ANY prior increment)
    OR occurs in ≥ 2 distinct documents of THIS batch. The
    batch's complete distinct fingerprint set (kept AND excised — a
    chunk seen once is a duplicate when seen again later) is then
    written to the ledger: append, or an OVERWRITE of
    ``store/attempt=<id>/`` when ``attempt_id`` is given (replay-
    idempotent retries; the anti-join never reads the attempt's own
    partition). The list→excise→write section holds the shared ledger
    flock, and the result is localCheckpoint'ed inside the guard so the
    returned frame survives a later compaction of the pinned file list.

    Scale shape: the corpus increment is chunked once; only 32-byte
    chunk fingerprints hit the ledger join and the store; reassembly is
    the same index-set filter as the one-shot path."""
    spark = new_docs.sparkSession
    # persist the chunked base for the guard's duration: the excision
    # checkpoint and the ledger write below are SEPARATE actions, and
    # without the cache the second one would re-tokenize, re-chunk, and
    # re-hash the whole increment ("chunked once" is a cached claim,
    # not a plan-shape accident)
    base = _cdc_chunk_base(new_docs).persist()
    try:
        fps = _cdc_chunk_fps(base)
        hot = (
            fps.groupBy("__fp")
            .agg(F.countDistinct("doc_id").alias("__df"))
            .where(F.col("__df") >= 2)
            .select("__fp")
        )
        with ledger_increment(spark, store_path, attempt_id) as txn:
            store = txn.read()
            if store is not None:
                excise_set = hot.unionByName(store.select("__fp")).distinct()
            else:
                excise_set = hot
            out = _excise_assemble(base, fps, excise_set).localCheckpoint(eager=True)
            txn.write(fps.select("__fp").distinct())
    finally:
        base.unpersist()
    return out


def neardup_top1(df: DataFrame) -> DataFrame:
    """Each document's single NEAREST near-duplicate by MinHash-estimated
    Jaccard — the per-doc "what should I diff this against" answer a
    curation review UI needs, where the pair table
    (``minhash_dedup_pairs``) answers the corpus-level question. For
    every doc with at least one LSH candidate: the candidate with the
    highest signature agreement (ties → lowest neighbor id), with the
    agreement count and the estimated Jaccard (agree/num_hashes,
    µ-unit integer division — exact on both engines).

    Scale shape: candidates come from the banded bucket join (never
    all-pairs), agreement is a signature-only comparison (num_hashes
    small ints per pair — shingle sets never re-join), and top-1 is a
    per-doc window over the candidate fan-in. Signatures feed the
    candidate self-join AND the scoring joins, so they are persisted and
    released when the result is GC'd (the sketch-self-join discipline)."""
    from gcp_etl_pipeline_spark.operators.similarity import _release_on_gc

    num_hashes = 12

    arr = shingle_arrays(df)
    sig = minhash_signatures_from_arrays(arr, num_hashes=num_hashes).persist()
    cand = lsh_candidate_pairs(sig, num_hashes=num_hashes)
    both = cand.unionByName(
        cand.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    sa = sig.select(
        F.col("doc_id").alias("a"),
        *[F.col(f"mh{k}").alias(f"__a{k}") for k in range(num_hashes)],
    )
    sb = sig.select(
        F.col("doc_id").alias("b"),
        *[F.col(f"mh{k}").alias(f"__b{k}") for k in range(num_hashes)],
    )
    agree = sum(
        F.when(F.col(f"__a{k}") == F.col(f"__b{k}"), 1).otherwise(0)
        for k in range(num_hashes)
    ).cast("bigint")
    scored = (
        both.join(sa, "a").join(sb, "b")
        .select("a", "b", agree.alias("agree"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("a").orderBy(
        F.col("agree").desc(), F.col("b").asc()
    )
    out = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col("a").alias("doc_id"),
            F.col("b").alias("neighbor_id"),
            "agree",
            F.expr(f"agree * 1000000 div {num_hashes}")
            .cast("bigint").alias("est_j_u"),
        )
    )
    return _release_on_gc(out, sig)


def dup_cluster_histogram(df: DataFrame) -> DataFrame:
    """Histogram of exact-duplicate cluster sizes — the first corpus
    audit a dedup pass reports (how much of the corpus is singletons vs
    2-dup pairs vs thousand-copy boilerplate): md5-fingerprint groups →
    per-cluster size → per-size cluster and document counts. Two short-
    key aggregates, documents never compared or shuffled whole."""
    sizes = (
        df.withColumn("__fp", fingerprint("text"))
        .groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__sz"))
    )
    return (
        sizes.groupBy(F.col("__sz").cast("bigint").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("__sz").cast("bigint").alias("n_docs"),
        )
    )


def intradoc_chunk_dedup(df: DataFrame) -> DataFrame:
    """SELF-repetition removal WITHIN each document: repeated CDC chunks
    of a single document are excised down to their first occurrence
    (kept in order), the intra-document counterpart to the cross-corpus
    ``dedup_substring_excise`` — the cleaner that strips boilerplate a
    page repeats inside itself (navigation blocks, duplicated
    paragraphs, template stutter), which corpus-level df thresholds
    never see when the repetition is unique to one document.

    Returns (id, n_chunks, removed_chunks, kept_tokens, clean_text).

    Scale shape: the text is chunked once; duplicate detection is a
    per-(doc, fingerprint) row_number over the 48-byte fp stream — the
    window key CONTAINS the document id, so the shuffle is doc-local
    and no corpus-wide frequency state exists at all; reassembly is the
    same index-set filter as the excision family (text never joins
    text)."""
    from pyspark.sql import Window

    base = _cdc_chunk_base(df)
    fps = _cdc_chunk_fps(base)
    w = Window.partitionBy("doc_id", "__fp").orderBy("__idx")
    dup_idx = (
        fps.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .groupBy("doc_id")
        .agg(F.collect_set("__idx").alias("__ex"))
    )
    return _assemble_kept(base, dup_idx, "doc_id", "removed_chunks")


def phash_incremental(
    new_media: DataFrame,
    store_path: str,
    attempt_id: str | None = None,
) -> DataFrame:
    """Cross-run IMAGE near-dup dedup against a persisted PERCEPTUAL-
    BAND ledger — ``neardup_incremental``'s discipline applied to the
    image modality: the ledger stores each accepted image's four 16-bit
    dHash bands (8 bytes/image), so a daily crawl increment near-dedups
    against the whole accepted history with one band-keyed join; pixels
    are never re-read.

    Contract (the one-pass band-collision rule of the text twin):
      - in-batch: an image is dropped iff a LOWER-id image of the
        increment shares any band with it;
      - cross-run: a survivor is dropped iff it shares any band with
        the ledger;
      - survivors' band rows are appended (the dropped-id union is
        checkpointed BEFORE the append — the self-read hazard), or
        OVERWRITE their ``attempt=<id>`` partition for replay-idempotent
        retries;
        compact with ``compact_ledger`` between increments.
    Band collision IS the drop criterion (the crawl-pipeline trade —
    exact Hamming verification against history would need full hashes
    per candidate pair; at 4x16-bit bands the collision rule is the
    d<=? LSH guarantee of the banding). Undecodable blobs have no hash
    rows: always accepted, never ledgered (decode_media's error-row
    contract).

    Scale shape: one Arrow decode+hash pass over the increment, one
    band self-join and one ledger semi-join keyed on (band_id, h), one
    id anti-join back — images never pair-compare, and only 8-byte
    band rows ride the ledger."""
    from gcp_etl_pipeline_spark.operators.multimodal import image_dhash

    spark = new_media.sparkSession
    fh = image_dhash(new_media)
    stacked = fh.select(
        "media_id",
        F.expr("stack(4, 0, band0, 1, band1, 2, band2, 3, band3)")
        .alias("band_id", "h"),
    ).persist()

    # linear in-batch drop (the neardup_incremental window-min shape): a
    # 100k-copy logo makes one hot (band_id, h) bucket; the window min
    # passes its rows through once — never 10^10 pairs
    from pyspark.sql import Window as _W

    dropped = (
        stacked.withColumn(
            "__mn", F.min("media_id").over(_W.partitionBy("band_id", "h"))
        )
        .where(F.col("media_id") > F.col("__mn"))
        .select("media_id")
        .distinct()
    )
    surv = stacked.join(dropped, "media_id", "left_anti")
    # try/finally: a LedgerBusyError from the guard (or any failure before
    # the in-guard unpersist) must not leave the band table pinned in
    # executor storage — the substring_excise_incremental discipline
    try:
        with ledger_increment(spark, store_path, attempt_id) as txn:
            store = txn.read()
            if store is not None:
                led_dropped = (
                    surv.join(
                        store.select("band_id", "h"),
                        ["band_id", "h"],
                        "left_semi",
                    )
                    .select("media_id")
                    .distinct()
                )
                dropped = dropped.unionByName(led_dropped)
            # checkpoint only the dropped-id union; derive the survivor
            # band rows lazily from the cached band table + checkpointed
            # ids so the append pays one anti-join, not a second
            # window+store-read materialization (the neardup_incremental
            # restructure — see its in-guard comment for the reasoning)
            dropped = dropped.localCheckpoint(eager=True)
            surv = stacked.join(dropped, "media_id", "left_anti")
            txn.write(surv)
    finally:
        stacked.unpersist()
    return new_media.join(
        dropped.withColumnRenamed("media_id", "__drop"),
        F.col("media_id") == F.col("__drop"),
        "left_anti",
    )
