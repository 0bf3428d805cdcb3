"""Data-layout clustering: Z-order (Morton) keys for multi-column locality.

At 100 TB, scan cost is dominated by how many files a filter can skip.
Partitioning prunes on ONE column; Z-ordering interleaves the bits of
several quantized columns so that range filters on ANY of them map to a
compact key range — parquet min/max footer stats then skip most files.
(The reference has no layout optimizer; its curated writes are unsorted
overwrites, `...sales_fact_01.py:170`. Same idea as Delta OPTIMIZE
ZORDER BY, built here from plain Spark primitives.)

The key is exact integer math (quantize -> interleave via shifts), so it
is reproducible cross-engine and differential-testable. The module also
holds the small-file compaction pass (``compact_small_files``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_BITS = 16


def quantize(col: Column, lo: float, hi: float, bits: int = DEFAULT_BITS) -> Column:
    """Map a numeric column onto the [0, 2^bits) integer grid.

    FLOOR of one IEEE division — deterministic; values at ``hi`` clamp to
    the top cell.
    """
    cells = 1 << bits
    scaled = F.floor(
        (col.cast("double") - F.lit(float(lo)))
        / F.lit((float(hi) - float(lo)) / cells)
    ).cast("bigint")
    return F.least(F.greatest(scaled, F.lit(0)), F.lit(cells - 1))


def zorder_key(cols: Sequence[Column], bits: int = DEFAULT_BITS) -> Column:
    """Interleave the low ``bits`` bits of already-quantized columns.

    Bit i of column j lands at position i*len(cols)+j — the Morton curve.
    Pure shift/mask arithmetic: stays in whole-stage codegen.
    """
    n = len(cols)
    key = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        for i in range(bits):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * n + j))
    return key


def compact_small_files(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    recursive: bool = False,
) -> tuple[int, int]:
    """Lakehouse maintenance: rewrite a parquet path into ~target-sized
    files (the OPTIMIZE/compaction job every streaming or incremental
    sink eventually needs — micro-batch appends and per-key inserts leave
    thousands of KB-sized files whose open/footer cost dominates scans at
    scale).

    Sizing comes from the Hadoop FileSystem API (works unchanged on
    HDFS/GCS/S3 once the FS jar is present), the rewrite is one
    repartition. Staged-then-swapped like operators/upsert.py (a path can't be
    overwritten while being read). Returns (files_before, files_after).

    ``recursive=True`` compacts a tree with subdirectories (e.g. a
    ledger's ``attempt=`` partitions) into FLAT files: the read uses
    ``recursiveFileLookup``, which deliberately disables partition
    inference, so directory names never leak in as data columns.
    """
    import math

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(jpath).getLength()
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))

    def _count_data_files(p) -> int:
        # metadata-only listing — never a table scan just to count files
        if recursive:
            it, n = fs.listFiles(p, True), 0
            while it.hasNext():
                n += it.next().getPath().getName().startswith("part-")
            return n
        return sum(
            1
            for st in fs.listStatus(p)
            if st.isFile() and st.getPath().getName().startswith("part-")
        )

    def _data_file_names(p) -> set[str]:
        # full relative paths, not just counts: detects a concurrent
        # writer landing files between the read and the swap
        out = set()
        it = fs.listFiles(p, True)
        # fully-qualified base: listFiles returns qualified URIs
        # (file:/..., hdfs://...), so stripping an unqualified str(p)
        # would misalign — and misalign DIFFERENTLY for the live path
        # vs __pre_compact, breaking the snapshot comparison
        base = str(fs.makeQualified(p))
        while it.hasNext():
            q = str(it.next().getPath())
            if q.rsplit("/", 1)[-1].startswith("part-"):
                out.add(q[len(base):])
        return out

    files_before = _count_data_files(jpath)
    snapshot = _data_file_names(jpath)
    reader = spark.read
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    out = reader.parquet(path).repartition(n_out)
    staging = path.rstrip("/") + "__compact"
    out.write.mode("overwrite").parquet(staging)
    # rename-aside swap, not a second Spark rewrite (a read-back rewrite
    # would re-split the staged files at maxPartitionBytes, violating
    # target_file_bytes) and not
    # delete-then-rename (a crash between the two would lose the live
    # path). The old data stays intact under __pre_compact until the new
    # data is in place. FileSystem.rename is atomic-enough on HDFS/local;
    # object stores without atomic rename take the Delta/Iceberg tier.
    jstaging = jvm.org.apache.hadoop.fs.Path(staging)
    old = path.rstrip("/") + "__pre_compact"
    jold = jvm.org.apache.hadoop.fs.Path(old)
    fs.delete(jold, True)  # leftover from an earlier crashed run
    # ABORT if a concurrent writer landed files after our read: the swap
    # below replaces the live path with the STAGED rewrite, so any file
    # appended in the window would ride __pre_compact to deletion —
    # silent data loss, strictly worse than the re-accept race the
    # maintenance-window contract documents. The check is FS-agnostic
    # (works where the flock guard can't reach, e.g. object stores);
    # the staging output is discarded and the live path never touched.
    drift = _data_file_names(jpath) - snapshot
    if drift:
        fs.delete(jstaging, True)
        raise IOError(
            f"compaction of {path} aborted: {len(drift)} file(s) appeared "
            "during the rewrite (concurrent writer); live path untouched"
        )
    if not fs.rename(jpath, jold):
        raise IOError(f"rename {path} -> {old} failed")
    # SECOND drift check, after the rename-aside: a file landing between
    # the first re-list and the rename now sits under __pre_compact and
    # would be deleted with it. Re-list the renamed tree and roll back
    # if anything new appeared — this closes the silent-loss window on
    # no-flock tiers (object stores) down to the rename itself, which is
    # a metadata operation, not a data-copy window. If the rollback
    # rename fails (a writer already recreated the live path), raise
    # LOUDLY with both trees intact — nothing is deleted.
    late = _data_file_names(jold) - snapshot
    if late:
        fs.delete(jstaging, True)
        if not fs.rename(jold, jpath):
            raise IOError(
                f"compaction of {path} aborted ({len(late)} late file(s)) "
                f"and rollback rename {old} -> {path} failed; original "
                f"data is intact under {old} — merge it back manually"
            )
        raise IOError(
            f"compaction of {path} aborted: {len(late)} file(s) appeared "
            "between the drift check and the swap (concurrent writer); "
            "rolled back, live path restored"
        )
    if not fs.rename(jstaging, jpath):
        fs.rename(jold, jpath)  # roll back: live path restored
        raise IOError(f"rename {staging} -> {path} failed (rolled back)")
    fs.delete(jold, True)
    return files_before, _count_data_files(jpath)


def zorder_sql_expr(
    quantized_exprs: Sequence[str], bits: int, shiftl, shiftr
) -> str:
    """The same Morton key as ``zorder_key``, rendered as SQL text.

    ``shiftl(expr, n)`` / ``shiftr(expr, n)`` format one shift in the
    target dialect (Spark ``shiftleft(x, n)``, DuckDB ``(x << n)``), so
    the differential oracle runs the bit-identical computation.
    """
    n = len(quantized_exprs)
    terms = []
    for j, e in enumerate(quantized_exprs):
        for i in range(bits):
            terms.append(shiftl(f"({shiftr(e, i)} & 1)", i * n + j))
    return " | ".join(terms)
