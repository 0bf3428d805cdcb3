"""Snapshot-versioned parquet tables: time travel, history, rollback —
the Delta-shaped capabilities (`commons/install-delta.sh:19-20`
provisions Delta on the reference's clusters) rebuilt on plain parquet
for environments without the Delta jars.

Layout:
    <path>/v=<N>/...parquet     immutable snapshot N (1-based)
    <path>/_manifest.json       {"latest": N, "versions": [{...}, ...]}

Writes land in a NEW v=N+1 directory first; the manifest flips last via
an atomic rename, so readers always see a complete snapshot (the classic
write-new-then-swap-pointer protocol). Reads pin a version directory, so
long-running queries are never torn by a concurrent writer. Rollback is
a manifest flip — O(1), no data movement; rolled-back snapshots stay on
disk until `vacuum()`.

Concurrency contract: optimistic, single-winner. A writer CLAIMS its
version number by `os.mkdir(v=N)` (EEXIST ⇒ another writer took N; retry
with the next number), and verifies at commit time that the manifest
pointer hasn't moved since it started — if it has, the commit raises
``ConcurrentWriteError`` instead of silently dropping the other writer's
snapshot. This serializes writers without locks; losers retry at the
caller's discretion. It is NOT Delta's full optimistic transaction
protocol (no conflict-class analysis, no object-store support).

Caveat (documented, not hidden): `os.replace` is atomic on POSIX
filesystems; object stores without atomic rename need the real Delta /
Iceberg commit protocol — this module is the parquet-only fallback tier
of the same seam `operators/upsert.py` uses.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's snapshot read and
    its manifest flip; the losing write's directory is left claimed (it
    will be skipped by version numbering and removed by vacuum())."""


class VersionedTable:
    _LOCK_TIMEOUT_SEC = 30.0

    def __init__(self, path: str):
        self.path = path.rstrip("/")

    # ------------------------------------------------------------ manifest

    @property
    def _manifest_path(self) -> str:
        return f"{self.path}/_manifest.json"

    def _read_manifest(self) -> dict[str, Any]:
        """The committed manifest; a missing one is a fresh table. Any
        other error (a truncated or corrupt manifest, a permission error)
        propagates: read as fresh, it would drop the table's history and
        let ``vacuum`` remove every snapshot."""
        try:
            with open(self._manifest_path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"latest": 0, "versions": []}

    def _flip_manifest(self, manifest: dict[str, Any]) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, self._manifest_path)  # atomic pointer flip

    def _commit_lock(self):
        """Exclusive ``flock`` on a persistent lock file, serializing the
        manifest read-check-flip critical sections (microseconds long: no
        data writes inside).

        flock, not an O_EXCL lock-file protocol: the kernel releases a
        flock automatically when the holder's fd closes — including on
        process crash — so staleness detection (and every stale-break
        race it drags in: rename/steal/put-back interleavings that could
        let two writers into the critical section or strand a fresh
        holder lockless) is unnecessary by construction. flock is
        per-open-file-description, so two THREADS of one process that
        each open the file separately also mutually exclude. The lock
        file itself is never unlinked — removing it would let a later
        opener lock the OLD inode while a newer opener locks a fresh
        one (the classic unlink race).

        Scope: local/NFSv4 filesystems (the tier this parquet-manifest
        table targets — see module docstring). Object stores need the
        real Delta/Iceberg commit protocol.

        The acquire/poll/release choreography itself lives in
        `locks.flock_guard` (shared with the dedup-ledger guard)."""
        from gcp_etl_pipeline_spark.locks import flock_guard

        return flock_guard(
            f"{self.path}/_manifest.lock",
            self._LOCK_TIMEOUT_SEC,
            lambda: ConcurrentWriteError(
                f"{self.path}: commit lock not acquired "
                f"within {self._LOCK_TIMEOUT_SEC:.0f}s"
            ),
        )

    # ------------------------------------------------------------ write

    def write(
        self, df: DataFrame, note: str = "", expected_latest: int | None = None
    ) -> int:
        """Materialize ``df`` as the next immutable snapshot and flip the
        pointer. Returns the new version number.

        Crash safety: the version counter skips past any torn directory a
        failed previous write left behind (on-disk ``v=`` dirs count even
        when the manifest never referenced them), and each attempt APPENDS
        into a directory it freshly claimed via mkdir — a failed job, or a
        Structured Streaming micro-batch RETRY of the same write, never
        re-targets a torn dir (mkdir EEXIST pushes it to the next number),
        so every attempt lands in its own clean snapshot dir. The row
        count is observed during the write (no second scan)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        m = self._read_manifest()
        # read-modify-write callers (upsert) pass the version their source
        # state came from, extending conflict detection back to their read
        base_latest = m["latest"] if expected_latest is None else expected_latest
        if m["latest"] != base_latest:
            raise ConcurrentWriteError(
                f"{self.path}: pointer moved {base_latest} -> {m['latest']} "
                "before write started; re-derive and retry"
            )
        os.makedirs(self.path, exist_ok=True)
        # claim a version number via mkdir — EEXIST means another writer
        # (or a torn previous attempt) holds it; take the next one
        while True:
            on_disk = [
                int(d[2:])
                for d in os.listdir(self.path)
                if d.startswith("v=") and d[2:].isdigit()
            ]
            new_v = max(
                [m["latest"], *[v["version"] for v in m["versions"]], *on_disk],
                default=0,
            ) + 1
            vdir = f"{self.path}/v={new_v}"
            try:
                os.mkdir(vdir)
                break
            except FileExistsError:
                continue
        obs = Observation()
        # append, NOT overwrite: overwrite would delete-and-recreate the
        # just-claimed vdir, transiently releasing the mkdir claim (a
        # concurrent writer listing the path in that window could claim
        # the same number and both would write into one snapshot dir).
        # The dir is freshly created and empty, so append == clean write;
        # a retry of a failed attempt never re-targets this dir (mkdir
        # EEXIST pushes it to the next number).
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "append"
        ).parquet(vdir)
        rows = int(obs.get["n"])
        # optimistic commit under the manifest lock: the fresh re-read,
        # the staleness check, and the flip form one critical section, so
        # two writers that both saw the old pointer can never both commit
        # (the check alone was a TOCTOU window: both could pass it, and
        # the second flip would erase the first writer's manifest entry)
        with self._commit_lock():
            m = self._read_manifest()
            if m["latest"] != base_latest:
                raise ConcurrentWriteError(
                    f"{self.path}: pointer moved {base_latest} -> "
                    f"{m['latest']} during write of v={new_v}; retry"
                )
            m["versions"].append(
                {"version": new_v, "rows": rows, "note": note}
            )
            m["latest"] = new_v
            self._flip_manifest(m)
        # DEFENSE IN DEPTH: with flock the critical section is airtight
        # on filesystems whose flock is real (local, NFSv4); this verify
        # guards the remaining operational hazard — a deployment whose
        # filesystem silently no-ops flock (e.g. some FUSE mounts) —
        # where the failure mode of two concurrent flips is a SILENT
        # lost commit (the second flip erases the first's entry).
        # Verify-after-flip converts that into a raised conflict. The
        # re-read happens under a FRESH lock acquisition (not after a
        # bare release): any writer that could clobber our entry must
        # itself hold the lock, so on a working flock the verify can
        # only ever observe post-commit manifests that BUILT on ours —
        # our entry surviving is the success proof, and the check is
        # not a TOCTOU (a later legitimate commit never removes
        # entries; only a concurrent stale-manifest flip does, and that
        # cannot interleave with this read while both hold the lock).
        with self._commit_lock():
            m2 = self._read_manifest()
        if all(v["version"] != new_v for v in m2["versions"]):
            raise ConcurrentWriteError(
                f"{self.path}: commit of v={new_v} was clobbered by a "
                "concurrent manifest flip; re-derive and retry"
            )
        return new_v

    def upsert(
        self,
        source: DataFrame,
        keys: list[str],
        note: str = "",
        merge_schema: bool = False,
    ) -> int:
        """Keyed merge against the latest snapshot into a NEW snapshot
        (source rows replace matched keys, append unmatched) — versioned
        twin of operators/upsert.py.

        ``merge_schema=True`` is the Delta ``mergeSchema``/autoMerge
        analogue: columns present on only one side survive the merge,
        null-filled on the other (kept target rows get NULL for a
        source-added column; source rows get NULL for a target column
        they lack). The default rejects drift: the source must carry
        every target column, and extra source columns raise."""
        latest = self.latest_version()
        if latest is None:
            return self.write(source, note=note or "initial")
        spark = source.sparkSession
        target = self.read(spark, latest)
        src_keys = source.select(*keys).distinct()
        cond = [target[k].eqNullSafe(src_keys[k]) for k in keys]
        kept = target.join(src_keys, on=cond, how="left_anti")
        if merge_schema:
            merged = kept.unionByName(source, allowMissingColumns=True)
        else:
            extra = set(source.columns) - set(target.columns)
            if extra:
                raise ValueError(
                    f"{self.path}: source adds columns {sorted(extra)}; "
                    "pass merge_schema=True to evolve the snapshot schema"
                )
            merged = kept.unionByName(source.select(*target.columns))
        return self.write(
            merged, note=note or f"upsert on {keys}", expected_latest=latest
        )

    def optimize(self, spark: SparkSession, target_files: int | None = None) -> int:
        """Delta-OPTIMIZE analogue: rewrite the CURRENT snapshot's data
        into ``target_files`` part files as a NEW version (streaming
        appends and keyed merges accumulate small files; reads pay per-
        file open cost). Time travel keeps the pre-compaction snapshots;
        ``vacuum()`` reclaims them. Defaults to the session's shuffle
        partitions. Returns the new version number."""
        latest = self.latest_version()
        if latest is None:
            raise ValueError(f"{self.path}: optimize on an empty table")
        if target_files is None:
            target_files = int(spark.conf.get("spark.sql.shuffle.partitions"))
        df = self.read(spark, latest).repartition(target_files)
        return self.write(
            df, note=f"optimize to {target_files} files",
            expected_latest=latest,
        )

    def delete(self, source: DataFrame, keys: list[str]) -> int:
        """Keyed delete (GDPR / right-to-be-forgotten shape): rows of the
        latest snapshot whose key appears in ``source`` are dropped into a
        NEW snapshot. Null-safe key match, one anti-join.

        Erasure semantics: earlier snapshots still contain the rows (time
        travel is the point of this table format) — FULL erasure is
        ``delete(...)`` followed by ``vacuum(keep_last=0)``, which removes
        every pre-delete snapshot directory."""
        latest = self.latest_version()
        if latest is None:
            raise ValueError(f"{self.path}: delete on an empty table")
        spark = source.sparkSession
        target = self.read(spark, latest)
        del_keys = source.select(*keys).distinct()
        cond = [target[k].eqNullSafe(del_keys[k]) for k in keys]
        kept = target.join(del_keys, on=cond, how="left_anti")
        return self.write(
            kept, note=f"delete on {keys}", expected_latest=latest
        )

    # ------------------------------------------------------------ read

    def latest_version(self) -> int | None:
        v = self._read_manifest()["latest"]
        return v or None

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Time travel: ``version=None`` reads the current pointer."""
        m = self._read_manifest()
        v = version if version is not None else m["latest"]
        known = {e["version"] for e in m["versions"]}
        if not v or v not in known:
            raise ValueError(f"version {v!r} not in table history {sorted(known)}")
        return spark.read.parquet(f"{self.path}/v={v}")

    def history(self) -> list[dict[str, Any]]:
        m = self._read_manifest()
        return [dict(e, is_latest=(e["version"] == m["latest"]))
                for e in m["versions"]]

    def diff(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        keys: list[str],
    ) -> DataFrame:
        """Change data feed between two snapshots: one row per changed
        key with ``change_type`` I (inserted), U (updated — any non-key
        column differs), or D (deleted). Computed as a single full-outer
        key join of the two snapshots — one shuffle on the key, value
        comparison via md5 over the canonicalized non-key columns (no
        per-column plan blow-up at wide schemas).

        Schema evolution: fingerprints cover the INTERSECTION of the two
        snapshots' non-key columns, so a column added or dropped between
        versions doesn't break the feed (Delta-CDF behavior). When the
        column sets differ, every key present in both versions is flagged
        'U' — its schema changed even if the shared values didn't."""
        from pyspark.sql import functions as F

        old = self.read(spark, v_from)
        new = self.read(spark, v_to)
        schema_changed = set(old.columns) != set(new.columns)
        common = set(old.columns) & set(new.columns)
        val_cols = [c for c in new.columns if c not in keys and c in common]

        def fp(df: DataFrame) -> DataFrame:
            # per-column md5 THEN combine: fixed-width column digests make
            # the row fingerprint unambiguous (a raw concat_ws fingerprint
            # lets values slide across column boundaries — ('a\\0b','c')
            # vs ('a','b\\0c') — and a separator-valued string collide
            # with the null sentinel). '∅' can never equal an md5 hex.
            return df.select(
                *keys,
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.coalesce(
                                F.md5(F.col(c).cast("string")), F.lit("∅")
                            )
                            for c in val_cols
                        ],
                    )
                ).alias("__fp"),
            )

        o = fp(old).alias("o")
        n = fp(new).alias("n")
        cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
        j = o.join(n, cond, "full_outer")
        return j.select(
            *[
                F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k)
                for k in keys
            ],
            F.when(F.col("o.__fp").isNull(), F.lit("I"))
            .when(F.col("n.__fp").isNull(), F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("change_type"),
        ).where(
            F.lit(schema_changed)
            | F.col("o.__fp").isNull()
            | F.col("n.__fp").isNull()
            | (F.col("o.__fp") != F.col("n.__fp"))
        )

    # ------------------------------------------------------------ admin

    def rollback(self, to_version: int) -> None:
        """Point the table back at an earlier snapshot (O(1); later
        snapshots remain readable by explicit version until vacuumed).

        Runs under the commit lock like every other manifest
        read-check-flip: a rollback racing a write() commit must not
        overwrite the writer's just-appended manifest entry, and one
        racing vacuum() must not point 'latest' at a directory vacuum
        is deleting."""
        with self._commit_lock():
            m = self._read_manifest()
            if to_version not in {e["version"] for e in m["versions"]}:
                raise ValueError(f"unknown version {to_version}")
            m["latest"] = to_version
            self._flip_manifest(m)

    def vacuum(
        self, keep_last: int = 1, grace_seconds: float = 3600.0
    ) -> list[int]:
        """Drop snapshot directories older than the ``keep_last`` most
        recent (never the current pointer), plus TORN directories failed
        writes left unreferenced. Returns removed versions.

        ``grace_seconds`` protects in-flight writers (the Delta-vacuum
        retention idea): an UNREFERENCED dir younger than the grace window
        might be a concurrent writer's mkdir-claimed snapshot mid-write,
        so it is skipped; older than that it is treated as torn debris.
        Referenced old snapshots are removed regardless of age (their
        writers committed long ago). Pass ``grace_seconds=0`` only when no
        writer can be active (e.g. single-process tests)."""
        import shutil
        import time as _time

        # the WHOLE vacuum runs under the commit lock: the pointer is
        # re-read after acquisition, so a rollback() or write() that
        # committed just before cannot have its target/entry deleted, and
        # none can land mid-vacuum (rollback/write also take the lock).
        # rmtree of a few snapshot dirs is well inside the lock's 30s
        # acquisition deadline; vacuum is an admin operation, not a
        # hot-path one.
        with self._commit_lock():
            m = self._read_manifest()
            ordered = sorted(e["version"] for e in m["versions"])
            referenced = set(ordered)
            # keep_last=0 must mean "only the pointer" — ordered[-0:] would
            # slice the WHOLE list and keep everything
            recent = set(ordered[-keep_last:]) if keep_last > 0 else set()
            keep = recent | {m["latest"]}
            removed = []
            on_disk = [
                int(d[2:])
                for d in (
                    os.listdir(self.path) if os.path.isdir(self.path) else []
                )
                if d.startswith("v=") and d[2:].isdigit()
            ]
            now = _time.time()
            for v in sorted(referenced | set(on_disk)):
                if v in keep:
                    continue
                vdir = f"{self.path}/v={v}"
                if v not in referenced and grace_seconds > 0:
                    try:
                        if now - os.stat(vdir).st_mtime < grace_seconds:
                            continue  # possibly a writer mid-flight
                    except OSError:
                        continue
                shutil.rmtree(vdir, ignore_errors=True)
                removed.append(v)
            m["versions"] = [
                e for e in m["versions"] if e["version"] not in removed
            ]
            self._flip_manifest(m)
        return removed
