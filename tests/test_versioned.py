"""Snapshot-versioned tables: time travel, upsert lineage, rollback,
vacuum, torn-read protection via the pointer flip."""

from __future__ import annotations

import pytest

from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable


def test_write_read_time_travel(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    assert t.latest_version() is None
    v1 = t.write(spark.range(10).selectExpr("id", "id * 2 AS v"))
    v2 = t.write(spark.range(20).selectExpr("id", "id * 3 AS v"))
    assert (v1, v2) == (1, 2)
    assert t.read(spark).count() == 20  # latest
    assert t.read(spark, 1).count() == 10  # time travel
    assert {r["version"] for r in t.history()} == {1, 2}
    with pytest.raises(ValueError):
        t.read(spark, 99)


def test_upsert_creates_new_snapshot(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt2"))
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]), ["id"])
    t.upsert(spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]), ["id"])
    latest = {r.id: r.v for r in t.read(spark).collect()}
    assert latest == {1: "a", 2: "B", 3: "c"}
    # the pre-upsert state is still readable — the audit trail Delta gives
    original = {r.id: r.v for r in t.read(spark, 1).collect()}
    assert original == {1: "a", 2: "b"}


def test_rollback_and_vacuum(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt3"))
    t.write(spark.range(5).selectExpr("id"))
    t.write(spark.range(50).selectExpr("id"))
    t.rollback(1)
    assert t.read(spark).count() == 5
    assert [h["is_latest"] for h in t.history()] == [True, False]
    # vacuum never removes the current pointer even if it is old
    removed = t.vacuum(keep_last=1)
    assert 1 not in removed
    assert t.read(spark).count() == 5


def test_unreadable_manifest_raises_instead_of_reading_fresh(spark, tmp_path):
    """Only a missing manifest means a fresh table: after the manifest is
    truncated, an upsert and a vacuum raise, and neither creates nor
    removes a snapshot dir (read as fresh, the upsert would write a
    10-row 'initial' snapshot and the vacuum would remove the history)."""
    import json
    import os

    t = VersionedTable(str(tmp_path / "vt_torn_manifest"))
    t.write(spark.range(100).selectExpr("id", "'a' AS v"))
    t.upsert(spark.range(50, 150).selectExpr("id", "'b' AS v"), ["id"])
    assert t.read(spark).count() == 150
    open(f"{t.path}/_manifest.json", "w").close()
    dirs = sorted(d for d in os.listdir(t.path) if d.startswith("v="))
    with pytest.raises(json.JSONDecodeError):
        t.upsert(spark.range(10).selectExpr("id", "'c' AS v"), ["id"])
    with pytest.raises(json.JSONDecodeError):
        t.vacuum(keep_last=0, grace_seconds=0)
    assert sorted(d for d in os.listdir(t.path) if d.startswith("v=")) == dirs


def test_failed_write_leaves_pointer_untouched(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt4"))
    t.write(spark.range(7).selectExpr("id"))
    bad = spark.range(3).selectExpr("CAST(raise_error('boom') AS STRING) AS id")
    with pytest.raises(Exception):  # noqa: B017 — any execution error
        t.write(bad)
    # reader still sees the intact v1; the torn v2 directory is unreferenced
    assert t.latest_version() == 1
    assert t.read(spark).count() == 7


def test_diff_change_data_feed(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt5"))
    t.write(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "v"]))
    t.write(spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], ["id", "v"]))
    changes = {(r.id): r.change_type
               for r in t.diff(spark, 1, 2, keys=["id"]).collect()}
    assert changes == {2: "U", 3: "D", 4: "I"}  # 1 unchanged -> absent


def test_streaming_into_versioned_table(spark, tmp_path, sf_dir):
    """Each micro-batch lands as one snapshot; history doubles as the
    processing ledger and the diff between consecutive versions is that
    batch's keys."""
    import shutil

    from gcp_etl_pipeline_spark.streaming import core

    src = tmp_path / "vin"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src / "b.parquet")  # replay

    table_path = str(tmp_path / "vtab")
    stream = core.read_events_stream(spark, str(src)).select(
        "event_id", "user_id", "event_type"
    )
    q = core.foreach_batch_versioned(
        stream, table_path, keys=["event_id"], checkpoint=str(tmp_path / "vck")
    )
    q.awaitTermination()

    t = VersionedTable(table_path)
    hist = t.history()
    assert len(hist) == 2  # one snapshot per micro-batch (maxFilesPerTrigger=1)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # the replayed file upserts the same keys: row count stays constant
    assert t.read(spark, 1).count() == n_events
    assert t.read(spark).count() == n_events
    # and the diff between the versions is empty (identical payloads)
    assert t.diff(spark, 1, 2, keys=["event_id"]).count() == 0


def test_failed_write_does_not_brick_table(spark, tmp_path):
    """Review finding: a torn v-dir used to collide with the next write
    forever. The version counter must skip past unreferenced directories
    and the write must land cleanly; vacuum then clears the torn dir."""
    import os

    t = VersionedTable(str(tmp_path / "vt6"))
    t.write(spark.range(5).selectExpr("id"))
    bad = spark.range(3).selectExpr("CAST(raise_error('boom') AS STRING) AS id")
    with pytest.raises(Exception):  # noqa: B017
        t.write(bad)
    assert os.path.isdir(str(tmp_path / "vt6" / "v=2"))  # torn leftover
    v = t.write(spark.range(9).selectExpr("id"))  # must NOT collide
    assert v == 3
    assert t.read(spark).count() == 9
    removed = t.vacuum(keep_last=2, grace_seconds=0)
    assert 2 in removed  # the torn dir is gone
    assert not os.path.isdir(str(tmp_path / "vt6" / "v=2"))


def test_keyring_json_roundtrip_decrypts(spark, tmp_path):
    """Review finding: JSON-persisted keyrings stringify dek_ids; unmask
    must still decrypt."""
    import json

    from gcp_etl_pipeline_spark.operators.masking import (
        LocalKmsStub,
        mask_columns_envelope,
        unmask_columns_envelope,
    )

    kms = LocalKmsStub()
    df = spark.createDataFrame([(i, f"u{i}") for i in range(20)], ["id", "name"])
    masked, keyring = mask_columns_envelope(df, ["name"], kms, num_deks=3)
    masked.write.parquet(str(tmp_path / "data"))
    (tmp_path / "keyring.json").write_text(json.dumps(keyring))

    reloaded = json.loads((tmp_path / "keyring.json").read_text())
    back = unmask_columns_envelope(
        spark.read.parquet(str(tmp_path / "data")), ["name"], reloaded, kms
    )
    assert {r.name for r in back.collect()} == {f"u{i}" for i in range(20)}


def test_concurrent_writer_conflict_detected(spark, tmp_path):
    """Two writers derived from the same snapshot: the second commit must
    raise instead of silently dropping the first one's snapshot."""
    from gcp_etl_pipeline_spark.sinks.versioned import ConcurrentWriteError

    t = VersionedTable(str(tmp_path / "cw"))
    t.write(spark.range(5).selectExpr("id AS k", "'a' AS s"))
    base = t.latest_version()
    # writer A commits v2
    t.upsert(spark.range(2).selectExpr("id AS k", "'x' AS s"), keys=["k"])
    # writer B still thinks latest == base; its commit must conflict
    with pytest.raises(ConcurrentWriteError):
        t.write(
            spark.range(1).selectExpr("id AS k", "'y' AS s"),
            expected_latest=base,
        )
    # the winning snapshot is intact
    assert t.latest_version() == 2
    assert t.read(spark).where("s = 'x'").count() == 2


def test_version_dir_claim_skips_taken_numbers(spark, tmp_path):
    """mkdir-claimed (but uncommitted) version dirs are skipped, never
    overwritten."""
    import os

    t = VersionedTable(str(tmp_path / "claim"))
    t.write(spark.range(3).selectExpr("id"))
    os.mkdir(str(tmp_path / "claim" / "v=2"))  # another writer's claim
    v = t.write(spark.range(4).selectExpr("id"))
    assert v == 3
    assert t.read(spark).count() == 4


def test_diff_tolerates_schema_evolution(spark, tmp_path):
    """A column added between versions must not break diff (Delta-CDF
    tolerance); common keys are flagged U when the column set changed."""
    t = VersionedTable(str(tmp_path / "evo"))
    t.write(spark.range(4).selectExpr("id AS k", "'a' AS s"))
    t.write(
        spark.range(2, 6).selectExpr("id AS k", "'a' AS s", "id * 2 AS extra")
    )
    rows = {(r.k, r.change_type) for r in t.diff(spark, 1, 2, keys=["k"]).collect()}
    assert rows == {(0, "D"), (1, "D"), (2, "U"), (3, "U"), (4, "I"), (5, "I")}


def test_streaming_replay_is_history_noop(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a committed batch id must
    not mint a duplicate snapshot version."""
    from gcp_etl_pipeline_spark.streaming.core import versioned_batch_writer

    t = VersionedTable(str(tmp_path / "replay"))
    writer = versioned_batch_writer(t, keys=["k"])
    b0 = spark.range(3).selectExpr("id AS k", "'a' AS s")
    writer(b0, 0)
    assert t.latest_version() == 1
    writer(b0, 0)  # crash-replay of the same micro-batch
    assert t.latest_version() == 1  # no extra snapshot
    writer(spark.range(2, 5).selectExpr("id AS k", "'b' AS s"), 1)
    assert t.latest_version() == 2
    assert t.read(spark).count() == 5


def test_delete_then_vacuum_is_full_erasure(spark, tmp_path):
    import pytest as _pytest

    t = VersionedTable(str(tmp_path / "gdpr"))
    with _pytest.raises(ValueError, match="empty table"):
        t.delete(spark.range(1).selectExpr("id AS k"), keys=["k"])
    t.write(spark.range(10).selectExpr("id AS k", "'u' AS s"))
    t.delete(spark.range(3, 6).selectExpr("id AS k"), keys=["k"])
    assert {r.k for r in t.read(spark).collect()} == {0, 1, 2, 6, 7, 8, 9}
    # pre-delete snapshot still readable (time travel) until vacuumed
    assert t.read(spark, 1).count() == 10
    removed = t.vacuum(keep_last=0)
    assert removed == [1]
    with _pytest.raises(ValueError):
        t.read(spark, 1)


def test_vacuum_grace_protects_inflight_claims(spark, tmp_path):
    """An unreferenced young v= dir may be a concurrent writer mid-write:
    default grace skips it; grace 0 reclaims it."""
    import os

    t = VersionedTable(str(tmp_path / "grace"))
    t.write(spark.range(3).selectExpr("id"))
    os.mkdir(str(tmp_path / "grace" / "v=2"))  # in-flight claim
    assert t.vacuum(keep_last=1) == []        # young + unreferenced: kept
    assert os.path.isdir(str(tmp_path / "grace" / "v=2"))
    assert t.vacuum(keep_last=1, grace_seconds=0) == [2]
    assert not os.path.isdir(str(tmp_path / "grace" / "v=2"))


def test_commit_lock_crashed_holder_cannot_deadlock(spark, tmp_path):
    """A crashed writer's leftover lock FILE must not deadlock future
    commits: flock is held by an open fd, not by the file's existence,
    and the kernel releases it when the holder's fds close (which a
    process crash does). An orphaned lock file is therefore immediately
    lockable — no staleness heuristic involved."""
    import os
    import pathlib

    t = VersionedTable(str(tmp_path / "stale"))
    os.makedirs(t.path, exist_ok=True)
    # simulate a crashed holder: the file exists but nobody flocks it
    pathlib.Path(f"{t.path}/_manifest.lock").touch()
    v = t.write(spark.range(2).selectExpr("id"))  # must not hang
    assert v == 1 and t.read(spark).count() == 2
    # the lock file survives release (unlinking it would open the
    # lock-the-old-inode race); a second commit reuses it
    assert pathlib.Path(f"{t.path}/_manifest.lock").exists()
    assert t.write(spark.range(3).selectExpr("id")) == 2


def test_commit_lock_mutual_exclusion_and_timeout(tmp_path, monkeypatch):
    """flock must actually exclude: while one thread holds the commit
    lock, a second acquirer blocks, and proceeds only after release;
    a holder that never releases makes the waiter raise
    ConcurrentWriteError at the timeout instead of deadlocking."""
    import threading
    import time

    from gcp_etl_pipeline_spark.sinks.versioned import ConcurrentWriteError

    t = VersionedTable(str(tmp_path / "excl"))
    release = threading.Event()
    holder_in = threading.Event()

    def holder():
        with t._commit_lock():
            holder_in.set()
            release.wait(10.0)

    th = threading.Thread(target=holder)
    th.start()
    assert holder_in.wait(5.0)

    # waiter 1: bounded timeout while the holder sits in the section
    monkeypatch.setattr(VersionedTable, "_LOCK_TIMEOUT_SEC", 0.3)
    t0 = time.time()
    with pytest.raises(ConcurrentWriteError, match="commit lock"):
        with t._commit_lock():
            pass
    assert time.time() - t0 < 5.0

    # waiter 2: acquires promptly once the holder releases
    monkeypatch.setattr(VersionedTable, "_LOCK_TIMEOUT_SEC", 10.0)
    acquired = []

    def waiter():
        with t._commit_lock():
            acquired.append(time.time())

    tw = threading.Thread(target=waiter)
    tw.start()
    time.sleep(0.2)
    assert not acquired  # still excluded
    release.set()
    tw.join(10.0)
    th.join(10.0)
    assert acquired


def test_read_parquet_rejects_versioned_root(spark, tmp_path):
    """A plain parquet read of a VersionedTable root would union every
    v=N snapshot (silent row duplication); the engine's reader detects
    the manifest and fails fast toward read_table()."""
    from gcp_etl_pipeline_spark.sources.files import read_parquet

    t = VersionedTable(str(tmp_path / "vt_guard"))
    t.write(spark.range(3).selectExpr("id"))
    t.write(spark.range(3).selectExpr("id"))
    with pytest.raises(ValueError, match="versioned snapshot table"):
        read_parquet(spark, t.path)
    # every local-URI spelling must hit the guard too
    with pytest.raises(ValueError, match="versioned snapshot table"):
        read_parquet(spark, f"file://{t.path}")
    with pytest.raises(ValueError, match="versioned snapshot table"):
        read_parquet(spark, f"file:{t.path}")
    # the tier-aware reader sees exactly the latest snapshot
    from gcp_etl_pipeline_spark.operators.upsert import read_table

    assert read_table(spark, t.path).count() == 3


def test_upsert_schema_evolution_and_drift_guard(spark, tmp_path):
    """merge_schema=True adds the new column (kept rows null-filled);
    the default REJECTS a source that adds columns instead of silently
    dropping them; v1 time travel keeps the old schema."""
    import pytest as _pytest

    from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
    src = spark.createDataFrame([(2, "B", 9), (3, "c", 7)], ["id", "v", "x"])
    with _pytest.raises(ValueError, match="merge_schema=True"):
        t.upsert(src, keys=["id"])
    t.upsert(src, keys=["id"], merge_schema=True)
    got = {r.id: (r.v, r.x) for r in t.read(spark, 2).collect()}
    assert got == {1: ("a", None), 2: ("B", 9), 3: ("c", 7)}
    assert t.read(spark, 1).columns == ["id", "v"]


def test_optimize_compacts_into_new_version(spark, tmp_path):
    from gcp_etl_pipeline_spark.sinks.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    # many small appends via upserts -> many part files in the snapshot
    t.write(spark.range(100).selectExpr("id", "id * 2 AS v").repartition(8))
    v = t.optimize(spark, target_files=2)
    assert v == 2
    import glob

    parts = glob.glob(str(tmp_path / "t" / "v=2" / "part-*.parquet"))
    assert len(parts) == 2, parts
    # data identical; pre-compaction snapshot still time-travelable
    assert t.read(spark, 2).count() == 100
    assert {r.v for r in t.read(spark, 1).collect()} == {
        r.v for r in t.read(spark, 2).collect()
    }


def test_versioned_concurrent_writers_stress(spark, tmp_path):
    """Contended writes from 6 threads with retry-on-conflict: the
    optimistic commit protocol must let exactly one writer win each
    pointer move — every committed version is unique, the manifest
    references each exactly once, and no thread exhausts its retries.
    Exercises the mkdir claim, the commit lock, and the staleness
    re-check under real interleaving (not just the crafted tests)."""
    import threading

    from gcp_etl_pipeline_spark.sinks.versioned import ConcurrentWriteError

    t = VersionedTable(str(tmp_path / "stress"))
    t.write(spark.range(1).selectExpr("id"))
    committed, errors = [], []
    guard = threading.Lock()

    def worker(w: int) -> None:
        for i in range(3):
            for _attempt in range(30):
                try:
                    v = t.write(
                        spark.range(2).selectExpr("id"), note=f"w{w}i{i}"
                    )
                    with guard:
                        committed.append(v)
                    break
                except ConcurrentWriteError:
                    continue
            else:
                with guard:
                    errors.append((w, i))

    threads = [
        threading.Thread(target=worker, args=(w,)) for w in range(6)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert len(committed) == 18 and len(set(committed)) == 18
    hist = t.history()
    versions = [h["version"] for h in hist]
    assert len(versions) == len(set(versions)) == 19  # v1 + 18 commits
    assert t.latest_version() == max(versions) == max(committed)
    assert t.read(spark).count() == 2  # latest snapshot intact


def test_flock_guard_unsupported_fs_fails_fast(tmp_path, monkeypatch):
    """On mounts where flock itself is unsupported (ENOTSUP/ENOLCK on
    some FUSE/NFSv3 filesystems) the guard must surface the REAL error
    immediately — not spin the full timeout and then raise a misleading
    'lock busy' concurrency error (ADVICE r6 #1)."""
    import errno
    import fcntl as _fcntl
    import time

    from gcp_etl_pipeline_spark import locks

    def broken_flock(fd, op):
        if op != _fcntl.LOCK_UN:
            raise OSError(errno.ENOTSUP, "flock not supported")

    monkeypatch.setattr(locks.fcntl, "flock", broken_flock)
    t0 = time.time()
    with pytest.raises(OSError) as ei:
        with locks.flock_guard(
            str(tmp_path / "l.lock"), 5.0, lambda: RuntimeError("busy")
        ):
            pass
    assert ei.value.errno == errno.ENOTSUP
    assert time.time() - t0 < 1.0  # immediate, not the 5s timeout
