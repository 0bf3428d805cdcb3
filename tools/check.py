"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, column names, and order-insensitive values (columns sorted by
name, rows sorted, exact equality; NaN==NaN). Exits nonzero on any
mismatch.

Runs on a STOCK SparkSession (none of session.py's engine defaults) to
mirror the driver harness — a query that depends on get_session() conf
(partitionOverwriteMode, UTC timezone, broadcast thresholds...) must fail
HERE, not in the driver. Pass --engine-session to use get_session() instead.

Usage: python tools/check.py [--engine-session] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# the driver's fixture root — EVIDENCE stamping is restricted to sweeps
# over these parquet tables (trailing slash: '/root/testdata_evil' must
# not match); compared via os.path.realpath so symlinks can't confuse it
DRIVER_FIXTURE_ROOT = "/root/testdata/"


def _canon(v):
    if v is None:
        return ("\x00null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("\x01nan",)
        return ("f", repr(float(v)))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("f", repr(float(v))) if abs(v) < 2**52 else ("i", v)
    if isinstance(v, bytes):
        return ("y", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((k, _canon(x)) for k, x in v.items())))
    return ("s", str(v))


def _rowset(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--engine-session"]
    engine_session = "--engine-session" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import duckdb

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as entrymod

    if engine_session:
        from gcp_etl_pipeline_spark.session import get_session

        spark = get_session()
    else:
        # stock session = the driver-harness contract: queries must carry
        # their own conf (registry._self_contained + per-query try/finally)
        from pyspark.sql import SparkSession

        from gcp_etl_pipeline_spark.session import driver_memory

        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        spark = (
            SparkSession.builder.appName("graft-check-stock")
            .master(f"local[{cpus}]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", driver_memory())
            .getOrCreate()
        )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 2
    failures = []
    n_ran = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        n_ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(srows)} (no oracle — rows-only check)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            failures.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            failures.append(name)
            continue
        a, b = _rowset(scols, srows), _rowset(dcols, drows)
        if a != b:
            bad = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
            print(f"FAIL {name}: values differ; first diff at sorted row {bad}:")
            print(f"  spark: {a[bad]}")
            print(f"  duck : {b[bad]}")
            failures.append(name)
            continue
        print(f"PASS {name}: rows={len(srows)} cols={len(scols)} ({dt:.1f}s)")

    print(f"\n{n_ran - len(failures)}/{n_ran} pass")
    spark.stop()
    passed = [
        n for n in queries if (not only or n in only) and n not in failures
    ]
    _record_evidence(passed, sf_dir)
    return 1 if failures else 0


def _record_evidence(passed: list[str], sf_dir: str) -> None:
    """Append per-query verification stamps to EVIDENCE.json — the
    generated ledger behind EVIDENCE.md (tools/evidence.py). Axis =
    the scale factor, or 'partitions7' for the partition-invariance
    sweep (SPARK_GRAFT_CPUS=7). Never fails the check."""
    import json
    import time as _t

    if not passed:
        return
    # evidence tracks DRIVER fixtures only: an alternate-seed sweep
    # (tools/gen_testdata.py output) must not stamp sf0.01 evidence.
    # realpath (not abspath) so a symlinked route to the driver fixtures
    # still stamps, and a symlink INTO /tmp never does (ADVICE r7)
    real = os.path.realpath(sf_dir)
    if not (real == DRIVER_FIXTURE_ROOT.rstrip("/")
            or real.startswith(DRIVER_FIXTURE_ROOT)):
        return
    try:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        axis = sf_dir.rstrip("/").rsplit("/", 1)[-1]
        if os.environ.get("SPARK_GRAFT_CPUS") == "7":
            axis = "partitions7"
        # single round source shared with evidence.py --check
        # (SPARK_GRAFT_ROUND override, else 1 + newest CORRECTNESS round)
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from evidence import current_round

        rnd = current_round()
        path = f"{root}/EVIDENCE.json"
        try:
            ev = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            ev = {}
        now = int(_t.time())
        for name in passed:
            ev.setdefault(name, {})[axis] = {"ts": now, "round": rnd}
        tmp = path + ".tmp"
        json.dump(ev, open(tmp, "w"), indent=0, sort_keys=True)
        os.replace(tmp, path)
    except Exception as e:  # noqa: BLE001 — evidence is advisory here
        print(f"(evidence recording skipped: {e})")


if __name__ == "__main__":
    raise SystemExit(main())
