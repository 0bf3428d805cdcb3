#!/usr/bin/env bash
# The repo's full verification gate — run before every push (the judge's
# round gate runs the same surfaces). Serialize the Spark-heavy steps:
# two local[32] JVMs thrash each other.
set -euo pipefail
cd "$(dirname "$0")/.."
# the query lists live in this run's own directory, so two checkouts
# running the gate at once do not overwrite each other's lists
lists="$(mktemp -d)"
trap 'rm -rf "$lists"' EXIT

echo "== differential gate (all queries vs DuckDB oracles, sf0.01) =="
# split the registry in half per process: one ~180-query sweep in a
# single JVM exceeds a 10-minute shell window on a noisy host
python - "$lists" <<'PY'
import sys
sys.path.insert(0, ".")
import __spark_entry__ as e
names = sorted(e.queries())
h = len(names) // 2
lists = sys.argv[1]
open(f"{lists}/q1.txt", "w").write("\n".join(names[:h]))
open(f"{lists}/q2.txt", "w").write("\n".join(names[h:]))
print(f"{len(names)} queries -> two halves")
PY
# every query gets its scratch from session.scratch_dir, removed at
# interpreter exit: sweep inside a fresh temp root and fail on anything
# graft_* that outlives the two processes
sweep_tmp="$(mktemp -d)"
(
export TMPDIR="$sweep_tmp"
python tools/check.py /root/testdata/sf0.01 $(tr '\n' ' ' < "$lists/q1.txt")
python tools/check.py /root/testdata/sf0.01 $(tr '\n' ' ' < "$lists/q2.txt")
)
leftover="$(find "$sweep_tmp" -maxdepth 1 -name 'graft_*')"
if [ -n "$leftover" ]; then
  echo "scratch left behind by the sweep:"; echo "$leftover"; exit 1
fi
rm -rf "$sweep_tmp"

echo "== rotating sf0.1 differential subset (~50 queries) =="
# sf0.01 verifies every query above; sf0.1 can still diverge, so each
# run also gates a rotating ~50-query subset at sf0.1. Rotation key =
# day, so consecutive pushes on different days cover different slices.
# No exclusions: the components oracle is the unrolled linear chain
# since r6 (the r5 recursive-walk exclusion is gone).
python - "$lists" <<PY
import hashlib, sys
sys.path.insert(0, ".")
import __spark_entry__ as e
day = "${CI_ROTATION_KEY:-$(date +%Y%m%d)}"
names = sorted(e.queries())
ranked = sorted(names, key=lambda n: hashlib.md5(f"{day}|{n}".encode()).hexdigest())
open(sys.argv[1] + "/q01.txt", "w").write("\n".join(sorted(ranked[:50])))
print(f"day {day}: 50/{len(names)} queries at sf0.1")
PY
python tools/check.py /root/testdata/sf0.1 $(tr '\n' ' ' < "$lists/q01.txt")

if [ -n "${SEED:-}" ]; then
  echo "== alternate-seed full sweep (seed=$SEED) =="
  # oracle-overfit guard (r6 judge #5): regenerate the sf0.01-shaped
  # fixtures with a different seed and run the FULL differential sweep
  # against them. check.py skips EVIDENCE stamping for non-/root/testdata
  # paths, so this cannot masquerade as driver-fixture evidence.
  python tools/gen_testdata.py "$SEED"
  python tools/check.py "/tmp/testdata_seed$SEED/sf0.01" $(tr '\n' ' ' < "$lists/q1.txt")
  python tools/check.py "/tmp/testdata_seed$SEED/sf0.01" $(tr '\n' ' ' < "$lists/q2.txt")
fi

echo "== unit + e2e + plan-assertion tests =="
# same scratch check as the sweep: a test's scratch must not outlive it
test_tmp="$(mktemp -d)"
TMPDIR="$test_tmp" python -m pytest tests/ -q
leftover="$(find "$test_tmp" -maxdepth 1 -name 'graft_*')"
if [ -n "$leftover" ]; then
  echo "scratch left behind by the tests:"; echo "$leftover"; exit 1
fi
rm -rf "$test_tmp"

echo "== per-query evidence ledger =="
# the sweeps above stamped EVIDENCE.json; regenerate the table and fail
# on any query whose sf0.01 evidence went stale (>2 rounds old) — a
# query silently dropped from the sweeps can no longer hide
python tools/evidence.py --check

echo "== medallion benchmark workloads (seed 1, one iteration) =="
# each run checks the warehouse it wrote with DuckDB (dim counts, the run
# ledger's SUCCESS rows, the overview against its oracle) and exits
# non-zero when a check fails; the traced run also patches the engine
# calls the tracer spans, so a renamed or reshaped one fails here
for w in medallion_batch stream_catalog; do
  for trace in 0 1; do
    python3 perfbench/run.py --workload "$w" --seed 1 --seconds 0 --trace "$trace"
  done
done

echo "== plan-profile drift check =="
# a lost broadcast or a new cartesian changes a query's join/exchange
# census; deliberate plan changes land with a regenerated baseline in
# the same commit (python tools/plan_profile.py)
python tools/plan_profile.py --check

echo "== bench (sf0.1) + regression diff =="
python bench.py
python tools/bench_diff.py 1.3
# round-anchor creep gate (no-op until --set-anchor runs at round open)
python tools/bench_diff.py 1.3 --anchor
