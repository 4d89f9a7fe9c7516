#!/usr/bin/env bash
# Preship gate: the end-of-round snapshot MUST be made after this exits 0.
#
# Round 7 shipped an entry file whose own lockstep guard
# (set(ORACLES) == set(QUERIES)) failed at import — pytest was red at
# collection, bench.py exited 1, and the driver recorded an empty
# CORRECTNESS file, zeroing the round's record. The guard worked; it was
# never run. This script makes running it mechanical:
#
#   1. import the driver entry module (2 s — catches lockstep/syntax)
#   2. full pytest suite
#   3. bench.py end-to-end (rc must be 0 and output must be one JSON line
#      with the recorded {metric,value,unit,queries,sf} schema)
#   4. the perfbench workloads' correctness pass (every output checked
#      against DuckDB or the direct run; `correct` true, `failed` 0)
#
# Usage: scripts/preship.sh  (from the repo root; exits non-zero on any
# failure — do NOT commit a snapshot if it does).
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== preship 1/5: entry-module import guard =="
python3 -c "import __spark_entry__ as e; assert set(e.ORACLES) == set(e.QUERIES); assert len(e.QUERIES) <= 50; print(f'ok: {len(e.QUERIES)} entries, lockstep holds')"

echo "== preship 2/5: pytest =="
python3 -m pytest tests/ -q

echo "== preship 3/5: scale-stress gates (r16, VERDICT r15 #6) =="
# Promote the two heaviest egress/dedup stress invariants into every
# shipped round: the 10x training-shards token-stream self-check (both
# layouts) and the minhash 10x replication exact pair count. Opt-in for
# the normal suite (SPARK_GRAFT_STRESS), mandatory here. Log lands in
# scratch/ and is force-added with the snapshot (scratch/ is gitignored)
# — referenced from COVERAGE.md.
# timestamped to the minute (r17: two same-day preships collided on the
# %Y%m%d name and the second silently overwrote the first round's
# committed evidence — caught and restored from history)
stress_log="scratch/preship_stress_$(date +%Y%m%d_%H%M).log"
# r17: + the split-file loader gate (maxRecordsPerFile at 10× through
# the shipped read_training_shards) — the sh/mf/sp egress family is now
# fully stressed per-ship
SPARK_GRAFT_STRESS=1 python3 -m pytest tests/test_scale_stress.py -q \
  -k "training_shards_10x or training_shards_multifile_10x or training_shards_split_files_10x or minhash_10x" \
  2>&1 | tee "$stress_log"
# anchored: a bare '4 passed' substring would also match '14 passed'
# if the -k selection ever grows (review catch r16)
grep -qE '(^|[^0-9])4 passed' "$stress_log"

echo "== preship 4/5: bench (strict: a budget violation FAILS preship) =="
# settle gate (r13→r14): bench.py now settle-waits ITSELF (bounded,
# stamped — see bench.py _settle), so every run that produces a record
# is protected, including the driver's; no shell-side loop needed. The
# strict run below also appends the machine-readable quiet column to
# BENCH_QUIET.jsonl (commit it with the snapshot).
# r12 (judge directive 7): strict mode would have blocked r11's m1
# violation from riding into the round record. If this trips on a loaded
# machine, check BENCH_LOAD_START in stderr and BENCH_NOTES.md's quiet
# reference column before touching any budget.
# r15: the preship bench starts seconds after the 13-minute pytest
# phase — two of three r15 post-pytest starts tripped noise violations
# at 1m≈1.2 (inside bench.py's default <1.3 gate, but still in the
# post-phase reclaim window) that a settled re-run disproved on
# identical source. Tighten THIS run's settle gate to the drained
# envelope; the driver's standalone runs keep bench.py's default.
# the effective gate is echoed here AND stamped in bench.py's
# BENCH_SETTLE/BENCH_RECAP lines (review catch r16: an ambient override
# must be visible in the record, not silent)
echo "preship settle gate: ${SPARK_GRAFT_BENCH_SETTLE_LOAD:-0.7}"
out="$(SPARK_GRAFT_BENCH_STRICT=1 SPARK_GRAFT_BENCH_SETTLE_LOAD="${SPARK_GRAFT_BENCH_SETTLE_LOAD:-0.7}" python3 bench.py)"
echo "$out" | tail -1 | python3 -c "
import json, sys
rec = json.loads(sys.stdin.readline())
missing = {'metric', 'value', 'unit', 'queries', 'sf'} - set(rec)
assert not missing, f'bench JSON missing keys: {missing}'
extra = set(rec) - {'metric', 'value', 'unit', 'queries', 'sf'}
assert not extra, f'bench JSON has unrecorded extra keys: {extra}'
print(f\"ok: {rec['value']}s over {len(rec['queries'])} queries at sf{rec['sf']}\")
"

echo "== preship 5/5: perfbench correctness (interchange, execution) =="
# run.py computes `correct` leaving its KNOWN_FAULTS out, so `failed` is
# checked as well: an operation that fails in any pass fails here
for workload in interchange execution; do
  python3 perfbench/run.py --workload "$workload" --seed 1 --seconds 10 \
    --trace 0 | tail -1 | python3 -c "
import json, sys
rec = json.loads(sys.stdin.readline())
assert rec.get('correct') is True, f'$workload: correct is {rec.get(\"correct\")}'
assert rec.get('failed') == 0, f'$workload: failed is {rec.get(\"failed\")}'
print(f'ok: $workload correct, 0 failed')
"
done

echo "== preship: ALL GREEN — safe to snapshot =="
