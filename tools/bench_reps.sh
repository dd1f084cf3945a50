#!/bin/bash
# Regenerate the BASELINE.md variance-table artifacts: N fresh-JVM
# graft.Bench runs at sf0.1, each saved verbatim to bench_runs/run{i}.json
# so the table's medians/spreads are auditable from the repo.
#
# Usage: tools/bench_reps.sh [N]   (default 3; env overrides below)
set -euo pipefail
cd "$(dirname "$0")/.."
N=${1:-3}
# Cool-window guard: a run started on a loaded machine records ambient
# contention, not plan cost (round-11's committed set ran at loadavg
# 0.25->4.52 and overstated totals ~10% vs the same-day cool set).
# EVERY run must start with 1-min loadavg < 1.0 — including runs 2..N,
# whose predecessor's own work leaves loadavg elevated for minutes after
# the JVM exits (the round-14 first attempt recorded before=2.62/4.97 on
# runs 2-3 purely from run 1's wake). wait_cool blocks up to 15 min
# between runs; the run-1 REFUSE (vs wait) is kept so a busy machine
# fails fast. Override consciously with GRAFT_BENCH_ALLOW_HOT=1.
# Threshold 0.7, not 1.0: the criterion is the loadavg Bench RECORDS, and
# JVM launch + sbt classloading add ~0.1-0.2 to the 1-min value between
# this check and Bench's sample (first attempt: script saw 0.99, Bench
# recorded 1.15).
THRESH=0.7
load1() { cut -d' ' -f1 /proc/loadavg; }
is_cool() { python3 -c "import sys; sys.exit(0 if float('$(load1)') < $THRESH else 1)"; }
wait_cool() {
  for _ in $(seq 1 30); do
    is_cool && return 0
    echo "[bench_reps] loadavg $(load1) >= $THRESH — waiting for cool window ..." >&2
    sleep 30
  done
  return 1
}
if is_cool; then
  echo "[bench_reps] loadavg $(load1) < $THRESH — cool window, starting" >&2
elif [ "${GRAFT_BENCH_ALLOW_HOT:-0}" = "1" ]; then
  echo "[bench_reps] WARNING: loadavg $(load1) >= $THRESH but GRAFT_BENCH_ALLOW_HOT=1 — runs will be annotated hot_window" >&2
else
  echo "[bench_reps] REFUSING: 1-min loadavg $(load1) >= $THRESH. Wait for a cool window or set GRAFT_BENCH_ALLOW_HOT=1 (set will be annotated hot_window)." >&2
  exit 2
fi
mkdir -p bench_runs
for i in $(seq 1 "$N"); do
  if [ "$i" -gt 1 ] && [ "${GRAFT_BENCH_ALLOW_HOT:-0}" != "1" ]; then
    wait_cool || { echo "[bench_reps] gave up waiting for cool window before run $i" >&2; exit 2; }
  fi
  echo "[bench_reps] run $i/$N (loadavg $(load1)) ..." >&2
  # Bench writes its FULL artifact to GRAFT_BENCH_JSON (stdout carries
  # only the compact totals line since round 19 — the driver tail is
  # 2000 chars); point it at a temp file and require a parseable JSON
  # object with a "queries" map before installing it — a crashed/
  # truncated run must never overwrite a good run{i}.json
  tmp=$(mktemp)
  # -Dgraft.cc.assert.rounds arms the connected-components convergence
  # canary (Dedup.connectedComponents): measured round count is 2 across
  # two decades (sf0.01 -> 10x-sf0.1, SCALING.md), so >3 means a
  # propagation regression (wrong join key, broken edge cache) and the
  # bench run fails loudly instead of silently timing a degraded loop.
  # (3, not 2: one round of honest diameter growth on a new corpus should
  # not abort a bench; SCALING.md documents the 10x-probe canary recipe.)
  SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-16g}" \
  GRAFT_BENCH_JSON="$tmp" \
    tools/spark-run.sh -Dgraft.cc.assert.rounds="${GRAFT_CC_ASSERT_ROUNDS:-3}" \
      graft.Bench 2>/dev/null \
    | grep '"metric":"total"' | tail -1 >&2
  python3 -c "import json,sys; d=json.load(open('$tmp')); assert d['queries']" \
    || { echo "[bench_reps] run $i produced invalid JSON, aborting" >&2; exit 1; }
  mv "$tmp" "bench_runs/run$i.json"
done
python3 - <<'EOF'
import json, glob, statistics
runs = [json.load(open(f)) for f in sorted(glob.glob("bench_runs/run*.json"))]
totals = sorted(r["value"] for r in runs)
print(f"totals: {totals}  median: {statistics.median(totals):.2f}")
qs = sorted(runs[0]["queries"], key=lambda q: -statistics.median(
    [r["queries"][q] for r in runs]))
print(f"{'query':32s} median    min    max  spread")
for q in qs[:15]:
    v = sorted(r["queries"][q] for r in runs)
    print(f"{q:32s} {statistics.median(v):6.2f} {v[0]:6.2f} {v[-1]:6.2f}"
          f" {v[-1]-v[0]:7.2f}")
rest = sum(statistics.median([r["queries"][q] for r in runs]) for q in qs[15:])
print(f"(remaining {len(qs)-15} queries, medians summed) {rest:.2f}")
EOF
