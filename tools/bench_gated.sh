#!/bin/bash
# Clean-window gated bench triple (r18 ask #4 / r19 VERDICT #5):
#   tools/bench_gated.sh <round> [n_runs]
# Scouts the box with graft.Calib (~3s) and launches each full sf0.1
# bench only inside a window where the memory probe reads < MAX_RATIO x
# nominal (healthy band; r13-r19 artifacts all ran blind at 2.5-3.1).
# If no clean window appears within MAX_POLLS, the run launches anyway —
# the calib brackets inside the artifact record what the window was —
# and this script logs every scout line so "no clean window existed" is
# evidenced, not asserted.
set -u
ROUND=${1:?round number, e.g. 20}
RUNS=${2:-3}
MAX_RATIO=${MAX_RATIO:-2.0}
MAX_POLLS=${MAX_POLLS:-20}
POLL_SLEEP=${POLL_SLEEP:-30}
cd "$(dirname "$0")/.."
failed=0
for i in $(seq 1 "$RUNS"); do
  echo "[gate] run $i: scouting for a clean window (mem_ratio < $MAX_RATIO)"
  clean=0
  for t in $(seq 1 "$MAX_POLLS"); do
    line=$(tools/run_main.sh graft.Calib 32 2>/dev/null | tail -1)
    echo "[gate] scout $t: $line" | tee -a "BENCH_LOCAL_r${ROUND}_gate.log"
    ratio=$(echo "$line" | python3 -c "import json,sys;print(json.load(sys.stdin)['mem_ratio'])" 2>/dev/null || echo 99)
    ok=$(python3 -c "print(1 if float('$ratio') < float('$MAX_RATIO') else 0)")
    if [ "$ok" = "1" ]; then clean=1; break; fi
    sleep "$POLL_SLEEP"
  done
  [ "$clean" = "1" ] || echo "[gate] run $i: NO clean window after $MAX_POLLS polls — launching anyway (see gate log)"
  # a failed run must not leave the previous run's bench.json to be
  # recorded as its own
  rm -f target/bench.json
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    tools/run_main.sh graft.Bench > "/tmp/bench_r${ROUND}_run$i.log" 2>&1
  rc=$?
  if [ "$rc" = "0" ] && [ -f target/bench.json ]; then
    cp target/bench.json "BENCH_LOCAL_r${ROUND}_run$i.json"
    echo "[gate] run $i: rc=$rc -> BENCH_LOCAL_r${ROUND}_run$i.json"
  else
    failed=$((failed + 1))
    echo "[gate] run $i: FAILED rc=$rc — nothing recorded (log: /tmp/bench_r${ROUND}_run$i.log)"
  fi
done
if [ "$failed" != "0" ]; then
  echo "[gate] $failed of $RUNS runs failed"
  exit 1
fi
