#!/usr/bin/env bash
# Full engine-side gate battery (round-18): ScalaTest suite and the
# benchmark's own logic tests (perfbench/tests), oracle compare,
# shuffle-partition and input-layout invariance (one gate), the
# independent sketch cross-check and streaming parity, at one scale
# factor.
#
# Usage: tools/gates.sh [sfDir]          (default /root/testdata/sf0.01)
# For non-sf0.01 dirs the q50 oracle centroids are refit automatically
# via the SPARK_GRAFT_Q50_CENTROIDS override.
# Exits nonzero on the first failing gate.
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/graft_gates.XXXXXX)"

echo "[gates] 0/5 scalatest suite + benchmark logic tests"
sbt -batch test > "$OUT/suite.log" 2>&1 ||
  { grep -E "FAILED|\*\*\*" "$OUT/suite.log" | head -20; tail -5 "$OUT/suite.log"; exit 1; }
grep -hE "Tests: succeeded" "$OUT/suite.log" | tail -1
python3 -m unittest discover -s perfbench/tests > "$OUT/perfbench.log" 2>&1 ||
  { tail -20 "$OUT/perfbench.log"; exit 1; }
tail -3 "$OUT/perfbench.log" | head -1

if [ "$SF" != "/root/testdata/sf0.01" ]; then
  echo "[gates] refitting q50 centroids for $SF"
  SPARK_GRAFT_Q50_CENTROIDS="$(sbt -batch "runMain graft.tools.PrintQ50Centroids $SF" 2>/dev/null |
    awk '/CENTROIDS_BEGIN/{flag=1;next}/CENTROIDS_END/{flag=0}flag')"
  if [ -z "$SPARK_GRAFT_Q50_CENTROIDS" ]; then
    echo "[gates] FAIL: centroid refit produced no output (PrintQ50Centroids failed?)"
    exit 1
  fi
  export SPARK_GRAFT_Q50_CENTROIDS
fi

echo "[gates] 1/5 oracle gate at $SF"
sbt -batch "runMain graft.Verify $SF $OUT/verify" > "$OUT/verify.log" 2>&1 ||
  { tail -20 "$OUT/verify.log"; exit 1; }
python3 tools/compare.py "$SF" "$OUT/verify" | tail -1

echo "[gates] 2/5 invariance (shuffle partitions 7 + two rebuilt layouts vs flat at 32)"
sbt -batch "runMain graft.InvarianceCheck $SF" > "$OUT/invariance.log" 2>&1 ||
  { grep FAIL "$OUT/invariance.log" | head; exit 1; }
grep '"metric":"invariance"' "$OUT/invariance.log"

echo "[gates] 3/5 sketch cross-check"
sbt -batch "runMain graft.tools.SketchDump $SF $OUT/sketch" > "$OUT/sketch.log" 2>&1 ||
  { tail -20 "$OUT/sketch.log"; exit 1; }
python3 tools/sketch_check.py "$SF" "$OUT/sketch"

# streaming<->batch differential: defaults to sf0.1 (where the oracle
# tables live at meaningful volume); ~3 min, 6 legs incl. crash/restart.
# Overridable via SPARK_GRAFT_PARITY_SF; skipped with a loud warning when
# the directory is absent (advisor r20: a host without sf0.1 must not
# turn the whole battery red on a hardcoded path).
PARITY_SF="${SPARK_GRAFT_PARITY_SF:-/root/testdata/sf0.1}"
if [ -d "$PARITY_SF" ]; then
  echo "[gates] 4/5 streaming parity ($PARITY_SF)"
  sbt -batch "runMain graft.StreamingParityCheck $PARITY_SF" > "$OUT/sparity.log" 2>&1 ||
    { grep -E "FAIL|Exception" "$OUT/sparity.log" | head; exit 1; }
  grep -E "PASS|streaming_parity" "$OUT/sparity.log"
else
  echo "[gates] 4/5 streaming parity SKIPPED: $PARITY_SF not found (set SPARK_GRAFT_PARITY_SF)"
fi

echo "[gates] ALL GREEN at $SF"
