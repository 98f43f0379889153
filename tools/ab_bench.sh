#!/bin/bash
# Alternating A/B bench: repo HEAD vs a baseline checkout, same host
# window, alternated A,B,A,B so slow load drift hits both arms equally.
#
# Usage: tools/ab_bench.sh /path/to/baseline-worktree [q15,q16,...]
# The baseline arm runs in the given worktree (e.g. created with
# `git worktree add /tmp/r7 <commit>`); the script refuses to run
# without it — an unpinned second arm would silently bench HEAD
# against itself and "confirm" no regression vacuously.
set -eu
BASELINE_DIR="${1:?usage: ab_bench.sh <baseline-worktree-dir> [query-list]}"
[ -f "$BASELINE_DIR/build.sbt" ] || {
  echo "no sbt project at $BASELINE_DIR" >&2; exit 1; }
HEAD_SHA="$(git -C "$(dirname "$0")/.." rev-parse HEAD)"
BASE_SHA="$(git -C "$BASELINE_DIR" rev-parse HEAD 2>/dev/null || echo none)"
[ "$HEAD_SHA" != "$BASE_SHA" ] || {
  echo "baseline is the same commit as HEAD ($HEAD_SHA) — the A/B would" \
       "compare a binary against itself" >&2; exit 1; }
QS="${2:-q15,q16,q21,q22,q23,q46,q47,q09,q11,q19,q25}"
export SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
export SPARK_GRAFT_BENCH_ONLY="$QS"
export SPARK_GRAFT_BENCH_ITERS=5
HEAD_DIR="$(cd "$(dirname "$0")/.." && pwd)"
mkdir -p /tmp/ab
for i in 1 2; do
  echo "=== arm HEAD run $i ==="
  (cd "$HEAD_DIR" && sbt -batch "runMain graft.Bench") > /tmp/ab/head_$i.log 2>&1
  grep '"metric":"total"' /tmp/ab/head_$i.log | head -1
  echo "=== arm baseline run $i ==="
  (cd "$BASELINE_DIR" && sbt -batch "runMain graft.Bench") > /tmp/ab/base_$i.log 2>&1
  grep '"metric":"total"' /tmp/ab/base_$i.log | head -1
done
echo AB_DONE
