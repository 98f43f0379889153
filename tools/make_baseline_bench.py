#!/usr/bin/env python3
"""Build BASELINE_BENCH.json from one Bench run (round-16 verdict #3).

The input is the `target/bench_last.json` produced by one `graft.Bench`
run, recorded on an otherwise-idle host. Bench iterates round-robin
across queries (its only iteration order), so every query's reference
median lands in the "interleaved" column. `graft.Bench` reads the
committed file on every run and emits per-query ratios + an OVER_2X
line against that column, so 2x-bound adjudication is a mechanical
artifact diff.

Usage:
  python3 tools/make_baseline_bench.py <bench_last.json> <round_tag> \
      > BASELINE_BENCH.json
"""
import json
import sys

inter_path, round_tag = sys.argv[1], sys.argv[2]

with open(inter_path) as f:
    itl = json.loads(f.readline())
assert itl.get("metric") == "total", inter_path

out = {
    "recorded_round": round_tag,
    "sf": itl["sf"],
    "iters": {"interleaved": itl.get("iters")},
    "loadavg": {"interleaved": [itl.get("loadavg_before"),
                                itl.get("loadavg_after")]},
    "protocol": ("medians of >=5 iterations after one untimed warm-up, "
                 "collect() sink, local[32], iterations round-robin "
                 "across queries (see Bench.scala)"),
    "queries": {q: {"interleaved": itl["queries"][q]}
                for q in sorted(itl["queries"])},
}
json.dump(out, sys.stdout, indent=1)
print()
