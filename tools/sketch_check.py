#!/usr/bin/env python3
"""Independent cross-check for the sketch estimation regimes (round-16
verdict "What's missing" #4 / next-round #6).

The engine's HLL, KLL and theta sketches are Spark's built-in
DataSketches functions (hll_*, kll_*_double, theta_*), so this is a
cross-check of Spark's built-in KLL and Theta (and HLL) as the engine
parameterizes and rolls them up.

SketchesSpec / QuantileSketchSpec / ThetaSketchSpec gate the engine's
HLL / KLL / theta estimates against THIS LIBRARY'S own exact
recomputation and self-declared error bands — sound, but a consistently
mis-parameterized estimator that stays inside its own band would pass.
This tool re-derives every band from an INDEPENDENT engine (DuckDB):

  hll    per-source and global distinct-SHINGLE estimates vs DuckDB's
         EXACT count(DISTINCT), at lgK=12 (production, ~exact here) AND
         lgK=7 (128 registers << ~1.4k distinct: forced dense-estimation
         regime, 3-sigma band ~27.6%); the per-source lgK=12 estimate is
         also checked against DuckDB's OWN HLL (approx_count_distinct,
         an independent implementation) — two estimators of different
         lineage must bracket the same truth;
  kll    p50/p99 estimates checked by their exact normalized RANK in
         DuckDB's sorted per-source n_chars (KLL k=200 rank band: 5%);
  theta  per-source and pairwise-overlap estimates at lgK=9 (k=512 <
         shingle cardinality: the ESTIMATION regime q94's exact-regime
         oracle cannot reach) vs DuckDB's exact distinct / intersection
         / Jaccard (3-sigma theta band at k=512: ~13.3%; overlap band
         relative to the UNION, the quantity the intersection
         estimator's error scales with).

The shingle stream mirrors graft.tools.SketchDump verbatim:
lower -> regex-split \\s+ -> drop empties -> 3-word shingles joined
with single spaces.

Usage: python3 tools/sketch_check.py [sfDir] [dumpDir]
(after `sbt "runMain graft.tools.SketchDump sfDir dumpDir"`).
Prints one JSON line; exit 1 on any band violation.
"""
import json
import sys

import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
dump = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sketch_dump"

con = duckdb.connect()
con.execute(f"""
  CREATE VIEW tok AS
  WITH d AS (SELECT source,
      list_filter(string_split_regex(lower(text), '\\s+'),
                  x -> len(x) > 0) AS toks
    FROM read_parquet('{sf}/documents.parquet'))
  SELECT source, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tok
  FROM d, UNNEST(range(1, greatest(len(toks) - 1, 1))) AS t(i)""")

failures = []
checks = 0


def check(ok, msg):
    global checks
    checks += 1
    if not ok:
        failures.append(msg)


exact = dict(con.execute(
    "SELECT source, count(DISTINCT tok) FROM tok GROUP BY source").fetchall())
exact_global = con.execute(
    "SELECT count(DISTINCT tok) FROM tok").fetchone()[0]
duck_hll = dict(con.execute(
    "SELECT source, approx_count_distinct(tok) FROM tok GROUP BY source"
).fetchall())

# ---- HLL (sharded-then-merged) at both parameterizations ----
for lgk in (12, 7):
    band = 3 * 1.04 / (2 ** lgk) ** 0.5  # 3-sigma RSE
    hll = con.execute(
        f"SELECT source, est_distinct"
        f" FROM read_parquet('{dump}/hll_lgk{lgk}/*.parquet')"
        " ORDER BY source").fetchall()
    check(len(hll) == len(exact), f"hll lgk{lgk}: source count mismatch")
    for source, est in hll:
        ex = exact.get(source)
        if ex is None:  # unknown source: record a band failure, don't crash
            check(False, f"hll lgk{lgk} {source}: source absent from corpus")
            continue
        check(abs(est - ex) <= band * ex,
              f"hll lgk{lgk} {source}: spark {est:.0f} vs exact {ex} "
              f"beyond {band:.3f}")
    g = con.execute(
        f"SELECT est_distinct"
        f" FROM read_parquet('{dump}/hll_global_lgk{lgk}/*.parquet')"
    ).fetchone()[0]
    check(abs(g - exact_global) <= band * exact_global,
          f"hll lgk{lgk} global: {g:.0f} vs exact {exact_global}")

# lgK=12 vs DuckDB's own HLL: independent estimators, same truth
HLL12_BAND = 3 * 1.04 / (2 ** 12) ** 0.5
hll12 = dict(con.execute(
    f"SELECT source, est_distinct"
    f" FROM read_parquet('{dump}/hll_lgk12/*.parquet')").fetchall())
for source, ex in exact.items():
    dk = duck_hll.get(source)
    sp = hll12.get(source)
    if dk is None or sp is None:  # missing source: record, don't crash
        check(False, f"hll {source}: missing from "
              + ("duckdb" if dk is None else "spark dump"))
        continue
    check(abs(dk - ex) <= 0.05 * ex,
          f"hll {source}: duckdb {dk} vs exact {ex} beyond 5%")
    check(abs(sp - dk) <= (HLL12_BAND + 0.05) * ex,
          f"hll {source}: spark {sp:.0f} vs duckdb {dk} diverge")

# ---- KLL (k=200): exact rank of the estimated quantile ----
kll = con.execute(
    f"SELECT source, q50, q99 FROM read_parquet('{dump}/kll/*.parquet')"
    " ORDER BY source").fetchall()
KLL_RANK_BAND = 0.05  # QuantileSketchSpec's band for k=200
for source, q50, q99 in kll:
    for target, est in ((0.5, q50), (0.99, q99)):
        # normalized rank of the estimate among the true values
        below, n = con.execute(
            "SELECT sum(CASE WHEN n_chars <= ? THEN 1 ELSE 0 END), count(*)"
            f" FROM read_parquet('{sf}/documents.parquet') WHERE source = ?",
            [est, source]).fetchone()
        rank = below / n
        # p99's upper rank overshoot is capped at 1.0 by construction;
        # only the downside can breach
        check(target - KLL_RANK_BAND <= rank
              and rank <= min(1.0, target + KLL_RANK_BAND) + 1e-9,
              f"kll {source} p{int(target * 100)}: est {est} has true rank "
              f"{rank:.3f}, beyond {KLL_RANK_BAND}")

# ---- theta (lgK=9, estimation regime) ----
theta = con.execute(
    f"SELECT src_a, src_b, est_a, est_b, est_overlap, est_jaccard"
    f" FROM read_parquet('{dump}/theta/*.parquet')"
    " ORDER BY src_a, src_b").fetchall()
THETA_BAND = 3 / (2 ** 9 - 1) ** 0.5  # 3-sigma at k=512 ~= 13.3%
n_sources = len(exact)
check(len(theta) == n_sources * (n_sources - 1) // 2,
      "theta: pair count mismatch")
for src_a, src_b, est_a, est_b, est_ov, est_j in theta:
    ex_a, ex_b = exact[src_a], exact[src_b]
    ex_ov, ex_un = con.execute("""
      WITH a AS (SELECT DISTINCT tok FROM tok WHERE source = ?),
           b AS (SELECT DISTINCT tok FROM tok WHERE source = ?)
      SELECT (SELECT count(*) FROM a JOIN b USING (tok)),
             (SELECT count(*) FROM (SELECT tok FROM a UNION
                                    SELECT tok FROM b))""",
      [src_a, src_b]).fetchone()
    check(abs(est_a - ex_a) <= THETA_BAND * ex_a,
          f"theta {src_a}: {est_a:.0f} vs exact {ex_a}")
    check(abs(est_b - ex_b) <= THETA_BAND * ex_b,
          f"theta {src_b}: {est_b:.0f} vs exact {ex_b}")
    # intersection error scales with the union the combined sketch sees
    check(abs(est_ov - ex_ov) <= THETA_BAND * ex_un,
          f"theta {src_a}^{src_b}: overlap {est_ov:.0f} vs exact {ex_ov} "
          f"(union {ex_un})")
    check(abs(est_j - ex_ov / ex_un) <= 0.15,
          f"theta {src_a}^{src_b}: jaccard {est_j:.3f} vs "
          f"{ex_ov / ex_un:.3f}")

print(json.dumps({
    "metric": "sketch_check", "sf": sf, "checks": checks,
    "n_sources": n_sources,
    "exact_global_distinct": exact_global,
    "failures": failures[:20],
    "n_failures": len(failures),
    "bands": {"hll12_3sigma": round(HLL12_BAND, 4),
              "hll7_3sigma": round(3 * 1.04 / (2 ** 7) ** 0.5, 4),
              "kll_rank": KLL_RANK_BAND,
              "theta_3sigma": round(THETA_BAND, 4)}}))
sys.exit(1 if failures else 0)
