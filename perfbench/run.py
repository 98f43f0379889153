#!/usr/bin/env python3
"""The repository benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library from
`src/main/scala` together with the benchmark's JVM side (`perfbench/`,
its own sbt build) and reuses the build while the sources are unchanged.
Each run then

1. makes the workload's inputs from the seed (gen.py) under
   `.bench_build/perfbench/runs/`,
2. starts one JVM (perfbench.Main): Spark `local[nproc]`, one client
   thread; it sets up (session build, extension registration, one
   warm-up pass) and then runs the workload for `--seconds`,
3. checks every operation's result, and
4. prints one JSON line: `correct`, `attempted`, `failed` and the
   end-to-end metrics (`--trace 0`) or the per-layer metrics
   (`--trace 1`). A traced run measures untraced, traced and untraced
   again on the same inputs, so the tracing overhead is measured too.

It exits 1 when any result is wrong, 2 when it cannot build or run.
The host stamp, the per-layer self-time table and the raw records are
written to stderr and to `report.json` in the run directory.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen    # noqa: E402
import stats  # noqa: E402

# Input sizes. The pack's tables are small on purpose: each query's fixed
# costs (DataFrame build, jobs fired while building, planning, the
# per-stage floor) dominate, which is what the workload is for.
PACK_SF = 0.01
NILM_HOUSES, NILM_HOURS = 2, 8
# A fixed, seed-independent slice of the registry, as large as the time
# budget of a benchmark run allows: the fast relational tail (q02, q09,
# q93), time series (q01), NILM labels (q34) and q127, which fires 6
# Spark jobs while its DataFrame is built. Each has oracle SQL.
PACK_QUERIES = [
    "q01_resample_avg", "q02_time_slice", "q09_anti_join", "q34_label_map",
    "q93_zorder_key", "q127_auc"]

DOC_OP = "doc_dedup"  # the pack's document-preparation operation

UNITS = {"setup_s": "s", "items_per_s": "1/s", "peak_heap_mb": "MB"}
SPAN_LAYERS = [
    "queries.build", "exec.collect",
    "sources.load", "container.write", "container.read", "nilm.resample",
    "nilm.common_channels", "tensor.windows", "tensor.write",
    "ext.redact_score", "ext.exact_dedup", "ext.sample_shard",
    "ext.jaccard_pairs", "ext.components"]
# A run's JVM lives about a minute. The pack's operations are short and
# fixed-cost bound; with C2's background compiling and G1's concurrent
# threads in that minute their run-to-run spread was several times
# larger than with C1 only and the serial collector. The ETL pass is
# heavier compute (C1 only made it half again slower), so it keeps the
# defaults. Each workload is compared only with itself.
JVM = {"interactive_pack": ["-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC"],
       "nilm_etl": []}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark; return the JVM classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        die(f"library sources not found under {ROOT}/src/main/scala")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    digest = _digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    build_log = os.path.join(BUILD, "build.log")
    log("building (sbt writeClasspath) ...")
    t0 = time.time()
    with open(build_log, "w") as out:
        try:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                                "writeClasspath"], cwd=HERE, env=env,
                               stdout=out, stderr=subprocess.STDOUT,
                               timeout=840)
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}")
    if r.returncode != 0 or not os.path.exists(cp_file):
        with open(build_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        die(f"build failed (exit {r.returncode}), see {build_log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return open(cp_file).read().strip()


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, data):
    if workload == "interactive_pack":
        return gen.pack_tables(data, seed, PACK_SF)
    return gen.nilm_trees(data, seed, NILM_HOUSES, NILM_HOURS)


# ---------------------------------------------------------------- JVM

def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def run_jvm(cp, workload, args, run_dir, timeout):
    """Run perfbench.Main; return (exit code, rusage) of the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += JVM[workload] + ["-Xms2g", "-Xmx2g", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}",
            "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out,
                             stderr=subprocess.STDOUT)
        timer = threading.Timer(timeout, p.kill)
        timer.start()
        try:
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
    p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, usage


# ---------------------------------------------------------------- checks

def check_pack(truth, run_dir, data, seed, record):
    """Failed query names: reference results that disagree with the
    DuckDB oracle SQL or with the hashes recorded for this seed."""
    import duckdb
    import pandas as pd
    bad = {}
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in truth["rows"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    hashes = {}
    for q in PACK_QUERIES:
        ref = os.path.join(run_dir, "reference", q)
        if not os.path.isdir(ref):
            bad[q] = "no reference result"
            continue
        got = pd.read_parquet(ref)
        hashes[q] = stats.canonical_hash(got)
        if q in oracle:
            exp = con.execute(oracle[q]).df()
            why = compare_frames(got, exp)
            if why:
                bad[q] = f"oracle mismatch: {why}"
    path = os.path.join(HERE, "expected_hashes.json")
    recorded = json.load(open(path)) if os.path.exists(path) else {}
    if record:
        recorded[str(seed)] = hashes
        with open(path, "w") as fh:
            json.dump(recorded, fh, indent=1, sort_keys=True)
            fh.write("\n")
    for q, h in recorded.get(str(seed), {}).items():
        if q in hashes and hashes[q] != h:
            bad.setdefault(q, "hash differs from the recorded one")
    return bad


def compare_frames(got, exp):
    """compare.py's rule: same column names; per column, compare as float
    when either side is float and as microsecond timestamps when either
    side is a timestamp; then equal as row multisets."""
    import pandas as pd
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    got, exp = got.copy(), exp.copy()
    for c in got.columns:
        kinds = {got[c].dtype.kind, exp[c].dtype.kind}
        if "M" in kinds:
            got[c] = pd.to_datetime(got[c]).astype("datetime64[us]")
            exp[c] = pd.to_datetime(exp[c]).astype("datetime64[us]")
        elif "f" in kinds:
            got[c] = got[c].astype(float)
            exp[c] = exp[c].astype(float)
    if stats.canonical_rows(got) != stats.canonical_rows(exp):
        return "values"
    return None


def nilm_wrong(obs, truth):
    if obs.get("readings") != truth["readings"]:
        return f"readings {obs.get('readings')} != {truth['readings']}"
    if obs.get("rates") != truth["rates"]:
        return f"rates {obs.get('rates')} != {truth['rates']}"
    if obs.get("windows") != truth["windows"]:
        return f"windows {obs.get('windows')} != {truth['windows']}"
    if obs.get("common_rows") != truth["common_rows"]:
        return f"common rows {obs.get('common_rows')} != {truth['common_rows']}"
    return None


def doc_wrong(obs, rep):
    want = hashlib.sha256("\n".join(
        f"{d},{rep[d]}" for d in sorted(rep)).encode()).hexdigest()
    if obs.get("assignment_sha256") != want:
        return "near-dup components differ from the planted families"
    return None


def mark_failures(workload, raw, truth, bad_queries):
    """Mark each operation failed or not; return notes on what was wrong.
    A pack query whose reference result is wrong fails every execution."""
    notes = [f"{q}: {why}" for q, why in sorted(bad_queries.items())]
    for op in raw["ops"]:
        if op["error"]:
            why = op["error"]
        elif not op["ok"]:
            why = "result differs from the reference execution"
        elif op["name"] == DOC_OP:
            why = doc_wrong(op["obs"], truth["doc_rep"]) if op["obs"] else None
        elif workload == "interactive_pack":
            why = bad_queries.get(op["name"])
        else:
            why = nilm_wrong(op["obs"], truth) if op["obs"] else None
        op["failed"] = why is not None
        if why and op["name"] not in bad_queries:
            notes.append(f"{op['phase']} {op['name']}: {why}")
    return notes


# ---------------------------------------------------------------- metrics

def items_per_op(workload, truth):
    return truth["readings"] if workload == "nilm_etl" else 1


def end_to_end(workload, raw, truth):
    ops = [o for o in raw["ops"] if o["phase"] == "untraced"]
    lat = [o["latency_s"] for o in ops]
    return {
        "setup_s": raw["setup_s"],
        "items_per_s": items_per_op(workload, truth) * len(lat) / sum(lat),
        "peak_heap_mb": max(raw["live_heap_mb"]),
    }


def per_layer(raw, trace, truth):
    """Per-operation means over the traced phase, from the spans and the
    benchmark's listeners, plus the tracing overhead."""
    spans = trace["spans"]
    ops = [s for s in spans if s["name"] == "op"]
    n = max(len(ops), 1)
    selfs = stats.self_times(spans)
    by_name = {}
    for s in spans:
        by_name[s["name"]] = by_name.get(s["name"], 0) + selfs[s["id"]]
    m = {f"{name}_s": by_name.get(name, 0) / 1e9 / n for name in SPAN_LAYERS}
    m["op.self_s"] = by_name.get("op", 0) / 1e9 / n
    name_of = {s["id"]: s["name"] for s in spans}
    m["queries.build_jobs"] = sum(
        1 for j in trace["jobs"] if name_of.get(j["span"]) == "queries.build") / n

    windows = [(s["start_ms"], s["end_ms"]) for s in ops]
    inside = [p for p in trace["phases"]
              if any(lo <= p["start_ms"] <= hi for lo, hi in windows)]
    m["catalyst.optimize_s"] = sum(p["optimize_ms"] for p in inside) / 1e3 / n
    m["catalyst.plan_s"] = sum(p["plan_ms"] for p in inside) / 1e3 / n

    jobs = [j for j in trace["jobs"] if j["span"] in name_of]
    st = [s for s in trace["stages"] if s["span"] in name_of]
    done = [s for s in st if s["completed_ms"] and s["submitted_ms"]]
    m["exec.jobs"] = len(jobs) / n
    # driver-side time: the part of each operation with no Spark job
    # running (building, analysis, planning, codegen, result handling)
    busy = [(j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"]]
    m["exec.no_job_s"] = sum(
        (hi - lo) - stats.union_length((max(a, lo), min(b, hi)) for a, b in busy
                                       if b > lo and a < hi)
        for lo, hi in windows) / 1e3 / n
    m["exec.stages"] = len(st) / n
    m["exec.tasks"] = sum(s["tasks"] for s in st) / n
    m["exec.s_per_stage"] = (sum(s["completed_ms"] - s["submitted_ms"]
                                 for s in done) / 1e3 / len(done)) if done else 0.0
    m["exec.task_overhead_s"] = sum(s["task_ms"] - s["run_ms"] for s in st) / 1e3 / n
    m["exec.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in st) / n
    m["exec.shuffle_read_bytes"] = sum(s["shuffle_read"] for s in st) / n
    m["exec.spill_bytes"] = sum(s["spill"] for s in st) / n
    m["exec.peak_exec_mem_bytes"] = max([s["peak_exec_mem"] for s in st] or [0])
    m["exec.failed_tasks"] = sum(s["failed_tasks"] for s in trace["stages"])

    traced = [o for o in raw["ops"] if o["phase"] == "traced"]
    untraced = [o for o in raw["ops"] if o["phase"] == "untraced"]
    m["caching.high_water"] = max([o["high_water"] for o in traced] or [0])
    cb = [o["obs"]["container_bytes"] for o in traced if "container_bytes" in o["obs"]]
    m["container.bytes"] = statistics.mean(cb) if cb else 0
    m["container.bytes_per_reading"] = (m["container.bytes"] / truth["readings"]
                                        if cb else 0)
    yields = [o["obs"]["pairs"] / o["obs"]["candidates"] for o in traced
              if o["obs"].get("candidates", 0) > 0]
    m["ext.verify_yield"] = statistics.mean(yields) if yields else 0
    m["ops.measured"] = len(untraced) + len(traced)
    lat = [o["latency_s"] for o in untraced]
    m["op.p50_s"] = stats.percentile(lat, 50)
    m["op.p90_s"] = stats.percentile(lat, 90)
    m["op.cpu_s"] = statistics.mean(o["cpu_s"] for o in untraced)
    m["trace.overhead_pct"] = overhead_pct(untraced, traced)
    return m


def overhead_pct(untraced, traced):
    """Traced over untraced latency, per operation name (each query, or
    the one pipeline pass), as a median percentage."""
    def med(ops):
        by = {}
        for o in ops:
            key = o["name"] if not o["name"].startswith("pass") else "pass"
            by.setdefault(key, []).append(o["latency_s"])
        return {k: statistics.median(v) for k, v in by.items()}
    u, t = med(untraced), med(traced)
    ratios = [t[k] / u[k] for k in t if k in u and u[k] > 0]
    return 100.0 * (statistics.median(ratios) - 1.0) if ratios else 0.0


LAYER_UNITS = {"_s": "s", "_bytes": "bytes", "_jobs": "count", "_pct": "%"}


def layer_unit(name):
    if name == "exec.s_per_stage":
        return "s"
    if name.endswith("_mb"):
        return "MB"
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    if name in ("ext.verify_yield", "failed_ops_ratio"):
        return "ratio"
    if name.startswith("container.bytes"):
        return "bytes"
    return "count"


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive_pack", "nilm_etl"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="record this seed's pack result hashes")
    a = ap.parse_args()

    cp = build()
    t_start = time.time()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    truth = make_inputs(a.workload, a.seed, data)

    nproc = len(os.sched_getaffinity(0))
    load_before = loadavg()
    args = ["--workload", a.workload, "--data", data, "--out", run_dir,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--seed", str(a.seed), "--cores", str(nproc),
            # the pack is an interactive session, set up with one warm-up
            # pass; nilm_etl is a batch job, run once per JVM, so its first
            # pass is the one measured
            "--warmup", "1" if a.workload == "interactive_pack" else "0"]
    if a.workload == "interactive_pack":
        args += ["--queries", ",".join(PACK_QUERIES)]
    budget = 170 - (time.time() - t_start)
    code, usage = run_jvm(cp, a.workload, args, run_dir, budget)
    load_after = loadavg()
    raw_path = os.path.join(run_dir, "raw.json")
    if code != 0 or not os.path.exists(raw_path):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"JVM exited with {code} (log: {run_dir}/jvm.log)")
    with open(raw_path) as fh:
        raw = json.load(fh)

    bad = (check_pack(truth, run_dir, data, a.seed, a.record)
           if a.workload == "interactive_pack" else {})
    notes = mark_failures(a.workload, raw, truth, bad)
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if o["failed"])
    host = {"nproc": nproc, "loadavg_before": load_before,
            "loadavg_after": load_after,
            "jvm_cpu_s": usage.ru_utime + usage.ru_stime,
            "jvm_peak_rss_mb": usage.ru_maxrss / 1024.0,
            "spark_master": raw["jvm"]["spark_master"],
            "spark_task_threads": raw["jvm"]["spark_task_threads"],
            "jvm_threads_live": raw["jvm"]["threads_live"],
            "jvm_threads_peak": raw["jvm"]["threads_peak"],
            "wall_s": raw["wall_s"], "setup_cpu_s": raw["setup_cpu_s"]}
    log("host " + json.dumps(host))
    for note in notes[:20]:
        log("WRONG " + note)

    if a.trace:
        with open(os.path.join(run_dir, "trace.json")) as fh:
            trace = json.load(fh)
        values = per_layer(raw, trace, truth)
        values["failed_ops_ratio"] = failed / attempted
        values["jvm.peak_rss_mb"] = usage.ru_maxrss / 1024.0
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in values.items()}
        rows = sorted(((k, v) for k, v in values.items()
                       if k[:-2] in SPAN_LAYERS + ["op.self"] and v > 0),
                      key=lambda kv: -kv[1])
        log("self time per operation: " + ", ".join(
            f"{k}={v:.4f}" for k, v in rows))
    else:
        values = end_to_end(a.workload, raw, truth)
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
        log(f"{len([o for o in raw['ops'] if o['phase'] == 'untraced'])} "
            f"measured operations")

    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    with open(os.path.join(run_dir, "report.json"), "w") as fh:
        json.dump({"host": host, "wrong": notes, "result": result}, fh,
                  indent=1)
    for sub in ("data", "work", "reference", "spark-local", "tmp",
                "warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    print(json.dumps(result), flush=True)
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
