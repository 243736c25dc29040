#!/usr/bin/env python3
"""Benchmark of the graft engine: one named workload in a fresh JVM.

    python3 perfbench/run.py --workload etl_small --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --record --workload etl_small

Run from the root of a checkout. The first run builds the engine and the
harness in perfbench/harness with sbt (offline) into .bench_build/; later
runs start the JVM straight from the exported classpath. The JVM runs the
workload's queries on local[nproc] (see perfbench/harness/.../Main.scala),
this script checks every query's fingerprint against
perfbench/fingerprints/<workload>.json, measures and deletes what the run
left in its own temp, local and warehouse dirs, and prints two lines: a
report with every metric, the host record and the session conf, then, last,
the result object: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1.

--record runs each query once, writes its result as parquet, and keeps the
fingerprint of each result that tools/compare.py passes against the
query's DuckDB oracle at the workload's scale factor.

The tables are read from $PERFBENCH_DATA (default ~/testdata), one
directory per scale factor.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
DATA = os.environ.get("PERFBENCH_DATA",
                      os.path.join(os.path.expanduser("~"), "testdata"))

# Why each workload exists and why it is this small: see NOTES.md.
WORKLOADS = {
    "etl_small": {
        "sf": "sf0.01",
        "queries": [
            "q_p2_rename_positional", "q_f_filters", "q_a2_distinct",
            "q_o3_topk", "q_m6_classify", "q_w2_forward_fill",
            "q_e1_pipeline", "q_semi_join", "q_agg_q1"],
    },
    "ingest": {
        "sf": "sf0.01",
        "queries": [
            "q_s_csv_roundtrip", "q_s_orc_roundtrip", "q_s1_html_table",
            "q_s1_staged_pages", "q_stream_daily_agg"],
    },
}

# The pass policy (warm-up and minimum passes, tail percentile,
# calibration size and its healthy reading, nproc) lives in Main.scala,
# which writes what it used into its result.
HEAP = "4g"
JVM_TIMEOUT_S = 170

# build.sbt's javaOptions for forked runs, which Bench.scala runs under
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = [
    ("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s"),
    ("query_ms_p50", "ms"), ("query_ms_tail", "ms"),
    ("heap_retained_mb", "MB"),
]
# Reported beside the gated metrics, not gated. A gated metric must never
# read 0, and tmp_left_mb reads 0 on etl_small (not on ingest, whose sinks
# and staged sources leave temp dirs), failed_frac on a healthy tree.
# cpu_s_per_pass holds the JIT's compiler threads, which still compile
# about 1300 methods in every warm pass: its spread between runs reached
# 0.395, past the largest bound a gated metric may have (see NOTES.md).
END_TO_END_UNGATED = [("cpu_s_per_pass", "s"), ("tmp_left_mb", "MB"),
                      ("failed_frac", "ratio")]

PER_LAYER = [
    ("session.start_s", "s"), ("artifacts.build_s", "s"),
    ("queries.build_ms", "ms"), ("planner.analysis_ms", "ms"),
    ("planner.optimization_ms", "ms"), ("planner.planning_ms", "ms"),
    ("codegen.compiles", "count"), ("codegen.compile_ms", "ms"),
    ("codegen.compiles_warm", "count"), ("scheduler.jobs", "count"),
    ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.overhead_ms", "ms"), ("executor.run_ms", "ms"),
    ("executor.cpu_ms", "ms"), ("executor.gc_ms", "ms"),
    ("executor.busy_frac", "ratio"), ("shuffle.write_mb", "MB"),
    ("shuffle.read_mb", "MB"), ("shuffle.fetch_wait_ms", "ms"),
    ("shuffle.skew", "ratio"), ("spill.disk_mb", "MB"),
    ("spill.mem_mb", "MB"), ("scan.read_mb", "MB"), ("scan.rows", "count"),
    ("sink.write_mb", "MB"), ("sink.records", "count"),
    ("streaming.batches", "count"), ("streaming.batch_ms_p50", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.commit_ms", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_mem_mb", "MB"),
    ("cache.rdds_left", "count"), ("cache.mem_mb_left", "MB"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("host.calib_s", "s"), ("run.tmp_left_mb", "MB"),
    ("run.failed_frac", "ratio"), ("trace.overhead_s", "s"),
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Files whose content decides the build, relative to ROOT."""
    out = ["build.sbt", os.path.join("project", "build.properties")]
    for top in ("src", os.path.join("perfbench", "harness")):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs
                             if x not in ("target", "project", "test"))
            out += [os.path.relpath(os.path.join(d, f), ROOT)
                    for f in sorted(files)]
    out += [os.path.join("perfbench", "harness", "project", "build.properties")]
    return out


def build():
    """Compiles the engine and the harness once per source state and
    returns the harness's runtime classpath."""
    digest = hashlib.sha256()
    for rel in build_inputs():
        digest.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if r.returncode != 0 or not cp:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail("build failed; log in " + log, 1)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def run_jvm(cp, args, run_dir, log_path, timeout):
    """Runs the harness with its temp, local and warehouse dirs under
    run_dir, and its working dir there too, so every byte it leaves can be
    measured and removed."""
    dirs = {k: os.path.join(run_dir, k)
            for k in ("tmp", "local", "warehouse", "cwd")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    cmd = (["java", "-Xmx" + HEAP]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Djava.io.tmpdir=" + dirs["tmp"], "-cp", cp, "perfbench.Main",
              "--local-dir", dirs["local"],
              "--warehouse-dir", dirs["warehouse"]] + args)
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=dirs["cwd"], stdout=log,
                               stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
    return r.returncode


def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def log_tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def nearest_rank(values, p):
    s = sorted(values)
    k = max(1, -(-len(s) * p // 100))
    return s[int(k) - 1]


def check_fingerprints(res, expected):
    bad = {}
    for q, fp in sorted(res["fingerprints"].items()):
        want = expected.get(q)
        if "error" in fp:
            bad[q] = fp["error"]
        elif want is None:
            bad[q] = "no committed fingerprint"
        elif (fp["rows"], fp["hash"]) != (want["rows"], want["hash"]):
            bad[q] = "got %s rows %s, want %s rows %s" % (
                fp["rows"], fp["hash"], want["rows"], want["hash"])
    return bad


def metric(v, unit):
    return {"value": v, "unit": unit}


def bench(a, wl, cp):
    spec = WORKLOADS[wl]
    sf_dir = os.path.join(DATA, spec["sf"])
    tag = "%s-seed%d-trace%d-%d" % (wl, a.seed, a.trace, os.getpid())
    run_dir = os.path.join(BUILD, "runs", tag)
    out = os.path.join(BUILD, "results", tag + ".json")
    spans = os.path.join(BUILD, "traces", tag + ".json")
    log = os.path.join(BUILD, "logs", tag + ".log")
    for d in (run_dir, os.path.dirname(out), os.path.dirname(spans),
              os.path.dirname(log)):
        os.makedirs(d, exist_ok=True)
    load = os.getloadavg()
    args = ["--mode", "bench", "--workload", wl, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", sf_dir, "--queries", ",".join(spec["queries"]),
            "--out", out, "--spans", spans]
    try:
        rc = run_jvm(cp, args, run_dir, log, JVM_TIMEOUT_S)
        tmp_left_mb = tree_bytes(run_dir) / 2**20
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        print(log_tail(log), file=sys.stderr)
        fail("the JVM %s; log in %s" % (
            "timed out" if rc is None else "exited with %s" % rc, log), 1)
    with open(out) as f:
        res = json.load(f)

    fp_file = os.path.join(HERE, "fingerprints", wl + ".json")
    expected = {}
    if os.path.exists(fp_file):
        with open(fp_file) as f:
            expected = json.load(f)
    bad = check_fingerprints(res, expected)
    passes = [res["cold"]] + res["warmup"] + res["warm"]
    errors = [(e["query"], e["error"]) for p in passes for e in p["execs"]
              if e["error"]]
    attempted = sum(len(p["execs"]) for p in passes) + len(res["fingerprints"])
    failed = len(errors) + len(bad)

    warm = res["warm"]
    warm_ms = [e["ms"] for p in warm for e in p["execs"] if not e["error"]]
    p_tail = res["tail_percentile"]
    e2e = {
        "setup_s": res["setup_s"],
        "cold_pass_s": res["cold"]["pass_s"],
        "pass_s": statistics.median(p["pass_s"] for p in warm),
        "query_ms_p50": statistics.median(warm_ms) if warm_ms else 0.0,
        "query_ms_tail": nearest_rank(warm_ms, p_tail) if warm_ms else 0.0,
        "cpu_s_per_pass": statistics.median(p["cpu_s"] for p in warm),
        "heap_retained_mb": res["heap_retained_mb"],
        "tmp_left_mb": tmp_left_mb,
        "failed_frac": failed / attempted,
    }
    units = dict(END_TO_END + END_TO_END_UNGATED)
    report = {
        "workload": wl, "sf": spec["sf"], "seed": a.seed, "trace": a.trace,
        "end_to_end": {k: metric(v, units[k]) for k, v in e2e.items()},
        "query_ms_tail": {"percentile": p_tail, "samples": len(warm_ms)},
        "warm_passes": len(warm), "attempted": attempted, "failed": failed,
        "errors": errors[:10], "fingerprint_failures": bad,
        "host": {"calib_s": res["calib_s"],
                 "healthy_calib_s": res["healthy_calib_s"],
                 "calib_degraded": res["calib_s"] > 2 * res["healthy_calib_s"],
                 "nproc": res["cpus"], "loadavg": load},
        "session_start_s": res["session_start_s"], "conf": res["conf"],
    }
    if a.trace:
        layers = dict(res["layers"])
        layers.update({
            "session.start_s": res["session_start_s"],
            "jvm.heap_peak_mb": res["heap_peak_mb"],
            "host.calib_s": res["calib_s"],
            "run.tmp_left_mb": tmp_left_mb,
            "run.failed_frac": failed / attempted,
            "trace.overhead_s": res["trace_overhead_s"],
        })
        # a layer with no events in the run reads 0 (streaming.* on
        # etl_small); Main fails the run if planner.* saw no executions
        metrics = {k: metric(float(layers.get(k, 0.0)), u)
                   for k, u in PER_LAYER}
        report["span_self_ms"] = res["span_self"]
        report["spans_file"] = os.path.relpath(spans, ROOT)
    else:
        metrics = {k: metric(e2e[k], u) for k, u in END_TO_END}
    print(json.dumps(report, sort_keys=True))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


def record(wl, cp):
    spec = WORKLOADS[wl]
    sf_dir = os.path.join(DATA, spec["sf"])
    out_dir = os.path.join(BUILD, "record", wl)
    run_dir = os.path.join(BUILD, "runs", "record-" + wl)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    log = os.path.join(BUILD, "logs", "record-%s.log" % wl)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    args = ["--mode", "record", "--workload", wl, "--data", sf_dir,
            "--queries", ",".join(spec["queries"]),
            "--record-dir", out_dir]
    try:
        rc = run_jvm(cp, args, run_dir, log, 3600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0:
        print(log_tail(log), file=sys.stderr)
        fail("record run failed; log in " + log, 1)
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "compare.py"), sf_dir,
         out_dir], cwd=os.path.join(BUILD, "record"), capture_output=True,
        text=True)
    passed = {ln.split()[1] for ln in r.stdout.splitlines()
              if ln.startswith("PASS ")}
    with open(os.path.join(out_dir, "fingerprints.json")) as f:
        fps = json.load(f)
    keep, missing = {}, []
    for q in sorted(spec["queries"]):
        fp = fps[q]
        if q in passed and fp["hash"] == fp["direct_hash"]:
            keep[q] = {"rows": fp["rows"], "hash": fp["hash"]}
        else:
            missing.append(q)
    with open(os.path.join(HERE, "fingerprints", wl + ".json"), "w") as f:
        json.dump(keep, f, indent=1, sort_keys=True)
        f.write("\n")
    print("recorded %d of %d fingerprints for %s at %s" % (
        len(keep), len(spec["queries"]), wl, spec["sf"]))
    for q in missing:
        print("  not recorded: %s (%s)" % (
            q, "compare.py failed" if q not in passed
            else "parquet copy and direct result differ"))
    return 1 if missing else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src"))):
        fail("no engine sources at %s: run from the root of a full "
             "checkout" % ROOT)
    sf_dir = os.path.join(DATA, WORKLOADS[a.workload]["sf"])
    if not os.path.isdir(sf_dir):
        fail("no tables at %s; set PERFBENCH_DATA" % sf_dir)
    cp = build()
    sys.exit(record(a.workload, cp) if a.record else bench(a, a.workload, cp))


if __name__ == "__main__":
    main()
