#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (into $CARGO_TARGET_DIR, default
.bench_build); later runs reuse the build while the sources are unchanged.
Each run generates the seed's inputs, runs the workload in its own JVM
(set-up, one cold iteration, warm iterations for --seconds), checks the
outputs, and prints one JSON result as the last line of standard output.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
records the per-layer trace and reports the per-layer metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# the source tables: <testdata>/sf<scale>/<table>.parquet
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))
# A fixed heap and young generation: the peak resident set then follows the
# old generation's growth instead of G1's run-to-run heap sizing.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# workload -> (scale factor, tables it reads). query_mix and stream_store
# run on sf0.01 so that the benchmark's schedule fits its time budget (see
# README.md).
WORKLOADS = {
    "mailing_daily": ("0.1", ["customer", "orders", "events", "nation"]),
    "query_mix": ("0.01", ["customer", "orders", "events", "documents"]),
    "stream_store": ("0.01", ["documents", "events"]),
}


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, bdir):
    """Compiles program + benchmark; returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            same, classpath = f.read() == stamp, g.read()
        if same and all(os.path.exists(p) for p in classpath.split(os.pathsep)):
            return classpath
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = [os.environ.get("SBT_OPTS", ""), "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
            "-Dsbt.global.base=" + os.path.join(bdir, "sbt-global")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append("-Dsbt.repository.config=" + repos)
    env["SBT_OPTS"] = " ".join(opts)
    log("building (first run in this checkout)")
    build_log = os.path.join(bdir, "build.log")
    with open(build_log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                             "export perfbench/Runtime/fullClasspath"], cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=BUILD_TIMEOUT_S).returncode
    with open(build_log) as f:
        lines = [ln.strip() for ln in f]
    cps = [ln for ln in lines if ln.endswith(".jar") and ":" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        raise RuntimeError(f"build failed (rc={rc}); see {build_log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, workload, input_dir, run_dir, seconds, trace, n, deadline):
    _, tables = WORKLOADS[workload]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_MEMORY
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              "-cp", classpath, "perfbench.Main", workload, input_dir, run_dir, str(seconds),
              str(trace), str(n), ",".join(tables)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("workload JVM timed out")
    if rc != 0:
        raise RuntimeError(f"workload JVM exited with {rc}")
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(run_dir, "oracle.json")) as f:
        res["oracle"] = json.load(f)
    return res


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). Below 21 samples that percentile would sit under
    the median, so the tail is the maximum instead."""
    s = sorted(values)
    k = len(s) - 11
    if k < len(s) // 2:
        return s[-1], 100.0
    return s[k], 100.0 * (k + 1) / len(s)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this seed's output hashes as the expected ones")
    args = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(root, "BENCHMARK.json")):
        log("no graft sources under ./src/main/scala: run from the root of a checkout")
        return 2
    scale, tables = WORKLOADS[args.workload]
    source = os.path.join(TESTDATA, f"sf{scale}")
    if not os.path.isdir(source):
        log(f"source tables not found at {source} (set PERFBENCH_TESTDATA)")
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bdir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(root, bdir)
    build_s = time.time() - started

    run_dir = os.path.join(bdir, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    input_dir = os.path.join(run_dir, "input")
    try:
        t0 = time.time()
        rows, nbytes = gen.generate(source, input_dir, tables, args.seed)
        t1 = time.time()
        res = run_jvm(classpath, args.workload, input_dir, run_dir, args.seconds, args.trace,
                      cores(), started + build_s + RUN_TIMEOUT_S)
        t2 = time.time()
        verdict = check.check(args.workload, args.seed, run_dir, input_dir, tables,
                              res["oracle"], record=args.record)
        log(f"build {build_s:.1f}s, inputs {t1 - t0:.1f}s, jvm {t2 - t1:.1f}s, "
            f"check {time.time() - t2:.1f}s")
    except Exception:
        jvm_log = os.path.join(run_dir, "jvm.log")
        if os.path.exists(jvm_log):
            keep = os.path.join(bdir, "last_failure.log")
            shutil.copyfile(jvm_log, keep)
            log(f"JVM log kept at {keep}")
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = res["failed"] + len(verdict["failures"])
    attempted = res["attempted"] + verdict["checked"]
    for f in verdict["failures"]:
        log(f"check failed: {f}")
    for e in res["errors"]:
        log(f"error: {e}")
    warm = res["warm_s"]
    ops = res["ops_s"]
    tail_v, tail_pct = tail(ops) if ops else (0.0, 0.0)
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "cold_s": res["cold_s"],
        "warm_s": statistics.median(warm) if warm else 0.0,
        "batch_p50_s": statistics.median(ops) if ops else 0.0,
        "batch_tail_s": tail_v,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    host = dict(res["host"], **res["strings"])
    host.update({"workload": args.workload, "seed": args.seed, "scale": scale,
                 "jvm_memory": " ".join(JVM_MEMORY),
                 "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
                 "input_rows": rows, "input_mb": nbytes / 1e6,
                 "samples": {"setup_s": len(res["setup_s"]), "warm_s": len(warm),
                             "batch": len(ops), "tail_pct": tail_pct},
                 "setups_s": res["setup_s"], "ops_s": ops,
                 "fail_ratio": failed / max(1, attempted)})
    print("# host " + json.dumps(host, sort_keys=True))
    if args.trace:
        layer = dict(res["layer"])
        layer.update({
            "trace.warm_s": e2e["warm_s"],
            "input.rows": rows, "input.mb": nbytes / 1e6,
            "host.nproc": res["host"]["nproc"], "host.cores": res["host"]["cores"],
            "host.xmx_mb": res["host"]["xmx_mb"],
            "host.ambient_cores": res["host"]["ambient_cores"],
            "e2e.warm_n": len(warm), "e2e.batch_n": len(ops), "e2e.tail_pct": tail_pct,
        })
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
