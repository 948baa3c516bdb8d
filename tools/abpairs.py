#!/usr/bin/env python3
"""Interleaved A/B pairs of the benchmark: a parent revision against the working tree.

Usage (from the root of a checkout):

    python3 tools/abpairs.py --workdir <dir> --workload stream_store --pairs 10 --seed0 1
    python3 tools/abpairs.py --selftest

The parent revision (default HEAD) is exported with `git archive` into
`<workdir>/parent-<sha>` and reused while that directory exists; the
change side is the working tree itself. For each seed the two sides run
`python3 perfbench/run.py --workload <w> --seed <n> --seconds <s> --trace 0`
one after the other, never at the same time, and alternate which side
runs first (even pair index: parent first). `--seconds` defaults to
BENCHMARK.json's `run_seconds`, so both sides run the same length.

Every run is kept, failures included, as one JSON line in
`<workdir>/runs.jsonl`: side, workload, seed, exit code, the last line
of standard output, the `jvm` seconds from the run's log, the run's
`failed` and `attempted` operation counts and the parsed end-to-end
metrics. The report prints the per-seed table (parent / change per
metric), then each side's share of failed operations (`failed /
attempted`, summed over the runs that reported them; a change whose
share is higher than the parent's is marked `worse`), then per metric
the medians, the parent's inter-quartile range, how many pairs the
change read lower, and a verdict against the metric's bound in
BENCHMARK.json:

- `worse than bound`: the change's median is worse than the parent's by
  more than the bound (relative to the parent's median);
- `unresolved`: otherwise, when either side's inter-quartile range is
  wider than the bound (relative to its median), unless every change run
  reads better than every parent run;
- `within bound`: otherwise.

A metric with no successful pair is unresolved. `--report-only` prints
the report from the runs already in the log.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

JVM_RE = re.compile(r"jvm ([0-9.]+)s")


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def export_parent(root, workdir, rev):
    sha = subprocess.check_output(["git", "rev-parse", "--short", rev], cwd=root, text=True).strip()
    target = os.path.join(workdir, f"parent-{sha}")
    if not os.path.isdir(target):
        staging = target + ".partial"
        subprocess.run(["rm", "-rf", staging], check=True)
        os.makedirs(staging)
        archive = subprocess.Popen(["git", "archive", sha], cwd=root, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", staging], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"git archive {sha} failed")
        os.rename(staging, target)
    return sha, target


def parse_result(stdout):
    """(last line, result dict or None) of one run's standard output."""
    lines = [l for l in stdout.splitlines() if l.strip()]
    last = lines[-1] if lines else ""
    try:
        res = json.loads(last)
    except ValueError:
        return last, None
    return last, res if isinstance(res, dict) and "metrics" in res else None


def run_once(side, checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    return record(side, workload, seed, p, time.time() - t0)


def record(side, workload, seed, p, wall_s):
    """The log record of one finished run `p` (returncode, stdout, stderr)."""
    last, res = parse_result(p.stdout)
    jvm = JVM_RE.findall(p.stderr)
    rec = {"side": side, "workload": workload, "seed": seed, "exit": p.returncode,
           "last_line": last, "wall_s": round(wall_s, 1),
           "jvm_s": float(jvm[-1]) if jvm else None,
           "failed": res.get("failed") if res else None,
           "attempted": res.get("attempted") if res else None,
           "metrics": {k: v["value"] for k, v in res["metrics"].items()} if res else None}
    if res is None or p.returncode != 0:
        rec["stderr_tail"] = p.stderr.splitlines()[-5:]
    return rec


def ok(rec):
    return rec["exit"] == 0 and rec["metrics"] is not None and rec["failed"] == 0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def failed_share(runs):
    """(failed, attempted) summed over the runs that reported both."""
    counted = [r for r in runs if r.get("failed") is not None and r.get("attempted") is not None]
    return sum(r["failed"] for r in counted), sum(r["attempted"] for r in counted)


def share_line(runs):
    """The summary line of both sides' failed-operation shares."""
    def side(name):
        failed, attempted = failed_share([r for r in runs if r["side"] == name])
        return failed, attempted, f"{name} {failed}/{attempted} ({100.0 * failed / max(1, attempted):.2f}%)"
    pf, pa, ptext = side("parent")
    cf, ca, ctext = side("change")
    worse = cf * max(1, pa) > pf * max(1, ca)
    return f"- failed / attempted: {ptext}, {ctext}: " + ("worse" if worse else "not worse")


def verdict(parent, change, bound, better):
    """Verdict of one metric from the two sides' successful values."""
    if not parent or not change:
        return "unresolved"
    sign = 1.0 if better == "lower" else -1.0
    pm, cm = statistics.median(parent), statistics.median(change)
    if pm != 0 and sign * (cm - pm) / abs(pm) > bound:
        return "worse than bound"
    all_better = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    if all_better:
        return "within bound"

    def spread(xs):
        lo, hi = quartiles(xs)
        m = statistics.median(xs)
        return (hi - lo) / abs(m) if m else 0.0
    if spread(parent) > bound or spread(change) > bound:
        return "unresolved"
    return "within bound"


def report(records, spec, out=sys.stdout):
    metrics = spec["end_to_end"]
    names = [m["name"] for m in metrics]
    for workload in sorted({r["workload"] for r in records}):
        runs = [r for r in records if r["workload"] == workload]
        seeds = sorted({r["seed"] for r in runs})
        print(f"\n### {workload}\n", file=out)
        print("| seed | order | " + " | ".join(f"{n} parent / change" for n in names) +
              " | JVM s parent / change | failed p/c |", file=out)
        print("| --- | --- | " + " | ".join("---:" for _ in names) + " | ---: | ---: |", file=out)
        pairs = []
        for seed in seeds:
            p = [r for r in runs if r["seed"] == seed and r["side"] == "parent"]
            c = [r for r in runs if r["seed"] == seed and r["side"] == "change"]
            if not p or not c:
                continue
            p, c = p[-1], c[-1]
            order = "parent first" if p["order"] < c["order"] else "change first"

            def cell(name):
                def v(r):
                    if not r["metrics"]:
                        return f"exit {r['exit']}"
                    x = r["metrics"][name]
                    return f"{x:.0f}" if x >= 100 else f"{x:.2f}"
                return f"{v(p)} / {v(c)}"

            def jvm(r):
                return "-" if r["jvm_s"] is None else f"{r['jvm_s']:.1f}"

            def failed(r):
                return "-" if r["failed"] is None else str(r["failed"])
            print(f"| {seed} | {order} | " + " | ".join(cell(n) for n in names) +
                  f" | {jvm(p)} / {jvm(c)} | {failed(p)} / {failed(c)} |", file=out)
            pairs.append((p, c))
        bad = [r for r in runs if not ok(r)]
        print(f"\n{len(pairs)} pairs, {len(runs)} runs, {len(bad)} not successful"
              + "".join(f"; {r['side']} seed {r['seed']} exit {r['exit']}: {r['last_line'][:120]}"
                        for r in bad), file=out)
        print(share_line(runs), file=out)
        for m in metrics:
            name = m["name"]
            good = [(p, c) for p, c in pairs if ok(p) and ok(c)]
            pv = [p["metrics"][name] for p, _ in good]
            cv = [c["metrics"][name] for _, c in good]
            if not good:
                print(f"- {name}: no successful pair: unresolved", file=out)
                continue
            lower = sum(1 for a, b in zip(pv, cv) if b < a)
            lo, hi = quartiles(pv)
            pm, cm = statistics.median(pv), statistics.median(cv)
            delta = 100.0 * (cm - pm) / pm if pm else 0.0
            print(f"- {name}: median {pm:.3f} -> {cm:.3f} ({delta:+.1f}%), parent IQR {hi - lo:.3f}, "
                  f"change lower {lower}/{len(good)}, bound {m['bound']:.0%}: "
                  f"{verdict(pv, cv, m['bound'], m['better'])}", file=out)


def selftest():
    spec = {"end_to_end": [{"name": "warm_s", "bound": 0.25, "better": "lower"},
                           {"name": "peak_rss_mb", "bound": 0.1, "better": "lower"}]}
    line = json.dumps({"correct": True, "attempted": 3, "failed": 0,
                       "metrics": {"warm_s": {"value": 2.0, "unit": "s"},
                                   "peak_rss_mb": {"value": 1400.0, "unit": "MB"}}})
    last, res = parse_result("# host {}\n" + line + "\n")
    assert last == line and res["failed"] == 0, res
    assert parse_result("Traceback ...\nValueError: x\n") == ("ValueError: x", None)
    assert parse_result("") == ("", None)
    assert JVM_RE.findall("[perfbench] build 1.0s, inputs 0.2s, jvm 31.5s, check 2.0s") == ["31.5"]
    # verdicts
    assert verdict([1.0, 1.0, 1.0], [1.1, 1.1, 1.1], 0.25, "lower") == "within bound"
    assert verdict([1.0, 1.0, 1.0], [1.3, 1.3, 1.3], 0.25, "lower") == "worse than bound"
    assert verdict([1.0, 0.4, 1.6, 1.0], [1.0, 1.1, 1.2, 0.9], 0.25, "lower") == "unresolved"
    assert verdict([1.0, 0.4, 1.6, 1.0], [0.3, 0.2, 0.1, 0.3], 0.25, "lower") == "within bound"
    assert verdict([10.0, 10.0], [8.0, 8.0], 0.1, "higher") == "worse than bound"
    assert verdict([10.0, 10.0], [8.0, 8.0], 0.3, "higher") == "within bound"
    assert verdict([], [1.0], 0.25, "lower") == "unresolved"

    def rec(side, seed, order, warm, rss, exit_=0, failed=0, attempted=100):
        return {"side": side, "workload": "w", "seed": seed, "order": order, "exit": exit_,
                "last_line": "", "jvm_s": 30.0, "failed": None if exit_ else failed,
                "attempted": None if exit_ else attempted,
                "metrics": None if exit_ else {"warm_s": warm, "peak_rss_mb": rss}}
    records = [rec("parent", 1, 0, 2.0, 1400), rec("change", 1, 1, 1.9, 1410),
               rec("change", 2, 2, 2.1, 1390), rec("parent", 2, 3, 2.2, 1420),
               rec("parent", 3, 4, 0, 0, exit_=1), rec("change", 3, 5, 2.0, 1400)]
    import io
    buf = io.StringIO()
    report(records, spec, buf)
    text = buf.getvalue()
    assert "| 1 | parent first | 2.00 / 1.90 | 1400 / 1410 | 30.0 / 30.0 | 0 / 0 |" in text, text
    assert "| 2 | change first |" in text, text
    assert "| 3 | parent first | exit 1 / 2.00 |" in text, text
    assert "3 pairs, 6 runs, 1 not successful" in text, text
    assert "- warm_s: median 2.100 -> 2.000 (-4.8%), parent IQR 0.100, change lower 2/2" in text, text
    # failed shares: the crashed run reports no counts and adds to neither sum
    assert "- failed / attempted: parent 0/200 (0.00%), change 0/300 (0.00%): not worse" in text, text
    assert share_line([rec("parent", 1, 0, 2.0, 1400, failed=1, attempted=100),
                       rec("change", 1, 1, 2.0, 1400, failed=2, attempted=100)]) == \
        "- failed / attempted: parent 1/100 (1.00%), change 2/100 (2.00%): worse"
    assert share_line([rec("parent", 1, 0, 2.0, 1400, failed=1, attempted=100),
                       rec("change", 1, 1, 2.0, 1400, failed=2, attempted=400)]).endswith(": not worse")
    # the run record keeps attempted next to failed
    from types import SimpleNamespace
    r = record("change", "w", 1, SimpleNamespace(returncode=0, stdout=line + "\n", stderr="jvm 31.5s"), 40.0)
    assert (r["failed"], r["attempted"], r["jvm_s"], r["metrics"]["warm_s"]) == (0, 3, 31.5, 2.0), r
    r = record("change", "w", 1, SimpleNamespace(returncode=1, stdout="", stderr="boom"), 1.0)
    assert (r["failed"], r["attempted"], r["metrics"], r["stderr_tail"]) == (None, None, None, ["boom"]), r
    print("abpairs selftest ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--workdir", help="directory for the parent export and the run log")
    ap.add_argument("--parent", default="HEAD", help="parent revision (default HEAD)")
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1, help="first seed; pair i runs seed0 + i")
    ap.add_argument("--seconds", type=float, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--report-only", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        selftest()
        return 0
    if not args.workdir:
        ap.error("--workdir is required")
    root = os.getcwd()
    spec = load_spec(root)
    os.makedirs(args.workdir, exist_ok=True)
    log_path = os.path.join(args.workdir, "runs.jsonl")
    if not args.report_only:
        for w in args.workload:
            if w not in {x["name"] for x in spec["workloads"]}:
                ap.error(f"unknown workload {w}")
        sha, parent_dir = export_parent(root, args.workdir, args.parent)
        seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
        order = 0
        if os.path.exists(log_path):
            with open(log_path) as f:
                order = sum(1 for _ in f)
        for w in args.workload:
            for i in range(args.pairs):
                seed = args.seed0 + i
                sides = [("parent", parent_dir), ("change", root)]
                if i % 2:
                    sides.reverse()
                for side, checkout in sides:
                    rec = run_once(side, checkout, w, seed, seconds)
                    rec.update({"order": order, "parent_rev": sha})
                    order += 1
                    with open(log_path, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                    print(f"[abpairs] {w} seed {seed} {side}: exit {rec['exit']} {rec['last_line'][:160]}",
                          file=sys.stderr, flush=True)
    with open(log_path) as f:
        records = [json.loads(l) for l in f if l.strip()]
    if args.workload:
        records = [r for r in records if r["workload"] in args.workload]
    report(records, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
