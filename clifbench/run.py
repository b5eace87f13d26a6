#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh JVM, one result line.

Usage (from the repository root):
  python3 clifbench/run.py --workload clif_etl|board \
      --seed N --seconds S --trace 0|1

Builds the engine and the harness with sbt when their sources changed
(into $CARGO_TARGET_DIR, default .bench_build), runs `clifbench.Main`
at local[<cpus>], checks every output, and prints as its last stdout
line {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. The line before it ("report: {...}") carries the run's
context: load average, stray JVMs, set-up rounds, failures, what the
session left behind and, when traced, the tracing overhead.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 170
# Per-layer prefixes a workload never touches: they report 0 there.
UNTOUCHED = {"clif_etl": ("stream.",), "board": ("clif.",)}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[clifbench] {msg}", file=sys.stderr, flush=True)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def stray_java():
    """PIDs of running JVMs that this process did not start."""
    out = []
    for d in glob.glob("/proc/[0-9]*"):
        try:
            with open(os.path.join(d, "cmdline"), "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            out.append(int(os.path.basename(d)))
    return sorted(out)


def source_stamp():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if "/target" in f:
            continue
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(build_dir):
    """Compile with sbt if the sources changed; returns the classpath."""
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(build_dir, exist_ok=True)
    log("building with sbt ...")
    env = dict(os.environ, CLIFBENCH_TARGET=os.path.join(build_dir, "sbt"))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("clifbench: build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def run_jvm(cp, args, work, t0_ms):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "clifbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--t0-ms", str(t0_ms)]
    if args.record:
        cmd.append("--record")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"clifbench: JVM exited with {code}")
    with open(os.path.join(work, "jvm_result.json")) as f:
        return json.load(f)


def check_board_contents(work):
    """Compares each query's written result with its DuckDB oracle, with
    tools/check.py's canonicalization. Returns (checked, failures)."""
    import pandas as pd
    from prepare import canon_digest
    rounds = sorted(glob.glob(os.path.join(work, "round*")))
    with open(os.path.join(rounds[-1], "expected.json")) as f:
        expected = json.load(f)
    failures = []
    for name, exp in sorted(expected.items()):
        files = glob.glob(os.path.join(work, "results", name, "*.parquet"))
        if not files:
            failures.append(f"{name}: no result written")
            continue
        got = canon_digest(pd.concat([pd.read_parquet(f) for f in files]))
        common = sorted(set(got["kinds"]) & set(exp["kinds"]))
        kinds = [c for c in common if got["kinds"][c] != exp["kinds"][c]]
        if kinds:
            failures.append(f"{name}: dtype-kind mismatch {kinds}")
        elif (got["rows"], got["hash"]) != (exp["rows"], exp["hash"]):
            failures.append(f"{name}: content differs from oracle "
                            f"({got['rows']} vs {exp['rows']} rows)")
    return len(expected), failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["clif_etl", "board"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the CLIF outputs of this seed's data variant")
    args = ap.parse_args()
    os.chdir(ROOT)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("clifbench: engine sources (src/main/scala) not found")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    strays = stray_java()
    load0 = loadavg()
    if strays:
        log(f"WARNING: {len(strays)} JVM(s) already running {strays}; "
            "timings may be inflated")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)
    sys.path.insert(0, HERE)

    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work, int(time.time() * 1000))
        attempted, failures = res["attempted"], list(res["failures"])
        failed = res["failed"]
        if args.workload != "clif_etl":
            checked, bad = check_board_contents(work)
            attempted += checked
            failed += len(bad)
            failures += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        # a layer the workload does not touch reports 0; any other metric
        # the probe did not measure fails the run
        untouched = UNTOUCHED[args.workload]
        layers = res["per_layer"]
        missing = [m["name"] for m in spec["per_layer"]
                   if m["name"] not in layers and not m["name"].startswith(untouched)]
        attempted += 1
        if missing:
            failed += 1
            failures.append(f"per-layer metrics not measured: {missing}")
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(res["end_to_end"][m["name"]]),
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    report = dict(res["report"])
    report.update(attempted=attempted, failed=failed, loadavg_start=load0,
                  loadavg_end=loadavg(), stray_java_at_start=len(strays),
                  failed_op_ratio=failed / attempted, failures=failures[:20])
    print("report: " + json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
