#!/usr/bin/env python3
"""Run one benchmark measurement and print its result as the last stdout line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of the repository. The first run builds the program and
the harness (perfbench/build.sbt) with sbt; later runs reuse the build
while the sources are unchanged. Each run is one fresh JVM. See
perfbench/README.md for the workloads and metrics.

    python3 perfbench/run.py --record-digests VERIFY_DIR

writes perfbench/expected/digests.json from the parquet results of a
`graft.Verify` run at sf0.1 over the benchmark queries.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

BUILD = ".bench_build"
WORKLOADS = ("queries", "pipeline_deliveries")
DEADLINE_S = 170.0

# Metric names and units are defined once, in BENCHMARK.json at the root.
SPEC = os.path.join(HERE, "..", "BENCHMARK.json")

JAVA_OPTS = [
    "-Xms4g", "-Xmx4g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = ["build.sbt", "src/main/scala", os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "build.sha")
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = source_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "-Dsbt.override.build.repos=true "
                              "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                              " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    return cp


def data_dirs():
    """The query data: $PERFBENCH_DATA, else the directory TESTDATA.md names."""
    base = os.environ.get("PERFBENCH_DATA")
    if base is None and os.path.isfile("TESTDATA.md"):
        with open("TESTDATA.md") as f:
            m = re.search(r"`([^`]+)/sf0\.1/?`", f.read())
        base = m and m.group(1)
    if not base:
        fail("query data directory unknown (set PERFBENCH_DATA)")
    warm, data = os.path.join(base, "sf0.01"), os.path.join(base, "sf0.1")
    for d in (warm, data):
        if not os.path.isdir(d):
            fail(f"query data directory {d} not found (set PERFBENCH_DATA)")
    return warm, data


def run_jvm(cp, args, work, deadline):
    """Run perfbench.Main in a fresh JVM; returns its launch time (epoch s)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.stream.error.file={work}/derby.log",
        f"-Dderby.system.home={work}", "-cp", cp, "perfbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as jvm_log:
        launched = time.time()
        proc = subprocess.Popen(cmd, stdout=jvm_log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")
    return launched


def metrics(raw, launched, trace):
    ok = [o["s"] for o in raw["ops"] if o["error"] is None]
    timed = raw["timed_s"]
    with open(SPEC) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    if trace:
        vals = dict(raw["counters"], **{
            "jvm.jit_s": raw["jvm_jit_s"],
            "jvm.gc_s": raw["jvm_gc_s"],
            "trace.ops_per_s": len(ok) / timed,
        })
    else:
        vals = {
            "setup_s": raw["warm_end_ms"] / 1000.0 - launched,
            "ops_per_s": len(ok) / timed,
            "op_s.p50": statistics.median(ok) if ok else timed,
            "rows_per_s": raw["rows"] / timed,
            "peak_rss_mb": raw["peak_rss_mb"],
        }
    # a layer this workload does not enter reads 0
    return {m["name"]: {"value": vals.get(m["name"], 0.0) if trace else vals[m["name"]],
                        "unit": m["unit"]} for m in spec}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", metavar="VERIFY_DIR")
    a = ap.parse_args()
    if a.workload is None and not a.record_digests:
        ap.error("--workload is required")
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        fail("run from the repository root: the program's sources (src/main/scala) are missing")
    cp = build()
    deadline = time.time() + DEADLINE_S
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    work = os.path.abspath(os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.record_digests:
            out = os.path.join(HERE, "expected", "digests.json")
            run_jvm(cp, ["--digest", out, os.path.abspath(a.record_digests), work], work,
                    time.time() + 600)
            log(f"wrote {out}")
            return
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work", work,
                    "--out", os.path.join(work, "result.json")]
        if a.workload == "pipeline_deliveries":
            inputs, warm = os.path.join(work, "inputs"), os.path.join(work, "warm_inputs")
            gen.generate(inputs, a.seed, **gen.TIMED)
            gen.generate(warm, a.seed + 1_000_003, **gen.WARM)
            jvm_args += ["--inputs", inputs, "--warm-inputs", warm]
        else:
            warm_dir, data_dir = data_dirs()
            jvm_args += ["--warm-dir", warm_dir, "--data-dir", data_dir,
                         "--expected", os.path.join(HERE, "expected", "digests.json")]
        launched = run_jvm(cp, jvm_args, work, deadline)
        with open(os.path.join(work, "result.json")) as f:
            raw = json.load(f)
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            trace_file = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
            with open(os.path.join(work, "spans.json")) as f:
                spans = f.read()
            with open(trace_file, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "self_s": raw["self_s"],
                           "counters": raw["counters"], "spans": json.loads(spans)}, f, indent=1)
        bad_guard = {q: lost for q, lost in raw["guard"].items() if lost}
        for q, lost in bad_guard.items():
            log(f"plan guard FAILED for {q}: the timed action lost {lost}")
        failed = sum(1 for o in raw["ops"] if o["error"] is not None)
        bad_checks = [c for c in raw["checks"] if not c["ok"]]
        correct = failed == 0 and not bad_checks and not bad_guard
        out = {"correct": correct, "attempted": len(raw["ops"]), "failed": failed,
               "metrics": metrics(raw, launched, a.trace)}
        for o in raw["ops"]:
            log(f"op {o['name']} {o['s']:.3f} s {'ok' if o['error'] is None else 'FAILED'}")
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
