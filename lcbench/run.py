#!/usr/bin/env python3
"""lcbench: the repository benchmark (see lcbench/README.md).

    python3 lcbench/run.py --workload train-grid --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the library and the harness from
source when they changed, generates the workload's inputs from the seed,
runs one JVM on local[nproc] and prints one line per metric, then one JSON
object as the last line of standard output. Exits 0 only when every output
check passed.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "lcbench")
WORKLOADS = ("train-grid", "search-scan")
RUN_LIMIT_S = 175          # one run must end within 180 s
BUILD_LIMIT_S = 840        # the first run in a checkout also builds
# No -Xms: the heap starts at the JVM's default size and grows with what the
# program allocates, so VmHWM (peak_rss_mb) follows the program rather than a
# preset heap size. The parallel collector without adaptive sizing sizes the
# heap from free space after collection, not from pause times, which keeps
# op_wall_s steadier than G1 did.
JVM_OPTS = ["-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-XX:Tier4InvocationThreshold=1000", "-XX:Tier4MinInvocationThreshold=120",
            "-XX:Tier4CompileThreshold=3000", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
# what spark-submit adds on JDK 17 (as the library's build.sbt does)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print("lcbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    h = hashlib.sha1()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(deadline):
    """Compile library + harness with sbt unless the last build was of the
    same sources. sbt compiles every version into one classes directory, so
    only the last build's stamp tells what that directory holds."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            built = f.read().strip()
        if built == stamp:
            with open(cp_file) as f:
                return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    env = dict(os.environ, COURSIER_MODE="offline")
    props = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        props += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    cmd = ["sbt", "--batch"] + props + ["compile", "export Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            die("build timed out, see " + log, 3)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and "scala-2.13/classes" in l]
    if p.returncode != 0 or not cps:
        die("build failed, see " + log, 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def java_cmd(classpath, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java"] + JVM_OPTS + opens + ["-cp", classpath, "lcbench.Harness"] + args


def fmt(v):
    return "%.6g" % v if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description="lcbench: the repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala")) and
            os.path.exists(spec_path)):
        die("run from the repository root: the library sources are not here")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}

    classpath = build(t_start + BUILD_LIMIT_S)
    deadline = time.time() + RUN_LIMIT_S
    sys.path.insert(0, HERE)
    import gen

    run_dir = os.path.join(BUILD, "runs", "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs", "proj")
    t0 = time.perf_counter()
    meta = gen.generate(a.workload, a.seed, inputs)
    gen_s = time.perf_counter() - t0

    out = os.path.join(run_dir, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--inputs", inputs, "--work", os.path.join(run_dir, "work"),
            "--corpus", os.path.join(HERE, "data", "sf0.01"),
            "--expected", os.path.join(HERE, "expected", "driver_mix.txt"),
            "--out", out]
    os.makedirs(os.path.join(run_dir, "work"), exist_ok=True)
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(java_cmd(classpath, args), cwd=run_dir, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("harness timed out, log kept in " + log_path, 4)
    if not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        die("harness wrote no result, log kept in " + log_path, 4)
    with open(out) as f:
        res = json.load(f)

    metrics = res["metrics"]
    if "setup_s" in metrics:
        metrics["setup.generate_s"] = {"value": gen_s, "unit": "s", "n": 1}
        metrics["setup_s"]["value"] += gen_s
    attempted, failed = res["attempted"], res["failed"]
    metrics["error_rate"] = {"value": failed / max(1, attempted), "unit": "ratio", "n": attempted}

    ctx = dict(res["context"], inputs=meta)
    print("lcbench %s seed=%d trace=%d on %s (nproc=%d), %s, Spark %s" % (
        a.workload, a.seed, a.trace, ctx["master"], ctx["nproc"], ctx["jvm"], ctx["spark"]))
    print("inputs: " + json.dumps(meta, sort_keys=True))
    for name, m in metrics.items():
        print("%-48s %14s %-9s n=%d" % (name, fmt(m["value"]), m["unit"], m["n"]))
    for n in res["notes"]:
        print("note: " + n)
    for fl in res["failures"]:
        print("FAILED CHECK " + fl)
    spans = out + ".spans.jsonl"
    if os.path.exists(spans):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        dst = os.path.join(BUILD, "traces", os.path.basename(run_dir) + ".spans.jsonl")
        shutil.copyfile(spans, dst)
        print("spans: " + os.path.relpath(dst, ROOT))

    missing = [n for n in wanted if n not in metrics]
    correct = failed == 0 and attempted > 0 and not missing and not res["failures"]
    if missing:
        print("MISSING METRICS " + ", ".join(missing))
    shutil.rmtree(run_dir, ignore_errors=True)
    # a metric that could not be measured reads 0 in a result marked incorrect
    values = {n: metrics.get(n, {}).get("value") for n in wanted}
    measured = {n: isinstance(v, (int, float)) and math.isfinite(v) for n, v in values.items()}
    correct = correct and all(measured.values())
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v if measured[n] else 0.0, "unit": wanted[n]}
                    for n, v in values.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
