#!/usr/bin/env python3
"""Repository benchmark: build the engine from source, run one workload,
check its outputs and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run it from the repository root. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are BENCHMARK.json's end_to_end set, with --trace 1 its per_layer set.
The line before it holds the run's detail (seed, input sizes, warm-up
reps, host load, trace summary). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
DATA = os.path.join(HERE, "data")
JVM_TIMEOUT_S = 170
HEAP = "3g"
FIXTURE_TIMEOUT_S = 600
BUILD_TIMEOUT_S = 850
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_jars():
    """Spark's jars dir with a Scala compiler: $SPARK_HOME/jars, else the
    jars dir beside a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark jars dir with a scala-compiler jar; set SPARK_HOME")


def sources():
    prog = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    if not prog:
        fail(f"no program sources under {os.path.relpath(PROGRAM_SRC, ROOT)}: "
             "run from a checkout of the repository")
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return prog + bench


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def build():
    """Compile the program and the harness with scalac into the build dir,
    unless a build of the same sources is already there."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(DATA, "*"))):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars, stamp
    log(f"compiling {len(srcs)} sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars, stamp


def fixture(classes, jars, stamp):
    """The day-0 store the daily and serve workloads start from, made by
    the freshly built program once per build (see Fixture.scala)."""
    out = os.path.join(build_dir(), "perfbench", "fixture")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    log("building the day-0 fixture")
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if java("perfbench.Fixture", ["--data", DATA, "--out", tmp], classes, jars, tmp,
            FIXTURE_TIMEOUT_S) != 0:
        fail("fixture build failed")
    shutil.rmtree(os.path.join(tmp, "tmp"), ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def java(main, args, classes, jars, work, timeout=JVM_TIMEOUT_S):
    """Run a harness main; its stdout goes to our stderr."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"{main} exceeded {timeout}s; killed")
        return -1
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def overhead(results, workload, res):
    """Traced cycle_s over the median cycle_s of this checkout's untraced
    runs of the workload, minus 1 (0 when there are none yet)."""
    untraced = []
    for p in glob.glob(os.path.join(results, f"{workload}-seed*-trace0.json")):
        with open(p) as f:
            v = json.load(f).get("end_to_end", {}).get("cycle_s")
        if finite_positive(v):
            untraced.append(v)
    res["detail"]["untraced_cycle_s"] = untraced
    traced = res["end_to_end"].get("cycle_s")
    if not untraced or not finite_positive(traced):
        return 0.0
    untraced.sort()
    mid = len(untraced) // 2
    median = untraced[mid] if len(untraced) % 2 else (untraced[mid - 1] + untraced[mid]) / 2
    return traced / median - 1.0


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs from /proc/stat; (0, 0) if absent."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields)
    except (OSError, ValueError):
        return 0, 0


def finite_positive(v):
    return isinstance(v, (int, float)) and math.isfinite(v) and v > 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not a.self_test and a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload!r}")
    classes, jars, stamp = build()
    base = os.path.join(ROOT, ".bench_work")
    tag = "self-test" if a.self_test else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    try:
        if a.self_test:
            sys.exit(0 if java("perfbench.SelfTest", [], classes, jars, work) == 0 else 1)
        fix = fixture(classes, jars, stamp)
        out = os.path.join(results, tag + ".json")
        if os.path.exists(out):
            os.remove(out)
        steal0, total0 = cpu_jiffies()
        code = java("perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                                       "--data", DATA, "--fixture", fix,
                                       "--work", work, "--out", out],
                    classes, jars, work)
        if not os.path.exists(out):
            fail(f"the run wrote no result (exit {code})", 1)
        with open(out) as f:
            res = json.load(f)
        # time the hypervisor gave this machine's CPUs to others while the
        # run went on; a share above 5% flags the run as stalled
        steal1, total1 = cpu_jiffies()
        steal = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
        res["host"]["steal_share"] = steal
        res["host"]["stalled"] = res["host"]["stalled"] or steal > 0.05
        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]

        if a.workload == "pinterest_batch" and res["error"] is None:
            from twin import check
            dirs = res["detail"]["check_dirs"]
            verdicts = check(dirs["raw"], dirs["out"])
            res["detail"]["twin_check"] = verdicts
            attempted += len(verdicts)
            for q, why in verdicts.items():
                if why is not None:
                    failed += 1
                    failures.append(f"duckdb twin {q}: {why}")

        if a.trace:
            res["per_layer"]["trace.overhead_ratio"] = overhead(results, a.workload, res)
        measured = res["per_layer"] if a.trace else res["end_to_end"]
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        metrics = {}
        for m in wanted:
            v = measured.get(m["name"], 0.0 if a.trace else None)
            if not a.trace and not finite_positive(v):
                failures.append(f"metric {m['name']} missing or not positive: {v}")
                v = None
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        res["extra_metrics"] = sorted(set(measured) - {m["name"] for m in wanted})
        res["failures"] = failures
        with open(out, "w") as f:
            json.dump(res, f)

        correct = code == 0 and res["error"] is None and failed == 0 and not failures
        detail = {k: res[k] for k in ("workload", "seed", "seconds", "trace", "wall_s", "error",
                                      "failures", "host", "measured_region", "extra_metrics")}
        detail["detail"] = {k: v for k, v in res["detail"].items() if k != "trace"}
        if a.trace:
            detail["trace_summary"] = res["detail"].get("trace")
            detail["spans_file"] = os.path.relpath(res["spans_file"], ROOT)
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                          "failed": failed, "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    main()
