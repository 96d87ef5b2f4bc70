#!/usr/bin/env python3
"""Khronus-path benchmark runner.

Run from the root of a source checkout:

    python3 khronusbench/run.py --workload dashboard_read --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt (once per
source tree; later runs reuse the build while the sources are unchanged),
then runs one workload in a fresh JVM. Everything it writes goes under
`.bench_build/` and `khronusbench/target/` in the checkout. The last line
of standard output is the result object.

    python3 khronusbench/run.py --selfcheck --workload read_under_ingest

runs the determinism self-check instead: seed 1 twice and seed 2 once,
comparing the input hashes and the counts that must repeat exactly.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = "khronusbench"
BUILD_DIR = ".bench_build"
ENGINE_SRC = os.path.join("src", "main", "scala")
WORKLOADS = ("dashboard_read", "read_under_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# The Spark driver heap the repo's build gives its forked JVMs
# (SPARK_DRIVER_MEM, else 8g).
JVM_OPTS = [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", "-XX:-UsePerfData"]
# A run compiles with C1 only, not the JVM's default tiered JIT: with C2
# a run takes 10-20 % longer, which a full measurement (48 runs in 57
# minutes, builds included) cannot spare. README.md compares the two.
# C1 alone reserves a 48 MB code cache, which Spark's generated classes
# fill within a traced run (the JVM then stops compiling), so it gets
# the tiered JIT's 240 MB.
JVM_OPTS += ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]

# Spark 4 on JDK 17 outside spark-submit needs the module opens the
# launcher would otherwise inject.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"khronusbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH_DIR, "src"),
             os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources under {ENGINE_SRC}/graft; run from the root of a source checkout")
    if not os.path.isfile(os.path.join(BENCH_DIR, "build.sbt")):
        fail(f"{BENCH_DIR}/build.sbt not found")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "build.json")
    digest = source_digest()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            prev = json.load(fh)
        if prev.get("digest") == digest:
            return prev["classpath"]
    tmp = scratch_dir()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # keep sbt's own scratch files inside the checkout too (its launcher
    # still takes the lock file of the installed sbt's boot directory)
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), f"-Djava.io.tmpdir={tmp}",
                                f"-Djna.tmpdir={tmp}"]).strip()
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode})")
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath,
                   "build_s": round(time.time() - t0, 1)}, fh)
    return classpath


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def scratch_dir():
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    return tmp


def run_once(classpath, workload, seed, seconds, trace):
    """Run one workload; returns (exit code, stdout lines)."""
    tmp = scratch_dir()
    cmd = [java(), *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "khronusbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", os.path.join(BUILD_DIR, "work")]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    return proc.returncode, proc.stdout.splitlines()


def selfcheck(classpath, workload, seconds):
    """Seed 1 twice and seed 2 once: the input hash and the exact counts
    must repeat for one seed, and the second seed must run clean."""
    exact = ["planner.points_per_query", "planner.series_per_query", "sources.files",
             "streaming.batches_per_tick"]
    runs = []
    for seed in (1, 1, 2):
        out = {}
        for trace in (0, 1):
            code, lines = run_once(classpath, workload, seed, seconds, trace)
            if code != 0 or not lines:
                fail(f"selfcheck run seed={seed} trace={trace} exited {code}")
            res = json.loads(lines[-1])
            art = json.loads(lines[-2])["artifact"]
            if not res["correct"] or res["failed"]:
                fail(f"selfcheck seed={seed} trace={trace} incorrect: {art['errors']}")
            out["sha"] = art["input_sha256"]
            out.update({k: v["value"] for k, v in res["metrics"].items()})
        runs.append(out)
    a, b, c = runs
    keys = ["sha", "store_bytes_per_value"] + exact
    diffs = [k for k in keys if a[k] != b[k]]
    report = {"workload": workload, "repeat_equal": not diffs, "differs": diffs,
              "seed1": {k: a[k] for k in keys}, "seed2_sha": c["sha"],
              "seed2_differs_from_seed1": c["sha"] != a["sha"]}
    print(json.dumps(report))
    sys.exit(0 if not diffs and c["sha"] != a["sha"] else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    classpath = build()
    if args.selfcheck:
        selfcheck(classpath, args.workload, args.seconds)
    code, lines = run_once(classpath, args.workload, args.seed, args.seconds, args.trace)
    for line in lines:
        print(line)
    if code != 0:
        fail(f"benchmark exited {code}")
    try:
        res = json.loads(lines[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail("benchmark printed no result line")


if __name__ == "__main__":
    main()
