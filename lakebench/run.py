#!/usr/bin/env python3
"""Log-lakehouse benchmark runner.

Usage (from the root of a checkout):
  python3 lakebench/run.py --workload {ingest,live} \
      --seed N --seconds S --trace {0,1} [--selftest]

Builds the engine and the benchmark program from source with sbt (once per
checkout; the classpath is cached under .bench_build/), then runs one
workload in a fresh JVM. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
line before it carries the run's deterministic counts. Exits non-zero,
printing no result, when the build or the run fails; a wrong answer is
reported as "correct": false.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "lakebench.classpath")
WORKLOADS = ("ingest", "live")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

JVM_OPTS = [
    "-Xmx3g", "-Xss8m",
    "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"[lakebench] {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file the build reads from the checkout."""
    pats = ["build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*.scala",
            "src/main/**/*.java", "lakebench/build.sbt",
            "lakebench/project/build.properties", "lakebench/src/**/*.scala"]
    for p in pats:
        yield from glob.glob(os.path.join(ROOT, p), recursive=True)


def build():
    """sbt-compile the engine and the benchmark; cache the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT}: nothing to benchmark")
    newest = max(os.path.getmtime(p) for p in sources())
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(p.stdout + p.stderr)
    cp = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"build failed (exit {p.returncode}); see .bench_build/build.log")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="feed every output check a corrupted expectation")
    a = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JVM_OPTS + ["-cp", cp, "lakebench.Main",
                               "--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds),
                               "--trace", str(a.trace), "--dir", work,
                               "--selftest", "1" if a.selftest else "0"]
    t_start = time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out")
    print(f"[lakebench] jvm wall {time.time() - t_start:.1f} s", file=sys.stderr)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(BUILD, f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if a.selftest:
        print("\n".join(lines))
        sys.exit(proc.returncode)
    if proc.returncode != 0 or len(lines) < 2:
        fail(f"run failed (exit {proc.returncode})")
    extra, result = json.loads(lines[-2]), json.loads(lines[-1])
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [m for m in want if m not in result["metrics"]]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    result["metrics"] = {m: {"value": result["metrics"][m], "unit": units[m]} for m in want}
    if not result["correct"] or result["failed"]:
        print(f"[lakebench] output checks failed: {result['failed']} of "
              f"{result['attempted']}", file=sys.stderr)
    record = dict(workload=a.workload, seed=a.seed, trace=a.trace,
                  time=time.time(), **extra, result=result)
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    with open(os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-"
                           f"{int(time.time() * 1000)}.json"), "w") as f:
        json.dump(record, f)
    print(json.dumps(extra))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
