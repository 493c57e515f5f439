#!/usr/bin/env python3
"""Pipeline benchmark driver.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source with sbt on first use (perfbench/build.sbt), then starts one JVM
that runs the workload (perfbench.Main) and relays its output. The last
stdout line is the result JSON. Everything the run writes stays under
perfbench/ in the checkout and is removed afterwards, except the build
output (perfbench/target) and the per-run metric files (perfbench/out).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("drop_small", "lake_mor", "query_mix")
RUN_LIMIT_S = 175  # a run must end within 180 s
BUILD_LIMIT_S = 850  # the first run of a checkout may take 900 s

# Spark on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_mtime(paths):
    newest = 0.0
    for top in paths:
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(bench, root):
    """Compiles with sbt when the sources are newer than the last build;
    returns the runtime classpath."""
    cp_file = os.path.join(bench, "target", "classpath.txt")
    sources = [os.path.join(root, "src", "main"), os.path.join(bench, "src"),
               os.path.join(bench, "build.sbt"), os.path.join(bench, "project", "build.properties")]
    newest = max(newest_mtime([p for p in sources if os.path.isdir(p)]),
                 *[os.path.getmtime(p) for p in sources if os.path.isfile(p)])
    if os.path.isfile(cp_file) and os.path.getmtime(cp_file) >= newest:
        with open(cp_file) as f:
            return f.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    # keep sbt's global state, temp files, server socket and JVM perf data
    # inside the checkout
    tmp = os.path.join(bench, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
           "-Dsbt.global.base=" + os.path.join(bench, "target", "sbt-global"),
           "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp,
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=bench, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL,
                           env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def metric_lines(text):
    out = {}
    for line in text.splitlines():
        parts = line.split()
        if len(parts) >= 4 and parts[0] == "metric":
            try:
                out[parts[1]] = (float(parts[2]), parts[3])
            except ValueError:
                pass
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, "perfbench")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: the engine's sources are not here")
    cp = build(bench, root)
    t_start = time.time()  # a build may take its own limit; the run gets RUN_LIMIT_S

    # runs are sequential: whatever an interrupted run left behind goes
    shutil.rmtree(os.path.join(bench, "work"), ignore_errors=True)
    work = os.path.join(bench, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out_dir = os.path.join(bench, "out")
    os.makedirs(out_dir, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads", "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + tmp]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    err_path = os.path.join(out_dir, f"{a.workload}-t{a.trace}.stderr")
    try:
        with open(err_path, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                    stdin=subprocess.DEVNULL, env=env)

            def stop(signum, _frame):
                proc.kill()
                proc.wait()
                shutil.rmtree(work, ignore_errors=True)
                sys.exit(128 + signum)
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                stdout, _ = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("run exceeded its time limit", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.rstrip("\n").splitlines()
    if not lines or not lines[-1].startswith("{"):
        sys.stdout.write(stdout)
        fail(f"no result (exit {proc.returncode}); see {err_path}", proc.returncode or 4)
    result = lines[-1]
    body = "\n".join(lines[:-1])
    print(body)

    # tracing overhead: this traced run's end-to-end numbers minus those of
    # the last untraced run of the same workload and seed
    mine = metric_lines(body)
    with open(os.path.join(out_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(mine, f)
    if a.trace == "1":
        base_path = os.path.join(out_dir, f"{a.workload}-s{a.seed}-t0.json")
        if os.path.isfile(base_path):
            with open(base_path) as f:
                base = json.load(f)
            for k, (v, unit) in mine.items():
                if k in base:
                    print(f"tracing_overhead {k:<22} {v - base[k][0]:+14.4f} {unit}")
        else:
            print("tracing_overhead: run the same workload and seed with --trace 0 first")
    print(result)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
