#!/usr/bin/env python3
"""Seeded benchmark of the near-duplicate engine (see BENCHMARK.json).

Run from the root of a checkout:

    python3 perfbench/run.py --workload img_e2e --seed 1 --seconds 6 --trace 0

It compiles the program (src/main) and the benchmark's own main
(perfbench/src) into .bench_build/ with the Scala compiler that ships in the
Spark distribution, skipping the compile when no source changed. It then runs
graftbench.Main in one JVM, which generates the seeded corpus (cached in
.bench_build/corpus), measures and checks the passes. Finally it prints one
row per metric and, as the last line, the JSON result. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. --smoke 1 shrinks every
input for a quick functional check.
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
import time

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build")
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DEADLINE_S = 890
RUN_DEADLINE_S = 175

# JDK 17 opens that Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

child = None


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stop_child(*_):
    """Kill the child's whole process group and wait for it to end."""
    if child is not None and child.poll() is None:
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def run(cmd, timeout):
    """Run `cmd` in its own process group; stdout is returned, stderr passes through."""
    global child
    # Spark would put its scratch space where these point instead of under STATE
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, start_new_session=True)
    try:
        out, _ = child.communicate(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        stop_child()
        fail(f"{cmd[0]} ran past its deadline", 3)
    return child.returncode, out.decode("utf-8", "replace")


def spark_jars():
    """jars/ of the Spark distribution at $SPARK_HOME, else of the first
    bin/ on PATH that holds spark-submit and sits next to a jars/."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("set SPARK_HOME to a Spark distribution")


def jars(pattern="*.jar"):
    found = sorted(glob.glob(os.path.join(spark_jars(), pattern)))
    if not found:
        fail(f"no {pattern} under {spark_jars()}")
    return found


def sources():
    scala = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    java = sorted(glob.glob("src/main/java/**/*.java", recursive=True))
    bench = sorted(glob.glob(os.path.join(os.path.relpath(HERE), "src/**/*.scala"), recursive=True))
    if not scala or not bench:
        fail("run from the root of a checkout that holds src/main and perfbench/src")
    return scala, java, bench


def bench_cmd(build_dir, stamp, args):
    """The benchmark JVM: the program and benchmark classes on Spark's classpath."""
    nproc = cpu_count()
    # fixed generation sizes, survivors as large as eden and no early
    # tenuring: objects a pass keeps alive stay in the young generation, so
    # the heap left after each of the pass's frequent young collections
    # tracks its live data instead of how much garbage got promoted
    return (["java", "-Xms2g", "-Xmx2g", "-Xmn384m", "-XX:SurvivorRatio=1",
             "-XX:-UseAdaptiveSizePolicy", "-XX:InitialTenuringThreshold=15",
             "-XX:MaxTenuringThreshold=15", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
             f"-XX:ActiveProcessorCount={nproc}", f"-XX:ParallelGCThreads={nproc}", "-XX:-UsePerfData", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={STATE}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "--add-modules", "jdk.incubator.vector"]
            + [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
            + ["-cp", os.path.join(build_dir, "classes") + ":" + os.path.join(spark_jars(), "*"),
               "graftbench.Main", "--root", STATE, "--build", stamp,
               "--cores", str(min(4, nproc))] + args)


def build(deadline):
    """Compile into .bench_build/build unless its stamp matches the sources.

    STAMP is written last, so an interrupted build is redone."""
    scala, java, bench = sources()
    digest = hashlib.sha256()
    for path in scala + java + bench:
        digest.update(path.encode() + b"\0")
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()[:16]
    out = os.path.join(STATE, "build")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp, False
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    spark_cp = ":".join(jars())
    scalac_cp = ":".join(jars("scala-compiler-*.jar") + jars("scala-library-*.jar")
                         + jars("scala-reflect-*.jar"))
    rc, _ = run(["java", "-Xss8m", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={STATE}/tmp", "-cp", scalac_cp, "scala.tools.nsc.Main",
                 "-encoding", "UTF-8", "-nowarn", "-usejavacp:false", "-classpath", spark_cp,
                 "-d", classes] + scala + java + bench, deadline - time.time())
    if rc != 0:
        fail("scalac failed", rc)
    if java:
        rc, _ = run(["javac", "-J-XX:-UsePerfData", "-nowarn", "-encoding", "UTF-8",
                     "--add-modules", "jdk.incubator.vector", "-d", classes,
                     "-cp", classes + ":" + spark_cp] + java, deadline - time.time())
        if rc != 0:
            fail("javac failed", rc)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out, stamp, True


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def layer_of(name):
    return name.split(".")[0] if "." in name else None


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    start = time.time()
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, on_signal)

    try:
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
    except OSError:
        fail("BENCHMARK.json not found: run from the root of a checkout")
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)

    build_dir, stamp, built = build(start + BUILD_DEADLINE_S)
    deadline = start + (BUILD_DEADLINE_S if built else RUN_DEADLINE_S)
    cmd = bench_cmd(build_dir, stamp, ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--smoke", str(a.smoke)])
    rc, out = run(cmd, deadline - time.time() - 2)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        fail(f"benchmark JVM exited with {rc}", rc or 1)
    raw = json.loads(lines[-1])

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = raw["metrics"].get(m["name"])
        if v is None and a.trace and layer_of(m["name"]) not in raw["layers"]:
            v = 0.0  # a layer this workload never calls does no work
        if v is None or not math.isfinite(v):
            fail(f"{a.workload}: metric {m['name']} is {v}", 4)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    rows = [(name, m["value"], m["unit"]) for name, m in metrics.items()]
    if not a.trace:
        rows.append(("fail_frac", raw["failed"] / raw["attempted"], "1"))
    for name, value, unit in rows:
        print(f"{a.workload:<11} {name:<24} {value:>16.6g} {unit}")
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
