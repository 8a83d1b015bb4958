#!/usr/bin/env python3
"""Serving benchmark for the graft engine.

Builds the engine (src/main/scala) and the benchmark (perfbench/src) from
source against the Spark jars the project's build uses (build.sbt's
unmanagedBase), with the Scala compiler that ships among them, then runs
one workload in a fresh JVM on a fresh warehouse and prints its result
as the last line of stdout.

    python3 perfbench/run.py --workload ingest_fold --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. Everything it writes stays under
.bench_build/perfbench/ there; the warehouse of a run is deleted when the
run ends.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
ENGINE_MARKER = "src/main/scala/graft/api/GraftEngine.scala"
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
# what spark-submit would add on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def java_env(home):
    # a fixed environment: no SPARK_*, JAVA_TOOL_OPTIONS or other knob of
    # the caller's shell reaches the measured JVM
    return {"PATH": os.environ.get("PATH", "/usr/bin:/bin"), "HOME": home,
            "LANG": "C.UTF-8", "TZ": "UTC"}


def jvm_flags(tmp):
    return ["-Xss8m", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Duser.timezone=UTC"]


def spark_jars(root):
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jar directory (build.sbt unmanagedBase) in " + root)
    return m.group(1)


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root, out_root, jars):
    """Compile engine and benchmark once per source state; returns the
    class directory and whether this call compiled it."""
    if not os.path.isfile(os.path.join(root, ENGINE_MARKER)):
        fail("no engine sources at %s (run from the root of a checkout)" % ENGINE_MARKER)
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".done")):
        return classes, False
    for d in os.listdir(out_root):
        if d.startswith("classes-"):
            shutil.rmtree(os.path.join(out_root, d), ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(out_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(out_root, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = (["java"] + jvm_flags(tmp) + ["-cp", jars + "/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", jars + "/*", "@" + argfile])
    t0 = time.time()
    rc = subprocess.run(cmd, env=java_env(tmp), timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail("build failed (scalac exit %d)" % rc)
    open(os.path.join(classes, ".done"), "w").close()
    print("perfbench: built %d sources in %.0f s" % (len(files), time.time() - t0),
          file=sys.stderr)
    return classes, True


def run_jvm(root, classes, jars, work, args, timeout):
    """Run the benchmark main in a fresh JVM; returns its last stdout line."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + ADD_OPENS + jvm_flags(tmp) +
           ["-Dlog4j2.configurationFile=" +
            os.path.join(root, "perfbench", "log4j2.properties"),
            "-cp", classes + ":" + jars + "/*", "graft.perfbench.Serve",
            "--work", work] + args)
    proc = subprocess.Popen(cmd, env=java_env(work), stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run timed out after %d s" % timeout)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail("benchmark JVM exited with code %d" % proc.returncode)
    return lines[-1]


def selftest(root, classes, jars, work):
    report = json.loads(run_jvm(root, classes, jars, work, ["--selftest", "1"], 600))
    problems = list(report["problems"])
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    printed = report["metrics"]
    for m in spec["end_to_end"] + spec["per_layer"]:
        if printed.get(m["name"]) != m["unit"]:
            problems.append("metric %s [%s] printed as %r"
                            % (m["name"], m["unit"], printed.get(m["name"])))
    names = {w["name"] for w in spec["workloads"]}
    for p in problems:
        print("selftest: FAIL " + p)
    print("selftest: %s (%d metrics, workloads %s)"
          % ("ok" if not problems else "FAILED", len(printed), ", ".join(sorted(names))))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    t0 = time.time()
    root = os.getcwd()
    out_root = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out_root, exist_ok=True)
    jars = spark_jars(root)
    classes, built = build(root, out_root, jars)
    work = os.path.join(out_root, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            sys.exit(selftest(root, classes, jars, work))
        results = os.path.join(out_root, "results")
        os.makedirs(results, exist_ok=True)
        artifact = os.path.join(results, "%s-seed%d-trace%s.json"
                                % (a.workload, a.seed, a.trace))
        budget = (880 if built else RUN_TIMEOUT_S) - (time.time() - t0)
        line = run_jvm(root, classes, jars, work,
                       ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", a.trace,
                        "--artifact", artifact], max(30, int(budget)))
        result = json.loads(line)
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail("malformed result line: " + line)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
