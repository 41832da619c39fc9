#!/usr/bin/env python3
"""Run the CDC pipeline benchmark.

    python3 cdcbench/run.py --workload <tail_oplog|stream_raw|backfill_raw> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 cdcbench/run.py --selftest

Run from the repository root. The first run compiles the replicator's main
sources together with the benchmark (sbt, offline) into cdcbench/target and
records the classpath under .bench_build/; later runs start the JVM directly.
The last line of standard output is the result JSON; the line before it,
prefixed `cdcbench-report`, holds box provenance and workload details.
Traced runs also write spans and a per-layer table under .bench_out/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "cdcbench")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars directory: $CDCBENCH_JARS, $SPARK_HOME/jars, or the one
    the repository's own build names."""
    if os.environ.get("CDCBENCH_JARS"):
        return os.environ["CDCBENCH_JARS"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    build = os.path.join(ROOT, "build.sbt")
    if os.path.exists(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m:
            return m.group(1)
    return None


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile once per source state; returns the runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, CDCBENCH_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    t = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    sys.stderr.write(proc.stdout[-4000:])
    if proc.returncode != 0:
        fail(f"build failed (exit {proc.returncode})")
    cps = [l.strip() for l in proc.stdout.splitlines()
           if "cdcbench" in l and ".jar" in l and not l.startswith("[")]
    if not cps:
        fail("build printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"cdcbench: built in {time.time() - t:.1f}s", file=sys.stderr)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the replicator's sources (src/main/scala) are not in this checkout")
    jars = spark_jars()
    if not jars or not os.path.isdir(jars):
        fail("no Spark jars directory found (set SPARK_HOME or CDCBENCH_JARS)")
    cp = build(jars)

    work = os.path.join(WORK, f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    java = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "cdcbench.Main", "--work", work, "--out", OUT]
    if a.selftest:
        java += ["--selftest"]
    else:
        java += ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.Popen(java, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    for l in reversed(lines):
        try:
            obj = json.loads(l)
        except ValueError:
            continue
        if isinstance(obj, dict) and "correct" in obj:
            result = l
            break
    for l in lines:
        if l != result:
            print(l)
    if proc.returncode != 0 or (result is None and not a.selftest):
        fail(f"run failed (exit {proc.returncode})")
    if result is not None:
        print(result)


if __name__ == "__main__":
    main()
