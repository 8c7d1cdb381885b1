#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark driver from source with sbt (outputs under .bench_build/), later
runs reuse the build while the sources are unchanged. Each run starts one
JVM (perfbench.Main), relays its standard output, whose last line is the
result object, and exits with the JVM's status. Everything the run writes
stays under .bench_build/ in the checkout.
"""

import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the engine's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: the benchmark and the engine."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (BENCH / "src", ROOT / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    stamp_file = BUILD / "stamp"
    cp_file = BUILD / "classpath.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    BUILD.mkdir(exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={BUILD / 'sbt-global'}",
           "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s")
    classes = str(BUILD / "sbt")
    cps = [l.strip() for l in p.stdout.splitlines() if l.strip().startswith(classes)]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-6000:])
        fail("build failed")
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def declared_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no engine sources (src/main/scala) in this checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    cp = build()

    work = BUILD / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *opens, "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", str(work)]
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", code=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = p.stdout.splitlines()
    sys.stdout.write(p.stdout)
    sys.stdout.flush()
    if p.returncode != 0:
        sys.exit(p.returncode)
    result = json.loads(lines[-1]) if lines else {}
    got = set(result.get("metrics", {}))
    want = declared_metrics(a.trace == "1")
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(want - got)}, "
             f"extra {sorted(got - want)}", code=1)


if __name__ == "__main__":
    main()
