#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from source.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Workloads: serve, curate (see perfbench/README.md). The first run
in a checkout builds the engine and the benchmark with sbt (offline) and
caches the runtime classpath under .bench_build/, keyed by a hash of every
source and build file; later runs start the JVM directly. The last line
of standard output is the result JSON.

`--dump DIR` writes the generated inputs and the expected curate report
to DIR instead of running a workload; perfbench/oracle.py uses it.
"""
import argparse
import hashlib
import os
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit (the engine build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change must trigger a rebuild."""
    roots = [ROOT / "src" / "main", HERE / "src" / "main", ROOT / "project",
             HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*")
                      if p.is_file() and "target" not in p.parts
                      and p.suffix in (".scala", ".java", ".sbt",
                                       ".properties")]
    return sorted(files)


def build():
    """Compile engine + benchmark once per source state; return classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no engine sources next to {HERE.name}/ (expected build.sbt "
             "and src/main at the checkout root)")
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = WORK / f"classpath-{h.hexdigest()[:16]}.txt"
    if stamp.is_file():
        return stamp.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = WORK / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S}s (log: {log})")
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    if rc != 0 or not lines or "[error]" in lines[-1]:
        fail(f"build failed (log: {log})")
    cp = lines[-1]
    if not (HERE / "target").as_posix() in cp:
        fail(f"unexpected classpath line from sbt (log: {log})")
    stamp.write_text(cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["serve", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--dump", default=None)
    a = ap.parse_args()
    if a.dump is None and a.workload is None:
        fail("--workload is required")
    cp = build()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Main",
            "--root", str(ROOT), "--work", str(WORK)]
    if a.dump is not None:
        cmd += ["--dump", str(pathlib.Path(a.dump).resolve())]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    # Spark's work directories stay inside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {JVM_TIMEOUT_S}s and was killed")
    if rc != 0:
        fail(f"benchmark JVM exited with code {rc}")


if __name__ == "__main__":
    main()
