#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 tsbench/run.py --workload tsql_ingest|fleet \
        --seed N --seconds S --trace 0|1

Builds the program and the harness with sbt when their sources changed
(the classpath and a source hash live under .bench_build/), then runs the
harness JVM. The harness prints each metric with its unit and sample
count, then one JSON result line, and exits 1 on a wrong answer. Every
file a run writes stays under .bench_build/ in the checkout; the run's
own scratch directory is deleted when it ends. A traced run keeps its
per-layer JSON and span file under .bench_build/tsbench/trace/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
HARNESS = os.path.join(BENCH_DIR, "harness")
BUILD = os.path.join(".bench_build", "tsbench")
# the fixture graft.Bench times, found the way Bench finds it; read only
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
HEAP = "3g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# as the program's build.sbt passes them to forked JVMs
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
    print(f"tsbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = ["build.sbt", os.path.join("project", "build.properties"), "src",
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties"),
             os.path.join(HARNESS, "src", "main")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group if it
    outlives `timeout` or this script is interrupted."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        try:  # anything the command left behind in its group
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def classpath():
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "source.sha256")
    digest = source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as c:
                    return c.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false", "writeClasspath"],
                       BUILD_TIMEOUT_S, cwd=HARNESS, env=env, stdout=log,
                       stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.join(BUILD, 'build.log')}")
    shutil.copy(os.path.join(HARNESS, "target", "classpath.txt"), cp_file)
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as c:
        return c.read()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["tsql_ingest", "fleet"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src")):
        fail("run from the root of a checkout of the program")
    if a.workload == "fleet" and not os.path.isdir(SF_DIR):
        fail(f"fleet fixture {SF_DIR} is missing")
    cp = classpath()

    work = os.path.abspath(os.path.join(BUILD, f"run-{os.getpid()}"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HARNESS, 'log4j2.properties')}",
            "-cp", cp, "tsbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--trace-dir", os.path.join(BUILD, "trace"),
            "--bench-dir", BENCH_DIR, "--sf-dir", SF_DIR])
    try:
        rc = run_group(cmd, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
