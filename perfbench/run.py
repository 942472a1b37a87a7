#!/usr/bin/env python3
"""Run one workload of the engine's benchmark and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload convert_corpus --seed 1 --seconds 12 --trace 0

Builds the engine from source plus the benchmark driver (perfbench/build.sbt)
when the sources changed since the last build, then starts the driver in one
JVM. The driver's last stdout line is the result JSON, which this script
passes through as its own last line. Everything the run writes stays under
perfbench/.work and perfbench/target. Exits non-zero without a result when
the build or the run fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("convert_corpus", "operator_session")
RUN_TIMEOUT_S = 170

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
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail("timed out after %d s: %s" % (timeout, cmd[0]))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compiles with sbt (offline) when the sources changed; returns the classpath."""
    stamp_file = os.path.join(TARGET, "source.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as lf:
        code, _ = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                              840, cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed (log: %s)" % log)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="write operator_session's expected result digests instead of measuring")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found under %s" % os.path.join(ROOT, "src", "main", "scala"))
    if shutil.which("java") is None:
        fail("java not found")
    cp = build()

    work = os.path.join(WORK, a.workload)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + work]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--data", os.path.join(HERE, "data", "sf0.001"),
            "--expected", os.path.join(HERE, "expected", "operator_digests.json"),
            "--record-digests", "1" if a.record_digests else "0"]
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not (a.record_digests or lines[-1].startswith("{")):
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail("driver exited with code %d and no result" % code)
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
