#!/usr/bin/env python3
"""Seeded end-to-end benchmark of graft.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds graft and the benchmark from source (build.py; once per source
tree), then runs one workload in one JVM on Spark local[nproc]. The last
stdout line is the JSON result. Everything the run writes stays under
.bench_build/ in the repository root.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # no __pycache__ in the checkout
import build  # noqa: E402

BUILD = build.BUILD
WORKLOADS = ["em_two_source", "em_multi_source", "corpus_dedup", "em_incremental"]
# The JVM is stopped after this long, so a run (after the build) ends
# within three minutes.
RUN_LIMIT_S = 170
# What spark-submit would pass on JDK 17 (Spark's JavaModuleOptions), and
# the session settings graft's build.sbt launches with.
JAVA_OPTS = [o for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for o in ("--add-opens", p + "=ALL-UNNAMED")] + \
    ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def heap():
    """Half of MemTotal in GiB, clamped to 2..8 (the tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return "-Xmx%dg" % min(max(g, 2), 8)


def java(main, args):
    """Runs `main` in its own JVM and returns its exit code. The JVM is
    killed, and waited for, when it overruns or this script is stopped."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed young generation: with G1's pause-driven young sizing the
    # peak RSS of identical runs differed by up to 1.6x.
    # No hsperfdata file: the JVM would write it to the system temp dir.
    cmd = ["java", heap(), "-Xmn1g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp] + JAVA_OPTS + \
        ["-cp", os.pathsep.join(build.classpath()), main] + args
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        return proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        build.log("perfbench: run exceeded %d s" % RUN_LIMIT_S)
        return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def stopped(signum, _frame):
    # unwinds through java()'s finally and subprocess.run, which kill
    # and wait for the child
    raise SystemExit(128 + signum)


def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stopped)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and a.workload is None:
        p.error("--workload is required")
    if not build.build():
        sys.exit(1)
    if a.selftest:
        work = os.path.join(BUILD, "work", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(java("perfbench.SelfTest", ["--work", work]))
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    code = java("perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                                   "--work", work, "--spans", os.path.join(BUILD, "spans")])
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
