#!/usr/bin/env python3
"""Run one benchmark workload and print its result object as the last line.

    python3 perfbench/run.py --workload ask --seed 1 --seconds 24 --trace 0

Run it from the root of the repository. The first run builds the program
and the benchmark with sbt (perfbench/build.sbt); later runs reuse that
build until a source file changes. The benchmark then runs in one JVM
(perfbench.Main). Everything it writes stays under perfbench/.work.

    python3 perfbench/run.py --pin --workload ask

runs every operation of a workload once and stores its result hash in
perfbench/pins.json. Do that only on a commit that passes the oracle gate.
"""
import argparse
import glob
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
PINS = os.path.join(BENCH, "pins.json")
# the project's synthetic test data (TESTDATA.md): sf0.01/ and sf0.1/
DATA = os.environ.get("PERFBENCH_DATA", os.path.join(os.path.expanduser("~"), "testdata"))

BUILD_TIMEOUT_S = 700


def run_timeout(seconds, trace):
    """Seconds a run may take before it is killed: JVM start, the cold
    set-up and cold pass, and the warm set-ups take up to 60 s on a 4-core
    host and get twice that; the measured passes get three times
    `seconds`. A traced run adds traced-only operations to its traced
    passes and, on curate, a count pass, so its measured part gets 1.6
    times more. Never more than 170 s: a run must end within 180 s, and
    one killed here still ends, with an error, inside that."""
    return min(170, 120 + 3 * seconds * (1.6 if trace else 1.0))

# Spark on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, cwd, timeout, **popen_args):
    """Run cmd in its own process group; kill the group on timeout. Waits
    until the child has ended either way."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **popen_args)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def sources():
    pats = ["build.sbt", "project/*.sbt", "project/*.scala", "project/build.properties",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    for pat in pats:
        for f in glob.glob(os.path.join(ROOT, pat), recursive=True):
            if os.path.isfile(f):
                yield f


def build():
    """Build the program and the benchmark unless the last build is newer
    than every source file."""
    if os.path.isfile(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    # sbt writes its log to stdout; keep stdout for the result line only
    with open(os.path.join(WORK, "build.log"), "w") as log:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"], BENCH,
                       BUILD_TIMEOUT_S, env=env, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        sys.stderr.write(open(os.path.join(WORK, "build.log")).read()[-4000:])
        fail(f"build failed (exit {rc}), log in {WORK}/build.log")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    # a SIGTERM ends the run the way a timeout does: the JVM's process group
    # is killed and waited for (run_child), then the run exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["ask", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, help="measured time; required unless --pin")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true", help="store result hashes instead of measuring")
    a = ap.parse_args()
    if not a.pin and (a.seconds is None or a.seconds < 1):
        ap.error("--seconds N (N >= 1) is required")

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail(f"no program sources next to {BENCH}: run from a full checkout of the repository")
    if not os.path.isdir(DATA):
        fail(f"test data not found at {DATA} (set PERFBENCH_DATA)")
    os.makedirs(WORK, exist_ok=True)
    build()

    # a fresh scratch area per run: Spark's local dirs, temp files, CSV exports
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cp = open(CLASSPATH).read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed heap makes the peak RSS follow the program's retained memory,
    # not the collector's heap-growth decisions. C1-only JIT warms up within
    # the cold pass and leaves the cores to the program: with C2, background
    # compiles on a 4-core host made whole runs drift by 20 %.
    cmd = ["java", *opens, "-Xms4g", "-Xmx4g", "-Xmn1g", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dderby.system.home=" + run_dir,
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds or 1),
           "--trace", str(a.trace), "--data", DATA, "--work", run_dir, "--pins", PINS]
    if a.pin:
        cmd.append("--pin")
    rc = run_child(cmd, cwd=run_dir, timeout=run_timeout(a.seconds or 1, a.trace))
    # keep the trace of the last run next to the build
    for f in glob.glob(os.path.join(run_dir, "trace-*.jsonl")):
        shutil.copy(f, WORK)
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
