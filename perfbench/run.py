#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

    python3 perfbench/run.py --workload point_serve --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source with sbt unless the last
build (perfbench/target/launch.txt) was made from sources with the same
hash (perfbench/target/sources.sha256), then runs perfbench.Main in its
own JVM. Everything the run writes stays under perfbench/target. The last
line of stdout is the JSON record.

Extra arguments (--scale sf0.001) pass through to the main.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "-Xmx2g"


def sources():
    """Every file the build reads: the engine's and the benchmark's."""
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            paths.extend(os.path.join(d, f) for f in files)
    return sorted(p for p in paths if os.path.isfile(p))


def digest(files):
    """sha256 over each file's path and content."""
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def program_id(files):
    """The git commit when there is one, and a hash of the engine sources."""
    engine = digest([p for p in files if not p.startswith(BENCH + os.sep)])
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        rev = ""
    return f"git={rev or 'none'} sources-sha256={engine[:16]}"


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(files):
    """Build unless the last build was made from these exact sources. A
    hash, not mtimes, so deleted or restored files trigger a build too."""
    stamp = digest(files)
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    os.makedirs(TARGET, exist_ok=True)
    if os.path.isfile(STAMP):
        os.remove(STAMP)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                         BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.isfile(LAUNCH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: build failed (exit {code}); log in {log}")
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def main():
    # turn SIGTERM into SystemExit, so run_group kills the JVM's group too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args, extra = ap.parse_known_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit(f"perfbench: no graft engine sources beside {BENCH}; nothing to measure")

    files = sources()
    build(files)
    with open(LAUNCH) as f:
        classpath, *jvm_opts = [line for line in f.read().splitlines() if line]

    work = os.path.join(TARGET, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir below
    confs = [c for c in env.get("GRAFT_EXTRA_CONF", "").split(";") if c]
    confs += [f"spark.local.dir={os.path.join(work, 'spark-local')}",
              f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    env["GRAFT_EXTRA_CONF"] = ";".join(confs)
    env["PERFBENCH_PROGRAM"] = program_id(files)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    jvm = jvm_opts + [HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", classpath]
    cmd = ["java"] + jvm + ["perfbench.Main", "--workload", args.workload,
                            "--seed", str(args.seed), "--seconds", str(args.seconds),
                            "--trace", args.trace, "--work", work] + extra
    err = os.path.join(TARGET, f"run-{args.workload}-{args.seed}.log")
    try:
        with open(err, "w") as errf:
            code = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stderr=errf,
                             stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        with open(err) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: run failed ({'timed out' if code is None else f'exit {code}'}); "
                 f"log in {err}")


if __name__ == "__main__":
    main()
