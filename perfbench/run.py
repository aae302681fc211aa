#!/usr/bin/env python3
"""Medallion benchmark launcher.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the warehouse library and the benchmark with sbt the first time (or
whenever a source file changed), then runs one workload in a fresh JVM and
relays its output; the last stdout line is the result object. A traced run
(`--trace 1`) needs untraced latencies of the same workload and build for
`trace.overhead_ratio`; untraced runs record them under
`perfbench/work/records/<build fingerprint>/`. When there are none yet, the
traced run is preceded by one untraced run if both fit the run's time limit,
judged from the last untraced run's wall time; otherwise the ratio is flagged
and reads -1. Everything the benchmark writes stays under `perfbench/work/`,
`target/` directories and `perfbench/project/`.

`--record <sf>` prints the `expected.json` entry for a scale factor.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD_STAMP = os.path.join(WORK, "build.json")
WALLS = os.path.join(WORK, "walls.json")
HEAP, YOUNG = "3g", "256m"
# seconds a run may take: the first one in a checkout also builds
RUN_LIMIT, BUILD_RUN_LIMIT, MARGIN = 180, 900, 8
# untraced wall time assumed before one was measured in this checkout
DEFAULT_WALL = 100.0

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(fp):
    """The benchmark's runtime classpath and whether this call built it."""
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            stamp = json.load(f)
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"], False
    log("building (sbt compile)")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    cp = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if not cp:
        raise SystemExit("build printed no classpath")
    os.makedirs(WORK, exist_ok=True)
    with open(BUILD_STAMP, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, f)
    return cp[-1], True


def last_wall(workload):
    if os.path.exists(WALLS):
        with open(WALLS) as f:
            return json.load(f).get(workload, DEFAULT_WALL)
    return DEFAULT_WALL


def save_wall(workload, seconds):
    walls = {}
    if os.path.exists(WALLS):
        with open(WALLS) as f:
            walls = json.load(f)
    walls[workload] = seconds
    with open(WALLS, "w") as f:
        json.dump(walls, f)


def run_jvm(cp, args, trace, timeout, records=None):
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    # a fixed heap and young generation: G1's adaptive sizing otherwise
    # makes the peak RSS of equal runs differ by half
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    if trace:
        # deep call-site stacks, so jobs under the SQL bridge stay attributable
        cmd.append("-Dspark.callstack.depth=200")
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dperfbench.expected={os.path.join(HERE, 'expected.json')}",
            "-cp", cp, "perfbench.Main"] + args + [
            "--data", os.path.join(HERE, "tpch"), "--work", run_dir,
            "--records", records or os.path.join(WORK, "records", "none")]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"benchmark JVM still running after {timeout} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        raise SystemExit(f"benchmark JVM exited with {proc.returncode}")
    return proc.stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record")
    a = ap.parse_args()

    for need in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"no {need} next to perfbench/: not a repository checkout")
    start = time.time()
    fp = source_fingerprint()
    cp, built = classpath(fp)
    limit = (BUILD_RUN_LIMIT if built else RUN_LIMIT) - MARGIN

    if a.record:
        sys.stdout.write(run_jvm(cp, ["--record", a.record], trace=False, timeout=1800))
        return
    if not a.workload:
        raise SystemExit("--workload is required")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds)]
    records = os.path.join(WORK, "records", fp[:16])

    def untraced(timeout):
        t0 = time.time()
        out = run_jvm(cp, args + ["--trace", "0"], trace=False, timeout=timeout,
                      records=records)
        save_wall(a.workload, time.time() - t0)
        return out

    if not a.trace:
        out = untraced(limit - (time.time() - start))
    else:
        if not os.path.exists(os.path.join(records, f"{a.workload}.txt")):
            # the traced run takes a little longer than an untraced one
            expect = last_wall(a.workload)
            room = limit - (time.time() - start) - 1.1 * expect
            if room >= expect:
                log("no untraced run of this build yet: one untraced run first")
                try:
                    untraced(room)
                except SystemExit as e:
                    log(f"untraced run failed ({e}); trace.overhead_ratio is flagged")
            else:
                log("no untraced run of this build, and no time for one: "
                    "trace.overhead_ratio is flagged")
        out = run_jvm(cp, args + ["--trace", "1"], trace=True,
                      timeout=limit - (time.time() - start), records=records)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
