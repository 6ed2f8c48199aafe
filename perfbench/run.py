#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload medallion-refresh --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test

Builds the engine and the harness from source with sbt (once; rebuilt when a
source is newer than the build), then runs one workload in one JVM as a
closed loop and prints, as the last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the metrics
are the end-to-end metrics of BENCHMARK.json, with `--trace 1` its per-layer
metrics. Every run also writes a full record (run conditions, every
operation, and with tracing every span) to perfbench/out/.
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
WORK = os.path.join(HERE, ".work", str(os.getpid()))
OUT = os.path.join(HERE, "out")
CLASSPATH = os.path.join(HERE, "target", "perfbench-classpath.txt")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "digests.json")
WORKLOADS = ("medallion-refresh", "stream-commits", "gold-reads")
RUN_TIMEOUT_S = 170

# The JVM options the engine's own build passes to forked runs and tests.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, for staleness and the source digest."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def revision():
    h = hashlib.sha1()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    rev = f"src-sha1:{h.hexdigest()[:12]}"
    try:
        git = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if git.returncode == 0:
            rev = f"git:{git.stdout.strip()} {rev}"
    except (OSError, subprocess.TimeoutExpired):
        pass
    return rev


def build():
    """Compiles with sbt when the classpath file is missing or stale;
    returns the runtime classpath."""
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            with open(CLASSPATH) as fh:
                return fh.read().strip()
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-Xmx2g"]))
    print("perfbench: building with sbt", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (rc={p.returncode})")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1])
    # flush the build's output now, not while the first run is timed
    os.sync()
    return lines[-1]


def jvm(cp, args, timeout):
    """Runs the harness JVM; returns (rc, stdout lines)."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    # a fixed, pre-touched heap: peak RSS is then the heap plus native
    # memory, and does not move with how far G1 happened to grow the heap
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={WORK}/tmp",
              f"-Dspark.local.dir={WORK}/local",
              f"-Dspark.sql.warehouse.dir={WORK}/warehouse",
              "-cp", cp, "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {timeout} s")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:
            pass
    return proc.returncode, out.splitlines()


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that the correctness checks pass on correct "
                         "output and fail on corrupted expectations")
    ap.add_argument("--dump", metavar="DIR",
                    help="write every query output, its oracle SQL and its "
                         "digest to DIR (see make_expected.py)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft")
    if not a.self_test and not a.dump and not a.workload:
        fail("--workload is required")
    cp = build()
    started = time.time()
    common = ["--data", DATA, "--work", WORK, "--expected", EXPECTED]
    if a.self_test:
        rc, lines = jvm(cp, ["--mode", "selftest"] + common, RUN_TIMEOUT_S)
        print("\n".join(lines))
        sys.exit(rc)
    if a.dump:
        rc, _ = jvm(cp, ["--mode", "dump", "--out", os.path.abspath(a.dump),
                         "--data", DATA, "--work", WORK], 1800)
        sys.exit(rc)

    names = metric_names(a.trace)
    os.makedirs(OUT, exist_ok=True)
    record = os.path.join(
        OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    rc, lines = jvm(cp, ["--mode", "run", "--workload", a.workload,
                         "--seed", str(a.seed), "--seconds", str(a.seconds),
                         "--trace", str(a.trace), "--record", record,
                         "--rev", revision()] + common,
                    RUN_TIMEOUT_S - (time.time() - started))
    results = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    for l in lines:
        if not l.startswith("PERFBENCH_RESULT "):
            print(l, file=sys.stderr)
    if rc != 0 or not results:
        fail(f"harness exited with {rc} and no result")
    # records name paths relative to the checkout, wherever it lives
    with open(record) as fh:
        text = fh.read().replace(ROOT + os.sep, "")
    with open(record, "w") as fh:
        fh.write(text)
    res = json.loads(results[-1].split(" ", 1)[1])
    missing = [n for n in names if n not in res["metrics"]]
    if missing:
        fail(f"harness did not report {missing}")
    res["metrics"] = {n: res["metrics"][n] for n in names}
    print(json.dumps(res))


if __name__ == "__main__":
    main()
