#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload pipeline_1k --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first call builds the engine and the
benchmark from source with sbt and generates the input tables; later calls
reuse both while their sources are unchanged. The JVM writes its result to
a file under perfbench/out/; this script prints the metrics by name and,
as the last line of standard output, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics, or
with --trace 1 the per-layer metrics).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(BENCH, ".build")
DATA_DIR = os.path.join(BENCH, ".data")
OUT_DIR = os.path.join(BENCH, "out")
WORK_ROOT = os.path.join(BENCH, ".work")

WORKLOADS = ("pipeline_1k", "catalog_core")
PIPELINE_SF = "0.1"
CATALOG_SF = "0.01"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from the repository."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                       "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    return env


def run_bounded(cmd, limit, **kw):
    """Run `cmd` in its own process group; kill the group past `limit` s."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def ensure_build():
    """Compile engine + benchmark once per source state; return the classpath."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as fh:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_LIMIT_S, cwd=BENCH, env=sbt_env(), stdout=fh,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if "perfbench" in l and "classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


def ensure_data(sf):
    d = os.path.join(DATA_DIR, f"sf{sf}")
    if not os.path.isdir(d):
        os.makedirs(DATA_DIR, exist_ok=True)
        shutil.rmtree(d + ".partial", ignore_errors=True)
        rc = subprocess.call([sys.executable, os.path.join(BENCH, "gen_data.py"), d, sf])
        if rc != 0:
            fail(f"data generation failed (exit {rc})")
    return d


def java_cmd(classpath, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap and the throughput collector: G1's adaptive heap
    # sizing made run-to-run times and memory vary more
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-Xss16m", *opens, "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main", *args])


def run_jvm(classpath, work, args, log, limit):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    with open(log, "w") as fh:
        return run_bounded(java_cmd(classpath, work, args), limit, env=env, stdout=fh,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, cwd=work)


def _terminate(signum, frame):
    # turn a termination request into an exception, so run_bounded's
    # cleanup kills the JVM's process group before this script exits
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout", 2)
    t_prep = time.monotonic()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        # one build and one data generation per checkout, even when runs overlap
        fcntl.flock(lock, fcntl.LOCK_EX)
        classpath = ensure_build()
        sf = CATALOG_SF if a.workload == "catalog_core" else PIPELINE_SF
        data = ensure_data(sf)
    # building and generating data happen once per checkout and are not
    # charged to the run's own time limit
    t_start += time.monotonic() - t_prep

    os.makedirs(OUT_DIR, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(OUT_DIR, f"{tag}.json")
    if os.path.exists(result):
        os.remove(result)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", data, "--work", work, "--result", result,
            "--spans", os.path.join(OUT_DIR, f"{tag}.spans.json")]
    if a.workload == "catalog_core":
        args += ["--expected", os.path.join(BENCH, "expected", f"catalog_sf{sf}.json")]
    log = os.path.join(OUT_DIR, f"{tag}.log")
    try:
        rc = run_jvm(classpath, work, args, log, RUN_LIMIT_S - (time.monotonic() - t_start))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(log).read()[-4000:])
        if os.path.exists(result):
            for f in json.load(open(result))["failures"]:
                print(f"FAILED {f['op']}: {f['reason']}", file=sys.stderr)
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; log {log}")

    r = json.load(open(result))
    if "queries" in r["detail"]:
        with open(os.path.join(OUT_DIR, f"{tag}.queries.json"), "w") as fh:
            json.dump(r["detail"]["queries"], fh, indent=1)
    section = "per_layer" if a.trace == "1" else "end_to_end"
    for f in r["failures"]:
        print(f"FAILED {f['op']}: {f['reason']}")
    for k, m in r["figures"].items():
        print(f"figure {k} = {m['value']:.6g} {m['unit']}")
    print(f"figure failed_frac = {r['failed'] / r['attempted']:.6g} fraction")
    h = r["host"]
    print(f"host cpus={h['cpus']} steal_frac={h['steal_frac']:.4f} probe_s={h['probe_s']:.4f} "
          f"(reference {h['probe_ref_s']}) peak_rss_mb={h['peak_rss_mb']:.1f}")
    print(f"samples {json.dumps(r['samples'])}; detail in {result}")
    metrics = r[section]
    for k, m in metrics.items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
