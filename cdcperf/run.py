#!/usr/bin/env python3
"""CDC benchmark: one command runs a workload from a seed and prints every metric.

    python3 cdcperf/run.py --workload ingest_l0 --seed 7 --seconds 12 --trace 0

Run from the repository root. The first run compiles the engine
(src/main/scala) together with the driver (cdcperf/src) into
cdcperf/target with the Scala compiler that ships in Spark's jars; later runs
reuse the classes while the sources are unchanged. Spark is found through
SPARK_HOME or the `spark-submit` on PATH.

The last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Lines before it give the machine, the
sample counts and the steadiness check. See cdcperf/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
JVM_TIMEOUT_S = 170

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"cdcperf: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala: run from the repository root")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(jars):
    """Compile engine and driver when their sources changed; returns the class dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(TARGET, "classes")
    stamp_file = os.path.join(TARGET, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(TARGET, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(TARGET, ignore_errors=True)
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"cdcperf: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def machine():
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) // 1024
    nproc = len(os.sched_getaffinity(0))
    # pinned heap: an eighth of RAM, 1-4 GiB (a run's heap after GC peaks
    # near 400 MB); the lake and WAL of a run take well under 1 GiB more
    heap = max(1024, min(4096, mem["MemTotal"] // 8 // 256 * 256))
    if mem.get("MemAvailable", 0) < heap + 2048:
        fail(f"not enough free memory: {mem.get('MemAvailable')} MiB available, "
             f"{heap + 2048} MiB needed")
    return {"nproc": nproc, "heap_mb": heap, "mem_total_mb": mem["MemTotal"],
            "mem_available_mb": mem.get("MemAvailable")}


def cpu_times():
    """Jiffies per state from /proc/stat: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def jvm_flags(env):
    return ([f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xms{env['heap_mb']}m", f"-Xmx{env['heap_mb']}m",
        # every heap page is faulted in at start, not inside the timed window
        "-XX:+AlwaysPreTouch",
        f"-XX:ParallelGCThreads={env['nproc']}", "-XX:ConcGCThreads=1",
        # C1 only, compiling early: Spark's hot code then reaches its steady
        # speed within the warm-up instead of drifting through the window as
        # C2 recompiles it. A deployed JVM runs C2 (see README.md)
        "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.05",
        "-XX:ReservedCodeCacheSize=256m",
        "-XX:-UsePerfData", "-Xss8m",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false",
    ])


def fmt(v):
    return v if isinstance(v, int) else float(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and wipes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    classes = build(jars)
    env = machine()
    print("machine: " + json.dumps(env))

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    out = os.path.join(WORK, "raw.json")
    cmd = (["java"] + jvm_flags(env) +
           ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "cdcperf.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), WORK, out])
    cpu0 = cpu_times()
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=WORK,
                              timeout=JVM_TIMEOUT_S)
        if proc.returncode != 0 or not os.path.exists(out):
            fail(f"driver exited with code {proc.returncode}")
        with open(out) as f:
            raw = json.load(f)
    except subprocess.TimeoutExpired:
        fail(f"driver did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    d = [b - a for a, b in zip(cpu0, cpu_times())]
    print("cpu: " + json.dumps({k: round(d[i] / max(1, sum(d)), 4) for i, k in
                                 ((0, "user"), (2, "system"), (3, "idle"), (4, "iowait"), (7, "steal"))}))
    if raw.get("window") is None:
        fail("the stream ended before the timed window opened")
    print("run: " + json.dumps({k: raw[k] for k in ("workload", "seed", "cores", "marks_s", "gen_s", "setup_warm_s",
                                                        "setup_s", "setup_wall_s", "wal_exhausted", "check",
                                                        "errors")}))
    m, timings, counts, series = stats.end_to_end(raw)
    steady = stats.steadiness(series, raw["warm_series"])
    drift = stats.drift(raw)
    jit = (raw["window"]["end"]["jit_ms"] - raw["window"]["start"]["jit_ms"]) / 1000
    print("timings: " + json.dumps({k: v for k, (v, _) in timings.items()}))
    print("samples: " + json.dumps(counts))
    print("steadiness: " + json.dumps({
        "cpu_last_over_first_third": {k: [None if r is None else round(r, 3), n] for k, (r, n, _, _) in steady.items()},
        "cpu_window_over_best_warm": {k: None if w is None else round(w, 3) for k, (_, _, w, _) in steady.items()},
        "jvm.jit_s": jit, "drift_first_last_round": drift,
        "warm_rounds": raw["warm_rounds"], "warm_series": raw["warm_series"]}))
    unsteady = [k + " still falling" for k, (_, _, _, ok) in steady.items() if not ok]
    unsteady += [k + " still falling at the warm-up cap" for k in raw["still_warming"]]
    unsteady += [k + " drift" for k in stats.drifted(drift)]
    if raw["wal_exhausted"]:
        unsteady.append("wal_exhausted")
    if unsteady:
        print("UNSTEADY run: " + ", ".join(unsteady))

    if a.trace:
        metrics = stats.per_layer(raw)
    else:
        metrics = m
    missing = [k for k, (v, _) in metrics.items() if v is None]
    if missing:
        print("missing metrics: " + ", ".join(missing))
    correct = bool(raw["correct"]) and not unsteady and not missing
    print(json.dumps({
        "correct": correct,
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {k: {"value": fmt(v) if v is not None else None, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
