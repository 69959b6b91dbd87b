#!/usr/bin/env python3
"""Benchmark of the graft library, run from the root of a source checkout.

    python3 perfbench/run.py --workload corpus_fresh --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark client from source with the Scala
compiler that ships in Spark's jars (output under .bench_build/), runs one
JVM that generates the inputs from --seed, sets up, times whole passes of
the workload for --seconds, checks every timed result, and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones from a traced run. The
line before it carries the environment stamp.

    python3 perfbench/run.py --self-test       # the benchmark's own tests
    python3 perfbench/run.py --record corpus_fresh   # re-record expectations
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("corpus_fresh", "event_stream")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 165


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources(root):
    lib = os.path.join(root, "src", "main", "scala")
    own = os.path.join(HERE, "src")
    if not os.path.isfile(os.path.join(lib, "graft", "SparkEntry.scala")):
        fail("no library sources under %s: run from the root of a graft checkout" % lib)
    files = []
    for top in (lib, own):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, jars):
    """Compile library + benchmark once per source digest."""
    files = sources(root)
    key = digest(files + [os.path.join(root, "build.sbt")])
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes, key
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(key)
    return classes, key


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the first
    spark-submit on the PATH that sits in a full install."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark install found: set SPARK_HOME")


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot, or None."""
    try:
        ticks = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def steal_frac(t0, t1):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_ticks() readings: a high value marks a run taken on a busy host."""
    if t0 is None or t1 is None or t1[1] <= t0[1]:
        return None
    return round((t1[0] - t0[0]) / (t1[1] - t0[1]), 4)


def commit(root):
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(root, classes, jars, cpus, argv, work, timeout=JVM_TIMEOUT_S):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m"] +
           ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
           ["-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--cpus", str(cpus), "--work", work,
            "--t0-ms", str(int(time.time() * 1000))] + argv)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail("benchmark JVM timed out after %d s" % timeout)
    finally:
        if proc.poll() is None:  # timed out, or this process is being stopped
            proc.kill()
            proc.wait()
    if rc != 0:
        fail("benchmark JVM exited with %d" % rc)


def self_test(root, classes, jars, cpus):
    import unittest
    suite = unittest.defaultTestLoader.discover(os.path.join(HERE, "tests"))
    if not unittest.TextTestRunner(stream=sys.stderr, verbosity=2).run(suite).wasSuccessful():
        sys.exit(1)
    work = os.path.join(root, ".bench_build", "perfbench", "work", "selftest-%d" % os.getpid())
    try:
        cmd = (["java", "-Xmx1g"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
               ["-Djava.io.tmpdir=" + work, "-Dspark.local.dir=" + work,
                "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
                "-cp", classes + os.pathsep + os.path.join(jars, "*"),
                "perfbench.SelfTest", str(cpus)])
        os.makedirs(work, exist_ok=True)
        sys.exit(subprocess.run(cmd, cwd=work, timeout=JVM_TIMEOUT_S).returncode)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", choices=("corpus_fresh",))
    a = ap.parse_args()
    root = os.getcwd()
    jars = spark_jars()
    classes, src_key = build(root, jars)
    cpus = len(os.sched_getaffinity(0))
    if a.self_test:
        self_test(root, classes, jars, cpus)
    if a.record:
        work = os.path.join(root, ".bench_build", "perfbench", "work", "record")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(HERE, "expected", a.record + ".json")
        run_jvm(root, classes, jars, cpus, ["--workload", a.record, "--seed", "0",
                                            "--seconds", "0", "--trace", "0", "--out", out,
                                            "--record", out], work, timeout=3600)
        shutil.rmtree(work, ignore_errors=True)
        return
    if not a.workload:
        ap.error("--workload is required")

    load0, ticks0 = loadavg(), cpu_ticks()
    base = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(base, "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    try:
        run_jvm(root, classes, jars, cpus,
                ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--out", raw_path,
                 "--expected", os.path.join(HERE, "expected", a.workload + ".json")], work)
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    env = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": cpus,
           "heap_bytes": raw["heap_bytes"], "spark_version": raw["spark_version"],
           "commit": commit(root), "source_sha256": src_key,
           "loadavg_start": load0, "loadavg_end": loadavg(),
           "steal_frac": steal_frac(ticks0, cpu_ticks())}
    traces = os.path.join(base, "traces")
    os.makedirs(traces, exist_ok=True)
    name = "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)
    with open(os.path.join(traces, name), "w") as f:
        json.dump(dict(raw, env=env), f)

    if a.trace:
        values, units = stats.per_layer(raw, cpus), LAYER_UNITS
    else:
        values, units = stats.end_to_end(raw), E2E_UNITS
    failed = sum(1 for o in raw["ops"] if o["error"] is not None)
    for o in raw["ops"]:
        if o["error"] is not None:
            print("perfbench: %s failed: %s" % (o["key"], o["error"]), file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(raw["ops"]),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


def _units():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


if __name__ == "__main__":
    # a SIGTERM unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    E2E_UNITS, LAYER_UNITS = _units()
    main()
