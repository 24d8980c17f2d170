#!/usr/bin/env python3
"""graft's caller-facing benchmark: one run of one workload.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The script

  1. builds graft's sources together with the benchmark harness
     (perfbench/build.sbt; rebuilt only when a source is newer than the
     last build),
  2. generates the run's input corpus into a fresh scratch directory
     under perfbench/.work (the same tables for every run),
  3. runs the workload in a fresh JVM: set-up, warm-up, then whole
     rounds of the seeded op sequence for --seconds,
  4. prints the JVM's report lines and, last, one JSON object:
     {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
     metrics are the end-to-end ones, with --trace 1 the per-layer ones,
  5. removes the scratch directory.

Exits non-zero, without a result line, when the checkout has no graft
sources or any step fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "perfbench.classpath")
WORKLOADS = ("search_mix", "ingest_search")
# Generated corpus: graft's test-data schema at sf0.01 for the TPC-H
# tables and events (60k lineitems, 10k events), with the sf0.1
# documents (5000) and embeddings (2000 x 64-d). A fresh JVM per run
# makes set-up ~40 s; a larger corpus would not fit the benchmark's hour
# for its full set of runs.
DATA_SF = 0.01
DATA_SEED = 42
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compile graft + the harness; cache the runtime classpath."""
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return open(CLASSPATH).read().strip()
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    log("building graft + harness (sbt compile)")
    t = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = next((l.strip() for l in reversed(lines)
               if not l.startswith("[") and ".jar" in l), None)
    if p.returncode != 0 or cp is None:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    log(f"built in {time.time() - t:.1f}s")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def spark_home():
    """The Spark installation whose jars graft compiles and runs against."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def heap():
    """Half the machine's memory, between 2 and 8 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        g = kb // (2 * 1024 * 1024)
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=10).stdout.strip() \
            or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def select(metrics, trace):
    """The metrics BENCHMARK.json names, in its order: the end-to-end
    ones (each must be present) or the per-layer ones (a layer this
    workload never calls did no work here and reads 0)."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        got = metrics.get(m["name"])
        if got is None and not trace:
            raise SystemExit(f"end-to-end metric {m['name']} missing from the run")
        out[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    return out


def main(argv):
    ap = argparse.ArgumentParser(description="graft caller-facing benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no graft sources under {ROOT}/src/main/scala; run from a graft checkout")
        return 2

    cp = build()
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    try:
        sys.path.insert(0, HERE)
        sys.dont_write_bytecode = True
        import gen_data
        data = os.path.join(work, "data")
        gen_data.generate(data, DATA_SF, DATA_SEED)
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(work, d))
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(traces, f"{a.workload}-seed{a.seed}-{os.getpid()}.jsonl")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, f"-Xmx{heap()}", "-XX:-UsePerfData"] + \
            [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             f"-Dspark.sql.warehouse.dir={work}/warehouse",
             f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--data", data, "--work", work, "--spans", spans]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, env=env, cwd=work, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"run exceeded {JVM_TIMEOUT_S}s; killed")
            return 1
        print("[perfbench] checkout: " + json.dumps(
            {"commit": commit(), "data_sf": DATA_SF, "data_seed": DATA_SEED}))
        lines = out.splitlines()
        for l in lines[:-1]:
            print(l)
        if p.returncode != 0 or not lines:
            log(f"JVM exited {p.returncode}")
            return 1
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            log("malformed result line")
            return 1
        print("[perfbench] all metrics: " + json.dumps(result["metrics"]))
        result["metrics"] = select(result["metrics"], a.trace)
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
