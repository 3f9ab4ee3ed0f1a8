#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record-digests

Run it from the root of a checkout. It builds the engine and the benchmark
from source with sbt (perfbench/build.sbt) when their sources changed,
makes the workload's inputs from the seed, runs one JVM, and prints a
summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Everything the run writes goes under
.bench_build/ in the checkout: the build record, the generated corpora,
Spark's temporary files, and per run a directory with result.json (all
metrics, calibration probes, failures) and, when traced, spans.json and
layers.txt.

--record-digests runs every catalog query once and rewrites
perfbench/digests.tsv, the digests the catalog workloads check against.
Record only from a commit whose results are known to be right.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("catalog_warm", "mr_corpus")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
KEEP_CORPORA = 3


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Files whose content decides the build: both builds and all sources."""
    out = []
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src/main"):
        p = os.path.join(ROOT, base)
        if os.path.isfile(p):
            out.append(p)
        for d, _, fs in os.walk(p):
            out.extend(os.path.join(d, f) for f in fs)
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, log, env=None):
    """Run a child in its own process group; kill the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def launcher():
    """JVM arguments from the last build, rebuilding when sources changed."""
    rec = os.path.join(BUILD, "launcher.json")
    fp = fingerprint()
    if os.path.exists(rec):
        with open(rec) as f:
            got = json.load(f)
        cp = got["args"][got["args"].index("-cp") + 1].split(os.pathsep)
        if got.get("fingerprint") == fp and all(os.path.exists(p) for p in cp):
            return got["args"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log = os.path.join(BUILD, "build.log")
    rc = run_child(["sbt", "--batch", "-Dsbt.server.autostart=false", "launcher"],
                   HERE, BUILD_TIMEOUT_S, log)
    if rc != 0:
        fail(f"build failed (exit {rc}); last lines of {log}:\n{tail(log)}")
    with open(os.path.join(HERE, "target", "launcher.txt")) as f:
        args = [l.rstrip("\n") for l in f if l.strip()]
    with open(rec, "w") as f:
        json.dump({"fingerprint": fp, "args": args}, f)
    return args


def prune_corpora(keep_dir):
    """Keep the few most recently used generated corpora."""
    base = os.path.dirname(keep_dir)
    dirs = sorted((os.path.join(base, d) for d in os.listdir(base)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_CORPORA:]:
        if d != keep_dir:
            shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    if not a.record_digests and None in (a.workload, a.seconds):
        ap.error("--workload and --seconds are required")

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine's sources (src/main/scala/graft) are not in this checkout")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json is not in this checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    os.makedirs(BUILD, exist_ok=True)
    jvm = launcher()
    cpus = len(os.sched_getaffinity(0))
    work = {k: os.path.join(BUILD, k) for k in ("tmp", "spark-local", "warehouse")}
    for d in work.values():
        os.makedirs(d, exist_ok=True)
    # engine knobs from the environment must not change what is measured
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    jvm = [java] + jvm + [
        "-Xms2g", "-Xmx2g", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={work['tmp']}",
        f"-Dspark.local.dir={work['spark-local']}",
        f"-Dspark.sql.warehouse.dir={work['warehouse']}",
    ]
    data = os.path.join(HERE, "data", "sf0.01")
    digests = os.path.join(HERE, "digests.tsv")
    if a.record_digests:
        log = os.path.join(BUILD, "record.log")
        rc = run_child(jvm + ["graftbench.Record", f"data={data}", f"digests={digests}", f"cpus={cpus}"],
                       ROOT, 3600, log, env)
        if rc != 0:
            fail(f"recording failed (exit {rc}); last lines of {log}:\n{tail(log)}")
        print(f"wrote {os.path.relpath(digests, ROOT)}")
        return

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    corpus = os.path.join(BUILD, "corpus", f"s{a.seed}")
    if a.workload == "mr_corpus":
        os.makedirs(corpus, exist_ok=True)
        os.utime(corpus)
        prune_corpora(corpus)

    cmd = jvm + [
        "graftbench.Main",
        f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
        f"trace={a.trace}", f"cpus={cpus}",
        f"data={data}", f"digests={digests}",
        f"corpus={corpus}", f"out={out}",
    ]
    log = os.path.join(out, "jvm.log")
    t0 = time.time()
    rc = run_child(cmd, ROOT, RUN_TIMEOUT_S, log, env)
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        fail(f"run failed (exit {rc}) after {time.time() - t0:.1f} s; last lines of {log}:\n{tail(log)}")
    with open(res_path) as f:
        res = json.load(f)

    values = dict(res["end_to_end"])
    values.update(res["per_layer"])
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"the run did not report {missing}")

    print(f"{a.workload} seed={a.seed} trace={a.trace}: {res['attempted']} operations, "
          f"{res['failed']} failed (failed_frac {res['failed_frac']:.4f}), "
          f"{len(res['passes'])} passes, {res['samples']} latency samples")
    for m in spec["end_to_end"] + (spec["per_layer"] if a.trace else []):
        if m["name"] in values:
            print(f"  {m['name']:<28} {values[m['name']]:>16.6f} {m['unit']}")
    for k, v in res["calib"]["start"].items():
        print(f"  {k + ' (start/end)':<28} {v:>16.6f} {res['calib']['end'][k]:.6f}")
    for msg in res["failures"][:20]:
        print(f"  FAILED {msg}")
    print(f"  artifacts: {os.path.relpath(out, ROOT)}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
