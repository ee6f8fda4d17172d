#!/usr/bin/env python3
"""Benchmark runner. From the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program with the benchmark (once per source state), stages
the seeded inputs, runs perfbench.Main in a fresh JVM, checks every
output against DuckDB, and prints one JSON line last: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. Build output
and scratch files go under $CARGO_TARGET_DIR (default .bench_build).
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import lib  # noqa: E402

WORKLOADS = ("gateway_lookup", "corpus_stream")
RUN_LIMIT_S = 170
# Set-ups per run: the run's own fresh JVM, then set-up-only JVMs. Each
# costs a process start (~6 s on 4 cores); two keep a run near a minute.
SETUP_SAMPLES = 2
HEAP = "3g"  # fixed size: no heap resizing between runs
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile the program's sources with the benchmark's harness (sbt);
    returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "source.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building (sbt compile)")
    t0 = time.time()
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "-Dsbt.server.forcestart=false", "compile", "printClasspath"],
                   cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                   timeout=850, check=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file) as g:
        return g.read().strip()


def run_jvm(cp, args, work, cores, timeout):
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
              "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={cores}",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def stage(src, dst, seed):
    """Stage the seeded inputs into `dst`; returns the seconds it took."""
    t0 = time.perf_counter()
    lib.stage_inputs(src, dst, seed)
    return time.perf_counter() - t0


def main():
    # a terminated runner still stops its JVM and removes its scratch
    # files: SystemExit unwinds through the finally blocks below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        log("no program sources under src/main/scala: run from a checkout root")
        return 2
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    base = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                        "perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run(a, root, spec, base, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, root, spec, base, work, t_start):
    import pyarrow.parquet as pq  # imported before any staging is timed
    cp = build(root)
    cpus = os.cpu_count() or 4
    # Spark's task slots and the gateway's clients take half the cores,
    # and the parallel collector's threads are capped to match. On 4
    # cores this cut the gateway's cold pass from 14.4 to 12.7 s (medians
    # of four, against Spark on all 4 with the JVM's default collector)
    # and shortens every run, which leaves time for more samples per
    # run. The JIT keeps its default thread count: with two compiler
    # threads, warm requests were still 10-40 % slower after a minute.
    cores = max(1, cpus // 2)
    src = os.path.join(HERE, "data")
    data = os.path.join(work, "data")
    stage_s = stage(src, data, a.seed)
    log(f"inputs staged at {time.time() - t_start:.1f} s")
    extra = []
    requests = None
    if a.workload == "gateway_lookup":
        n_cust = pq.read_metadata(os.path.join(data, "customer.parquet")).num_rows
        n_orders = pq.read_metadata(os.path.join(data, "orders.parquet")).num_rows
        requests = lib.gateway_requests(a.seed, n_cust, n_orders)
        with open(os.path.join(work, "config.json"), "w") as f:
            f.write(lib.gateway_config())
        with open(os.path.join(work, "requests.json"), "w") as f:
            json.dump(requests, f)
        extra = [os.path.join(work, "config.json"),
                 os.path.join(work, "requests.json")]

    def jvm(mode, w, d):
        """Run perfbench.Main on work dir `w` and inputs `d`; returns its
        result.json, or None if it failed."""
        args = mode + [a.workload, d, w, str(a.seconds), str(a.trace),
                       str(cores)] + extra
        left = RUN_LIMIT_S - (time.time() - t_start)
        code = run_jvm(cp, args, w, cores, timeout=max(10, left))
        if code != 0:
            log(f"perfbench.Main {' '.join(mode)} exited with {code}")
            return None
        with open(os.path.join(w, "result.json")) as f:
            return json.load(f)

    probe_pre = lib.host_probe()
    ticks = lib.cpu_ticks()
    result = jvm([], work, data)
    steal = lib.steal_frac(ticks, lib.cpu_ticks())
    if result is None:
        return 1
    log(f"perfbench.Main done at {time.time() - t_start:.1f} s")
    # set-up as a process start pays it: staging the seeded inputs, then
    # JVM boot to a ready session (and gateway), each in a fresh JVM
    setups = [stage_s + result["setup_s"]]
    for i in range(1, 1 if a.trace else SETUP_SAMPLES):
        w = os.path.join(work, f"setup-{i}")
        os.makedirs(os.path.join(w, "tmp"))
        secs = stage(src, os.path.join(w, "data"), a.seed)
        r = jvm(["setup"], w, os.path.join(w, "data"))
        if r is None:
            return 1
        setups.append(secs + r["setup_s"])
        shutil.rmtree(w, ignore_errors=True)
    probe_post = lib.host_probe()

    # correctness, outside every timed pass
    if a.workload == "gateway_lookup":
        bad = lib.check_responses(data, result["responses"], requests)
        attempted = len(result["responses"])
        named = {f"request/{k}": v for k, v in bad.items()}
    else:
        bad = lib.check_stages(src, os.path.join(work, "out"),
                               result["oracles"], result["stage_names"],
                               result["passes"],
                               os.path.join(base, "oracle-cache"))
        attempted = len(result["stage_names"]) * len(result["passes"])
        named = {f"{s}/{p}": why for (s, p), why in bad.items()}
    # an exception in a stage run replaces that run's missing output
    named.update({f["op"]: f["error"] for f in result["failures"]})
    failed = min(attempted, len(named))
    log(f"outputs checked at {time.time() - t_start:.1f} s")

    diag = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "cpus": cpus, "cores": cores, "fail_frac": failed / max(1, attempted),
            "failures": named, "host_probe_s": [probe_pre, probe_post],
            "steal_frac": steal, "setup_s": setups}
    if a.workload == "gateway_lookup":
        lags = result["gen_lag_ms"]
        diag["gen_lag_ms"] = {"p50": lib.median(lags), "max": max(lags)}
    else:
        diag["stage_s"] = {s: {p: lib.median(v) for p, v in t.items()}
                           for s, t in result["stages"].items()}

    if a.trace:
        with open(os.path.join(work, "trace.json")) as f:
            trace = json.load(f)
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        stage_names = sorted({n.split(".")[1] for n in names
                              if n.startswith("stage.")})
        values = lib.per_layer(result, trace, stage_names)
        keep = os.path.join(base, "traces")
        os.makedirs(keep, exist_ok=True)
        trace["result"] = dict(result, responses=[
            {k: v for k, v in r.items() if k != "body"}
            for r in result.get("responses", [])])
        trace["seed"] = a.seed
        path = os.path.join(keep, f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump(trace, f)
        diag["trace_file"] = os.path.relpath(path, root)
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = lib.end_to_end(result, set(bad), setups)
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names}
    print(json.dumps(diag))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
