#!/usr/bin/env python3
"""Benchmark entry point for graft (see README.md in this directory).

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the harness and graft from this checkout's sources if they changed,
runs one workload in one JVM on local[nproc], and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, and the span
file lands in perfbench/.out/.
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

import metrics

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
GRAFT_SRC = os.path.join(REPO, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "graftbench.stamp")
OUT = os.path.join(BENCH, ".out")
WORKLOADS = ("backup_cycle", "vector_serving")
BUILD_TIMEOUT_S = 900
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    """sha1 over the files under `paths` (names and contents)."""
    h = hashlib.sha1()
    for root in paths:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install: set SPARK_HOME")
    return home


def build(sources):
    want = digest(sources)
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP) \
            and open(STAMP).read() == want:
        return want
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return want


def heap_flag():
    """-Xmx: half of RAM, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        gb = max(2, min(4, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration):
        gb = 2
    return f"-Xmx{gb}g"


def jvm_thread_flags():
    """GC and JIT helper threads for half the cores. On a 4-core shared
    host, with the JVM's defaults (one parallel GC thread per core, three
    JIT threads) beside four Spark task threads, the CPU time the host
    withheld from a run (steal) was about ten times higher, and run times
    of one workload spread by a quarter across seeds."""
    half = max(1, (os.cpu_count() or 2) // 2)
    return [f"-XX:ParallelGCThreads={half}", "-XX:ConcGCThreads=1",
            f"-XX:CICompilerCount={max(2, half)}"]


def commit(src_digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + src_digest[:12]


def launch(args, run_dir, src_digest, record_golden):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    corpus = os.path.join(BENCH, ".cache", "corpus-" + digest(
        [os.path.join(BENCH, "src", "main", "scala", "graftbench", "Corpus.scala")])[:12])
    out = os.path.join(run_dir, "out.json")
    cmd = (["java"] + [f"--add-opens={o}" for o in ADD_OPENS] +
           [heap_flag()] + jvm_thread_flags() +
           [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--out", out, "--corpus-cache", corpus,
            "--golden", os.path.join(BENCH, "golden.json"),
            "--t0-ms", str(int(time.time() * 1000))])
    if record_golden:
        cmd += ["--record-golden", os.path.join(run_dir, "golden.json")]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS")}
    env["GRAFTBENCH_COMMIT"] = commit(src_digest)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        # also on a signal: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.isfile(out):
        fail(f"harness exited {code}")
    with open(out) as fh:
        return json.load(fh)


def write_trace(args, run, per_layer_metrics):
    """Span file (with self times) plus the trace summary, which reports
    the traced run_s against the median untraced run_s seen so far."""
    os.makedirs(OUT, exist_ok=True)
    sp = metrics.Spans(run["spans"])
    selfs = sp.self_times()
    for s in run["spans"]:
        s["self_s"] = selfs[s["id"]]
    base = os.path.join(OUT, f"{args.workload}-seed{args.seed}")
    with open(base + ".spans.json", "w") as fh:
        json.dump(run["spans"], fh)
    e2e = metrics.end_to_end(run)
    history = untraced_history(args.workload)
    summary = {"workload": args.workload, "seed": args.seed,
               "traced_run_s": e2e["run_s"],
               "untraced_run_s_median": metrics.median(history) if history else None,
               "tracing_overhead_s": e2e["run_s"] - metrics.median(history)
               if history else None,
               "untraced_runs": len(history),
               "per_layer": per_layer_metrics,
               "generated": run["generated"], "host": run["host"]}
    with open(base + ".trace.json", "w") as fh:
        json.dump(summary, fh, indent=1)
    print(f"perfbench: spans in {base}.spans.json; tracing overhead "
          f"{summary['tracing_overhead_s']} s over {len(history)} untraced runs",
          file=sys.stderr)


def untraced_history(workload):
    path = os.path.join(OUT, "untraced_run_s.jsonl")
    if not os.path.isfile(path):
        return []
    with open(path) as fh:
        rows = [json.loads(l) for l in fh if l.strip()]
    return [r["run_s"] for r in rows if r["workload"] == workload]


def on_signal(signum, _frame):
    # turn SIGTERM/SIGHUP into SystemExit, so `finally` blocks stop the
    # JVM and delete the run directory
    sys.exit(128 + signum)


def main():
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, on_signal)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="also write the run's fingerprints into golden.json")
    args = ap.parse_args()

    if not os.path.isdir(GRAFT_SRC):
        fail(f"graft sources not found at {GRAFT_SRC}: run from a full checkout")
    sources = [GRAFT_SRC, os.path.join(BENCH, "src", "main"),
               os.path.join(BENCH, "build.sbt"),
               os.path.join(BENCH, "project", "build.properties")]
    src_digest = build(sources)

    run_dir = os.path.join(BENCH, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        run = launch(args, run_dir, src_digest, args.record_golden)
        if args.record_golden:
            path = os.path.join(BENCH, "golden.json")
            golden = json.load(open(path)) if os.path.isfile(path) else {}
            golden.update(json.load(open(os.path.join(run_dir, "golden.json"))))
            with open(path, "w") as fh:
                json.dump(dict(sorted(golden.items())), fh, indent=1)
                fh.write("\n")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    sp = metrics.Spans(run["spans"])
    ops = [s for s in sp.all if s["attrs"].get("op")]
    failed = [s for s in ops if "failed" in s["attrs"]]
    e2e = metrics.end_to_end(run)
    if args.trace:
        values = metrics.per_layer(run, run["host"]["nproc"])
        units = {m["name"]: m["unit"] for m in benchmark_spec()["per_layer"]}
        write_trace(args, run, values)
    else:
        values = e2e
        units = {m["name"]: m["unit"] for m in benchmark_spec()["end_to_end"]}
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, "untraced_run_s.jsonl"), "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                 "run_s": e2e["run_s"]}) + "\n")
    missing = set(units) - set(values)
    if missing:
        fail(f"metrics not computed: {sorted(missing)}")
    print(json.dumps({"generated": run["generated"],
                      "host": run["host"], "failures": run["failures"]}),
          file=sys.stderr)
    print(json.dumps({
        "correct": not failed, "attempted": len(ops), "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


def benchmark_spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    main()
