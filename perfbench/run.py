#!/usr/bin/env python3
"""Benchmark command: builds the program, runs one workload in a fresh
JVM, checks its outputs and prints the metrics.

    python3 perfbench/run.py --workload rides_live --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 they are the per-layer ones and the spans are written to
.bench_out/; a traced run times part of its work untraced, which gives
the tracing overhead, and corpus_dedup runs once more on one core for
the core-scaling ratios. Every run works in its own directory under
.bench_tmp/ and deletes it when done. The traced rides_live run also
runs the query battery over SparkEntry rows, whose results are checked
against DuckDB here; every run starts and ends with SparkEntry's
fixtures directory (.bench_tmp/fixtures) deleted.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
CORES = 4
# the query battery's tables: the fixed sf0.001 set of the program's
# test data
BATTERY_DATA = os.path.join(ROOT, "perfbench", "data", "sf0.001")
# the one-core baseline times a single pass
ONE_CORE_SECONDS = 5
# a run must end within 180 s; this is what its JVMs may use together
JVM_BUDGET_S = 165.0
# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return "n/a"


def cpu_times():
    """Aggregate CPU jiffies (user, nice, system, idle, iowait, irq,
    softirq, steal) from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def run_jvm(args, tmp, cores, trace, deadline, seconds=None):
    """One benchmark JVM; returns its report, or None if it produced none."""
    os.makedirs(os.path.join(tmp, "jtmp"), exist_ok=True)
    out = os.path.join(tmp, "result.json")
    # a fixed heap and the stop-the-world collector: no heap resizing, and
    # no concurrent collector threads competing with the 4 task threads
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss4m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(tmp, "jtmp"),
            "-Dderby.system.home=" + tmp,
            "-cp", build.classpath(), "perfbench.Bench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(seconds or args.seconds), "--trace", "1" if trace else "0",
            "--cores", str(cores), "--tmp", tmp, "--out", out, "--data", BATTERY_DATA]
    log_path = os.path.join(tmp, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            print(f"JVM ({cores} cores, trace={int(trace)}) timed out", file=sys.stderr)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return None
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks: they kill the JVM and
    # delete the run's directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    load_start = loadavg()
    cpu_start = cpu_times()
    if not build.build():
        sys.exit(2)
    print(f"loadavg_start {load_start}")
    deadline = time.monotonic() + JVM_BUDGET_S
    tmp = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    shutil.rmtree(build.FIXTURES, ignore_errors=True)
    oracle_failures = []
    try:
        main_run = run_jvm(args, os.path.join(tmp, "main"), CORES, bool(args.trace), deadline)
        reports = [main_run]
        # the query battery's results, when the run had one
        battery_out = os.path.join(tmp, "main", "oracle")
        if main_run is not None and os.path.isdir(battery_out):
            compared, oracle_failures = oracle.compare(BATTERY_DATA, battery_out)
            main_run["attempted"] += compared
        # the single-threaded baseline of the data-bound kernels
        one_core = None
        if args.trace and main_run is not None and args.workload == "corpus_dedup":
            one_core = run_jvm(args, os.path.join(tmp, "one_core"), 1, False, deadline,
                               seconds=ONE_CORE_SECONDS)
            reports.append(one_core)
        if any(r is None for r in reports):
            print("benchmark JVM failed; no result", file=sys.stderr)
            sys.exit(3)
        if args.trace:
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans_out = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
            shutil.copy(os.path.join(tmp, "main", "spans.jsonl"), spans_out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(build.FIXTURES, ignore_errors=True)

    failures = [f for r in reports for f in r["failures"]] + oracle_failures
    attempted = sum(int(r["attempted"]) for r in reports)
    for f in failures:
        print(f"FAILED {f}")
    if args.trace:
        layer = dict(main_run["layer"], **{"jvm.peak_rss_mb": main_run["peak_rss_mb"]})
        if one_core is not None:
            for name, value in one_core["layer"].items():
                base = main_run["layer"].get(name, 0.0)
                if name.startswith("functions.") and name.endswith("_s") and base > 0:
                    layer[f"scaling.{name[len('functions.'):-2]}.ratio_1v{CORES}"] = value / base
        # a layer the workload does not run reads 0: no work was measured there
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in BENCH["per_layer"]}
        for n in sorted(set(layer) - set(metrics)):
            print(f"layer {n} {layer[n]:.6g}")
        print(f"spans {main_run['spans']} written to {os.path.relpath(spans_out, ROOT)}")
    else:
        e2e = main_run["end_to_end"]
        if not e2e:
            print("the run measured nothing; no result", file=sys.stderr)
            sys.exit(3)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in BENCH["end_to_end"]}
    for n, m in metrics.items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    print(f"loadavg_end {loadavg()}")
    cpu_end = cpu_times()
    if cpu_start and cpu_end:
        # time the hypervisor gave this machine's CPUs to other guests: runs
        # with a high share read slow
        d = [b - a for a, b in zip(cpu_start, cpu_end)]
        print(f"cpu_steal_pct {100.0 * d[7] / max(1, sum(d)):.1f}")
    print(json.dumps({"correct": not failures, "attempted": max(1, attempted),
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
