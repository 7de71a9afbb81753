#!/usr/bin/env python3
"""Benchmark of the similarity engine: three workloads, each in a fresh JVM.

    python3 perfbench/run.py --workload query-serve --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, full report
    python3 perfbench/run.py --self-test                  # the benchmark's own tests

Workloads (sizes and reasons are in BENCHMARK.json and the Scala sources):
  query-serve     /query over HTTP against a probe-cached index
  dedup-trickle   /dedup absorbs beside classify probes, across compactions
  batch-pipeline  in-process index build, queryBatch and near-dup pass

The engine and the benchmark are compiled from source first (build.py).
Each run gets `local[nproc]`, an explicit heap sized to the machine, and a
fresh directory for Spark scratch, the standing corpus and temp files,
deleted afterwards. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1 (the traced run also writes its
spans and job attributions to <build dir>/traces/). Everything else,
including the workload's full named report, goes to stderr.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["query-serve", "dedup-trickle", "batch-pipeline"]
RUN_LIMIT_S = 175
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def heap_mb():
    """Driver heap: 40% of physical memory, clamped to [2, 6] GiB."""
    total_kb = 8 << 20
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(2048, min(6144, int(total_kb * 0.4 / 1024)))


def run_one(jars, engine_cls, bench_cls, workload, seed, seconds, trace, deadline):
    """Run one workload in a fresh JVM; return (result dict, report dict)."""
    out = build.out_dir()
    run_dir = out / "runs" / f"{workload}-{seed}-{os.getpid()}-{time.monotonic_ns()}"
    (run_dir / "tmp").mkdir(parents=True)
    log = out / "logs" / f"{workload}-seed{seed}-trace{trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    trace_file = out / "traces" / f"{workload}-seed{seed}.json"
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{heap_mb()}m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.callstack.depth=64",
            "-cp", os.pathsep.join([str(bench_cls), str(engine_cls), str(jars / "*")]),
            "graftbench.Main", workload, str(seed), str(seconds), str(trace), str(cores()),
            str(run_dir), str(trace_file)])
    try:
        with open(log, "w") as lf:
            env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir,
                                    env=env, start_new_session=True)
            try:
                rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise RuntimeError(f"{workload} exceeded its time limit; log: {log}")
        if rc != 0 or not (run_dir / "result.json").is_file():
            tail = log.read_text(errors="replace").splitlines()[-40:]
            raise RuntimeError(f"{workload} JVM exited {rc}; log: {log}\n" + "\n".join(tail))
        result = json.loads((run_dir / "result.json").read_text())
        report = json.loads((run_dir / "report.json").read_text())
        for line in log.read_text(errors="replace").splitlines():
            if line.startswith("[graftbench]"):
                print(line, file=sys.stderr)
        return result, report
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def print_report(report, stream):
    print(f"== {report['workload']} (seed {report['seed']}, trace {report['trace']}): "
          f"correct={report['correct']} attempted={report['attempted']} failed={report['failed']}",
          file=stream)
    for name, m in report["report"].items():
        print(f"   {name:28s} {m['value']:>16.6g} {m['unit']}", file=stream)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    started = time.monotonic()
    try:
        jars, engine_cls, bench_cls = build.build()
    except build.BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        return 2
    if a.self_test:
        return subprocess.run(
            ["java", "-XX:-UsePerfData",
             "-cp", os.pathsep.join([str(bench_cls), str(engine_cls), str(jars / "*")]),
             "graftbench.SelfTest"]).returncode
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    try:
        for w in names:
            deadline = (time.monotonic() + RUN_LIMIT_S if a.workload == "all"
                        else started + RUN_LIMIT_S)
            result, report = run_one(jars, engine_cls, bench_cls, w, a.seed, a.seconds,
                                     a.trace, deadline)
            print_report(report, sys.stdout if a.workload == "all" else sys.stderr)
            results[w] = result
    except RuntimeError as e:
        print(f"[graftbench] {e}", file=sys.stderr)
        return 1
    if a.workload == "all":
        result = {"correct": all(r["correct"] for r in results.values()),
                  "attempted": sum(r["attempted"] for r in results.values()),
                  "failed": sum(r["failed"] for r in results.values()),
                  "metrics": {f"{w}.{k}": v for w, r in results.items()
                              for k, v in r["metrics"].items()}}
    else:
        result = results[a.workload]
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
