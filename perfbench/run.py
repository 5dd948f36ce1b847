#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One run of one workload: generate (or reuse) the seeded inputs, start a
fresh local Spark session, set up, measure for ``--seconds``, check every
output, stop Spark and wait for its processes. Stdout ends with a detail
line (every timing with median, tail percentile and sample count;
attempted/failed per phase; check results) and then the result line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with spans, job groups and the Spark event log on and
reports the per-layer metrics instead, writing the spans to
``.perfbench/trace/``. ``--workload all`` runs every workload untraced
and traced in child processes and prints every metric plus the tracing
overhead (traced minus untraced).

Run from the repository root; the program under test is the
``memvid_spark`` package next to this directory. Everything the run
writes stays under ``.perfbench/`` there.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("serve_mixed", "curate")


class Run:
    """Settings and helpers shared by the workloads of one run."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = len(os.sched_getaffinity(0))
        self.dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.event_log = os.path.join(self.dir, "eventlog")
        self.phases = {p: {"attempted": 0, "failed": 0} for p in ("setup", "timed", "check")}
        self.checks: dict[str, object] = {}

    def count(self, phase: str, ok: bool) -> None:
        self.phases[phase]["attempted"] += 1
        if not ok:
            self.phases[phase]["failed"] += 1

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.count("check", ok)
        self.checks[name] = {"ok": bool(ok), **({"detail": detail} if detail is not None else {})}

    def pin_environment(self) -> None:
        """Launch settings for the Spark JVM and its Python workers, set
        before the JVM starts: core count, shuffle width, local dirs,
        import path of the program, and (traced runs) the event log."""
        tmp = os.path.join(self.dir, "tmp")
        for d in (tmp, os.path.join(self.dir, "spark-local"), self.event_log):
            os.makedirs(d, exist_ok=True)
        # no hsperfdata files in /tmp, JVM temp files under the run dir
        jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
        }
        if self.trace:
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log,
                "spark.eventLog.compress": "false",
            })
        args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(self.cpus),
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "spark-local"),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_LAUNCHER_OPTS": jvm_opts,
            "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
        })

    def start_spark(self):
        from memvid_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stop_spark(self, spark) -> None:
        """Stop the SparkContext, then the JVM, and wait until every
        process this run started has ended."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        from perfbench.trace import descendants

        deadline = time.monotonic() + 30
        while descendants() and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in descendants():  # stragglers past the grace period
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while descendants() and time.monotonic() < deadline:
            time.sleep(0.1)

    def trace_file(self) -> str:
        """Where a traced run writes its spans (kept after the run)."""
        d = os.path.join(WORK, "trace")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{self.workload}-s{self.seed}.jsonl")

    def result(self, e2e: dict, layers: dict, timings: dict, extra: dict) -> dict:
        attempted = sum(p["attempted"] for p in self.phases.values())
        failed = sum(p["failed"] for p in self.phases.values())
        detail = {
            "workload": self.workload, "seed": self.seed, "seconds": self.seconds,
            "trace": int(self.trace), "cpus": self.cpus, "phases": self.phases,
            "timings": timings, "checks": self.checks, **extra,
        }
        metrics = layers if self.trace else e2e
        return {
            "detail": detail,
            "final": {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            },
        }


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "memvid_spark", "__init__.py")):
        print(f"perfbench: no memvid_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import curate, gen, serve

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    inputs = gen.inputs(args.workload, args.seed, os.path.join(WORK, "inputs"))
    run.pin_environment()
    try:
        module = {"serve_mixed": serve, "curate": curate}[args.workload]
        out = module.run(run, inputs)
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    print(json.dumps(out["detail"], sort_keys=True))
    print(json.dumps(out["final"]), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, in child processes; the
    last line merges their results with workload-prefixed names and the
    tracing overhead of each end-to-end metric."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        finals = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"perfbench: {wl} trace={trace} exited {proc.returncode}", file=sys.stderr)
                return 1
            print("\n".join(lines), flush=True)
            finals[trace] = json.loads(lines[-1])
        for trace, fin in finals.items():
            merged["correct"] &= fin["correct"]
            merged["attempted"] += fin["attempted"]
            merged["failed"] += fin["failed"]
            for name, m in fin["metrics"].items():
                merged["metrics"][f"{wl}.{name}"] = m
        for name, m in finals[0]["metrics"].items():
            traced = finals[1]["metrics"].get(f"traced.{name}")
            if traced is not None:
                merged["metrics"][f"{wl}.trace_overhead.{name}"] = {
                    "value": traced["value"] - m["value"], "unit": m["unit"]}
    print(json.dumps(merged))
    return 0 if merged["failed"] == 0 else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
