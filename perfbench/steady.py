#!/usr/bin/env python3
"""Steadiness check: do repeated runs of the same commit agree?

    python3 perfbench/steady.py --seeds 10
    python3 perfbench/steady.py --workloads curate --seeds 5

Runs ``run.py`` (untraced) once per seed 1..``--seeds`` per workload,
in two sets over the same seeds, with ``run_seconds`` from
BENCHMARK.json. Per workload and end-to-end metric it prints each set's
median, its quartile spread (Q3 - Q1 over the median,
``statistics.quantiles`` with n=4) and how far the second median moved
against the first in the metric's worse direction. A metric is steady
when every spread other than ``setup_s``'s stays within a third of its
bound and the second median is not worse than the first by more than
the bound. Every run's result line goes to ``--out`` (JSON lines).
Exits non-zero when a run fails or a metric is not steady.

Before running, checks that BENCHMARK.json lists exactly the metrics
of ``perfbench/metrics.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import statistics
import sys
import time

SETS = 2
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import benchmark_lists  # noqa: E402
from perfbench.stats import spread  # noqa: E402


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = benchmark_lists()
    for key in ("end_to_end", "per_layer"):
        if bench[key] != want[key]:
            sys.exit(f"BENCHMARK.json {key} differs from perfbench/metrics.py")
    return bench


def one_run(bench: dict, workload: str, seed: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    final = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "rc": proc.returncode,
            "run_s": time.monotonic() - t0, "final": final}


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of it."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> int:
    p = argparse.ArgumentParser(description="repeat-run agreement of the benchmark")
    p.add_argument("--workloads", default=None, help="comma list (default: all)")
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "steady.jsonl"))
    args = p.parse_args()

    bench = load_benchmark()
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    seeds = range(1, args.seeds + 1)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    runs = []
    with open(args.out, "a") as out:
        for s in range(SETS):
            for wl in workloads:
                for seed in seeds:
                    r = one_run(bench, wl, seed) | {"set": s}
                    runs.append(r)
                    out.write(json.dumps(r) + "\n")
                    out.flush()
                    fin = r["final"]
                    status = "ok" if fin and fin["correct"] else f"FAILED rc={r['rc']}"
                    print(f"set {s} {wl} seed {seed}: {status} ({r['run_s']:.1f} s)", flush=True)

    bad = [r for r in runs if not (r["final"] and r["final"]["correct"])]
    steady = not bad
    print(f"\nruns: {len(runs)}, failed: {len(bad)}, "
          f"longest: {max(r['run_s'] for r in runs):.1f} s")
    for wl in workloads:
        print(f"\n{wl}")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cells, meds = [], []
            for s in range(SETS):
                vals = [r["final"]["metrics"][name]["value"] for r in runs
                        if r["workload"] == wl and r["set"] == s and r["final"]]
                if len(vals) < 2:
                    continue
                med, spr = statistics.median(vals), spread(vals)
                meds.append(med)
                ok = name == "setup_s" or spr <= bound / 3
                steady &= ok
                cells.append(f"median {med:.4g} spread {spr:.3f}{'' if ok else ' (!)'}")
            line = f"  {name:15s} bound {bound:<5} " + " | ".join(cells)
            if len(meds) == SETS:
                w = worse_by(meds[0], meds[1], m["better"])
                steady &= w <= bound
                line += f" | second worse by {w:+.3f}{'' if w <= bound else ' (!)'}"
            print(line)
    print("\nsteady" if steady else "\nNOT steady")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
