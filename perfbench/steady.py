"""Run-to-run spread of the benchmark's end-to-end metrics.

Runs ``run.py`` once per seed for each workload (one run at a time),
then reports for every end-to-end metric the median and the distance
between the first and third quartile of its values as a share of the
median (the spread), next to the bound ``BENCHMARK.json`` sets for it.
Each run's record also keeps the JVM's GC seconds and the machine's CPU
steal share over the measured ops, from the run's phases line.
``--out`` appends the set of runs, with their medians and spreads, to a
JSON list of such sets.

Usage (from the root of a checkout)::

    python3 perfbench/steady.py --seeds 1-10 [--workloads adhoc_mix] [--out perfbench/STEADINESS.json]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> "list[int]":
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: "list[float]") -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"seconds": bench["run_seconds"],
              "started": time.strftime("%Y-%m-%dT%H:%MZ", time.gmtime()), "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for seed in _seeds(args.seeds):
            t0 = time.perf_counter()
            p = subprocess.run(
                bench["command"] + ["--workload", wl, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True)
            out = json.loads(p.stdout.strip().splitlines()[-1])
            wall = time.perf_counter() - t0
            phases = {k: float(v) for k, v in re.findall(r"(jvm_gc_s|cpu_steal)=([0-9.]+)", p.stdout)}
            runs.append({"seed": seed, "wall_s": wall, "correct": out["correct"],
                         "failed": out["failed"], "attempted": out["attempted"],
                         **{k: v["value"] for k, v in out["metrics"].items()}, **phases})
            print(f"{wl} seed={seed} wall={wall:.1f}s correct={out['correct']} {phases} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()), flush=True)
        summary = {}
        for k in bounds:
            vals = [r[k] for r in runs]
            summary[k] = {"median": statistics.median(vals), "spread": spread(vals)}
            print(f"{wl} {k}: median={summary[k]['median']:.4g} "
                  f"spread={summary[k]['spread']:.4f} bound={bounds[k]}", flush=True)
        report["workloads"][wl] = {"runs": runs, "summary": summary}
    if args.out:
        sets = []
        if os.path.exists(args.out):
            with open(args.out) as f:
                sets = json.load(f)
        with open(args.out, "w") as f:
            json.dump(sets + [report], f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
