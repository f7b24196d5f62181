"""Steadiness report: run the benchmark over several seeds per workload
and give, per metric, the median, the quartiles, the sample count and
the spread (quartile distance over median) against the metric's bound.

    python3 perfbench/report.py --runs 10 --out perfbench/baseline_4c.json

Runs go one after another from the repository root, exactly as
``BENCHMARK.json`` states the command.  ``--traced`` adds one traced
run per workload to the record.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(spec: dict, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {"seed": seed, "trace": trace, "exit": proc.returncode,
            "wall_s": wall, "result": result}


def summarize(runs: list, bounds: dict) -> dict:
    out = {}
    for name, bound in bounds.items():
        values = [r["result"]["metrics"][name]["value"] for r in runs if r["result"]]
        if len(values) < 2:
            continue
        q1, med, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / abs(med) if med else 0.0
        out[name] = {
            "median": med, "q1": q1, "q3": q3, "n": len(values),
            "spread": spread, "bound": bound,
            # the setup spread is not gated, only its median
            "flag": name != "setup_s" and spread > bound,
            "within_third_of_bound": spread <= bound / 3,
        }
    return out


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--runs", type=int, default=10)
    parser.add_argument("--first-seed", type=int, default=1)
    parser.add_argument("--workloads", nargs="*", default=None)
    parser.add_argument("--traced", action="store_true")
    parser.add_argument("--out", default=None)
    args = parser.parse_args(argv)

    with open(os.path.join(HERE, "..", "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    record = {"cores": len(os.sched_getaffinity(0)), "run_seconds": seconds,
              "command": spec["command"], "workloads": {}}
    if args.out and os.path.exists(args.out):
        # add to an existing record, one workload entry at a time
        with open(args.out, encoding="utf-8") as fh:
            record["workloads"] = json.load(fh)["workloads"]
    failed = False
    for name in names:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            runs.append(run_once(spec, name, seed, seconds, 0))
            r = runs[-1]
            print(f"{name} seed={seed} exit={r['exit']} wall={r['wall_s']:.1f}s "
                  + json.dumps({k: round(v["value"], 4) for k, v in
                                (r["result"] or {}).get("metrics", {}).items()}),
                  file=sys.stderr)
        entry = {"runs": runs, "summary": summarize(runs, bounds)}
        if args.traced:
            entry["traced"] = run_once(spec, name, args.first_seed, seconds, 1)
        record["workloads"][name] = entry
        failed |= any(r["exit"] != 0 for r in runs)
        failed |= any(m["flag"] for m in entry["summary"].values())
        for metric, m in entry["summary"].items():
            print(f"{name:26s} {metric:14s} median={m['median']:.4g} "
                  f"q1={m['q1']:.4g} q3={m['q3']:.4g} n={m['n']} "
                  f"spread={m['spread']:.4f} bound={m['bound']}"
                  + (" FLAG" if m["flag"] else ""))
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump(record, fh, indent=1)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
