#!/usr/bin/env python3
"""Runs the benchmark over several seeds and writes a baseline record.

Usage (from the root of a checkout):
    python3 perfbench/record.py --seeds 1-10 --out perfbench/records/NAME.json \
        [--workloads graph_sf01,llm_sf1] [--trace-seed 1]

For each workload it makes one untraced run per seed and reports, per
end-to-end metric, the median and the spread (interquartile range over
the median, as `statistics.quantiles(values, n=4)` gives the quartiles).
With --trace-seed it adds one traced run per workload and keeps its
per-layer metrics.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1], time.time() - t0


def seed_list(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace-seed", type=int)
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"cpus": os.cpu_count(), "machine": platform.machine(),
              "run_seconds": bench["run_seconds"], "seeds": a.seeds,
              "workloads": {}}
    for w in a.workloads.split(","):
        values, walls, attempted = {}, [], 0
        for seed in seed_list(a.seeds):
            res, _, wall = run_once(w, seed, bench["run_seconds"], 0)
            if not res["correct"]:
                raise SystemExit(f"{w} seed {seed}: output check failed")
            attempted += res["attempted"]
            walls.append(wall)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(w, seed, f"{wall:.1f}s",
                  {k: round(v["value"], 4) for k, v in res["metrics"].items()},
                  flush=True)
        summary = {}
        for k, xs in values.items():
            q = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            summary[k] = {"median": med, "spread": (q[2] - q[0]) / med,
                          "bound": bounds.get(k), "values": xs}
            flag = "" if summary[k]["spread"] < bounds[k] / 3 else "  (above bound/3)"
            print(f"  {k}: median {med:.4f} spread {summary[k]['spread']:.4f}{flag}")
        entry = {"end_to_end": summary, "ops_attempted": attempted,
                 "run_wall_s_median": statistics.median(walls)}
        if a.trace_seed is not None:
            res, lines, wall = run_once(w, a.trace_seed, bench["run_seconds"], 1)
            entry["per_layer"] = {k: v["value"] for k, v in res["metrics"].items()}
            entry["traced_run_wall_s"] = wall
            entry["traced_run_lines"] = lines
        record["workloads"][w] = entry
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
