#!/usr/bin/env python3
"""Run one workload on several seeds and check the results agree.

Run from the repository root:

    python3 perfbench/seeds.py --workload kv_point --seeds 1 2 3 4 5

For each seed it runs `perfbench/run.py` (untraced, `run_seconds` from
BENCHMARK.json) and then reports, per end-to-end metric, the median, the
quartile spread as a share of the median (statistics.quantiles, n=4) and
that spread against the metric's bound. It also checks that every seed
performed the same operation counts per type. Two seeds are enough for the
held-out-seed check: the second seed's counts must equal the first's and
its end-to-end numbers must lie within the bounds of the first's.
Exit status 1 when a run fails, the counts differ or a spread (other than
setup_s) exceeds its bound.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results_dir = os.path.join(".bench_work", "results")
    values, counts, ok = {}, {}, True
    for seed in args.seeds:
        before = set(glob.glob(os.path.join(results_dir, f"{args.workload}-trace0-seed{seed}-*.json")))
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        out = json.loads(last) if last.startswith("{") else {}
        if r.returncode != 0 or not out.get("correct"):
            print(f"seed {seed}: run failed (exit {r.returncode})")
            ok = False
            continue
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        new = set(glob.glob(os.path.join(results_dir, f"{args.workload}-trace0-seed{seed}-*.json"))) - before
        if new:
            with open(sorted(new)[-1]) as f:
                counts[seed] = json.load(f)["op_counts"]
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.3f}" for k, v in out["metrics"].items()),
              flush=True)
    if len(set(json.dumps(c, sort_keys=True) for c in counts.values())) > 1:
        print("operation counts differ between seeds: " + json.dumps(counts, sort_keys=True))
        ok = False
    elif counts:
        print("operation counts per type, the same on every seed: " +
              json.dumps(next(iter(counts.values())), sort_keys=True))
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q = statistics.quantiles(vs, n=4) if len(vs) >= 4 else [min(vs), med, max(vs)]
            spread = (q[2] - q[0]) / med if med else float("inf")
            flag = "" if spread <= bounds.get(k, 0) or k == "setup_s" else "  OVER BOUND"
            if flag:
                ok = False
            print(f"{k:<20} n={len(vs)} median={med:.3f} spread={spread:.3f} "
                  f"bound={bounds.get(k)}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
