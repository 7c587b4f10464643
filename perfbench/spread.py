#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [--workload NAME ...]

Runs each workload once per seed (first-seed, first-seed+1, ...) through
perfbench/run.py, then prints for every end-to-end metric its median, its
quartiles and the spread: the distance between the first and the third
quartile as a share of the median, next to the metric's bound from
BENCHMARK.json. The last line is the whole summary as JSON.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append")
    args = p.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for w in workloads:
        values, walls, failed = {}, [], 0
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.monotonic()
            r = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(time.monotonic() - t0)
            if r.returncode != 0:
                failed += 1
                print(f"{w} seed {seed}: exit code {r.returncode}", flush=True)
                continue
            result = json.loads(r.stdout.strip().splitlines()[-1])
            failed += result["failed"]
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed}: " + ", ".join(
                f"{n} {m['value']:.4g}" for n, m in result["metrics"].items())
                + f" ({walls[-1]:.0f} s)", flush=True)
        summary[w] = {"failed": failed, "wall_s": statistics.median(walls), "metrics": {}}
        for name, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
            spread = (q3 - q1) / med
            summary[w]["metrics"][name] = {"median": med, "q1": q1, "q3": q3,
                                           "spread": spread, "bound": bounds.get(name),
                                           "values": vs}
            print(f"  {w} {name}: median {med:.5g}, quartiles {q1:.5g}..{q3:.5g}, "
                  f"spread {spread:.3f} (bound {bounds.get(name)})", flush=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
