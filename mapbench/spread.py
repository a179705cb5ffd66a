#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread (IQR / median) against its bound.

    python3 mapbench/spread.py --workload auto_daily --seeds 1-10 [--trace 0]

Run from the root of a checkout; reads BENCHMARK.json for the command,
run length and metric bounds. Raw results go to stdout as JSON lines too.
"""
import argparse
import json
import statistics
import subprocess
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values = {}
    for seed in seeds(a.seeds):
        t0 = time.monotonic()
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", a.trace]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.monotonic() - t0
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}, no result ({wall:.0f} s)", flush=True)
            continue
        res = json.loads(last)
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), **res}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"{'metric':40s} {'n':>3s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = f"{(q[2] - q[0]) / abs(med):8.4f}"
        else:
            spread = f"{'-':>8s}"
        b = bounds.get(k)
        print(f"{k:40s} {len(vs):3d} {med:12.6g} {spread} {b if b is not None else '-':>6}")


if __name__ == "__main__":
    main()
