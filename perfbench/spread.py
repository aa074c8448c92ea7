#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload board --seeds 1-10

Runs `run.py` once per seed, for BENCHMARK.json's run_seconds, then prints for each metric the median and
the distance between the first and third quartile as a share of the
median, next to a third of the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, walls = {}, []
    for s in seeds(a.seeds):
        t = time.time()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                              "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                             cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t)
        if out.returncode != 0:
            print(f"seed {s}: exit {out.returncode}\n{out.stderr[-2000:]}")
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {s}: {walls[-1]:.0f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"run wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        limit = bounds.get(k, float("nan")) / 3
        print(f"{k:20s} median {med:10.4f}  iqr/median {spread:.3f}  (a third of bound: {limit:.3f})")


if __name__ == "__main__":
    main()
