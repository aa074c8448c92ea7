#!/usr/bin/env python3
"""Count-vs-noop table for the frozen board sample (board_sample.txt).

    python3 perfbench/count_vs_noop.py

Generates the board tables from seed 1, then for every sampled query
times `count()` against a `noop`-sink write (median of three, after one
untimed write) and counts the nodes of both optimized plans. Prints a
markdown table.
"""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SEED = 1


def main():
    os.makedirs(build.WORK, exist_ok=True)
    classes = build.build()
    work = os.path.join(build.WORK, "count-vs-noop")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen.gen_board(data, SEED, run.BOARD_SF)
    names = os.path.join(work, "names.txt")
    with open(names, "w") as f:
        f.write("\n".join(run.board_sample()) + "\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = subprocess.run(["java", f"-Xmx{run.JVM_HEAP}", "-Xss8m", f"-Djava.io.tmpdir={tmp}"] +
                         build.JVM_OPTS + ["-cp", build.classpath([classes]), "perfbench.CountVsNoop",
                                            data, work, names],
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(out.stderr[-3000:])
    rows = [ln.split("\t") for ln in out.stdout.strip().splitlines()[1:]]
    print("| query | count() s | noop s | noop/count | count plan nodes | full plan nodes |")
    print("|---|---:|---:|---:|---:|---:|")
    for q, c, n, cp, fp in rows:
        print(f"| {q} | {c} | {n} | {float(n) / max(float(c), 1e-3):.2f} | {cp} | {fp} |")
    tc, tn = sum(float(r[1]) for r in rows), sum(float(r[2]) for r in rows)
    shrunk = sum(int(r[3]) * 2 < int(r[4]) for r in rows)
    print(f"\n{len(rows)} queries: count() {tc:.1f} s, noop {tn:.1f} s; "
          f"the count() plan is under half the full plan for {shrunk}.")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
