#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload validate|board --seed N \
        --seconds S --trace 0|1

Builds the program from source when needed, generates the workload's
inputs from the seed, runs the timed section in one JVM (local[4], one
closed-loop client), checks every op's output, and prints the metrics.
The last line of standard output is one JSON object: `--trace 0` carries
the end-to-end metrics, `--trace 1` the per-layer metrics of a traced
section run after an untraced one. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("validate", "board")
BOARD_SF = 0.01
VALIDATE_ROWS = 200_000
CURATE_FAMILIES = 200
VALIDATE_OP = "validate"
CURATE_OP = "curate"
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 165

SPAN_MS = {
    "config.parse_ms": "config.parse", "sources.open_ms": "sources.open",
    "exec.config_check_ms": "exec.config_check", "exec.run_ms": "exec.run",
    "report.render_ms": "report.render", "report.emit_ms": "report.emit",
    "queries.build_ms": "queries.build", "queries.action_ms": "queries.action",
    "functions.near_dup_pairs_ms": "functions.near_dup_pairs",
    "functions.cluster_drop_ms": "functions.cluster_drop",
    "functions.decontam_ms": "functions.decontam",
    "functions.action_ms": "functions.action",
}
PASS_MS = {"exec.first_pass_ms": "firstPass", "exec.quick_pass_ms": "quickPass",
           "exec.detail_pass_ms": "errorDetails", "exec.unique_ms": "unique"}
FAMILIES = ("chk", "q", "pipeline", "text", "sim", "eval", "dedup", "mm", "graph")
SPARK_SUMS = {
    "spark.jobs": ("jobs", "count"), "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"), "spark.executor_run_ms": ("run_ms", "ms"),
    "spark.executor_cpu_ms": ("cpu_ms", "ms"), "spark.gc_ms": ("gc_ms", "ms"),
    "spark.shuffle_read_bytes": ("shuffle_read", "bytes"),
    "spark.shuffle_write_bytes": ("shuffle_write", "bytes"),
    "spark.spill_bytes": ("spill", "bytes"), "spark.input_rows": ("in_rows", "count"),
    "spark.input_bytes": ("in_bytes", "bytes"), "spark.output_bytes": ("out_bytes", "bytes"),
}


def board_sample():
    """The every-8th registry sample frozen in board_sample.txt."""
    with open(os.path.join(HERE, "board_sample.txt")) as f:
        return [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]


# The board workload's registry queries: from each family of the frozen
# sample, the query with the lowest cold latency in one full sample run
# (sf0.01 tables, seed 1, local[4]), so that a cold priming pass and two
# warm passes fit a run of about a minute. The sample's only graph query,
# graph_ppr, took a third of a warm pass; graph uses the registry's first
# graph query instead.
BOARD_PASS = ("chk_detail", "q_wilson", "pipeline_sample", "text_scripts", "sim_knn",
              "eval_wer", "dedup_exact", "mm_frames", "graph_assortativity")


def board_pass():
    """The board workload's ops: one registry query per family and the
    curation pipeline."""
    return list(BOARD_PASS) + [CURATE_OP]


def workload_ops(workload):
    """Harness arguments naming the workload's ops: one pass, and the other
    workload's ops, which a traced run runs once so that every layer is
    measured."""
    passes = {"validate": [VALIDATE_OP], "board": board_pass()}
    foreign = [n for w, p in passes.items() if w != workload for n in p]
    return ["--pass", ",".join(passes[workload]), "--foreign", ",".join(foreign)]


def make_inputs(seed, data):
    """Writes the inputs of every op; returns the expected answers."""
    gen.gen_board(data, seed, BOARD_SF)
    kept = gen.gen_curate(data, seed, CURATE_FAMILIES)
    expected, planted = gen.gen_validate(data, seed, VALIDATE_ROWS)
    out = os.path.join(os.path.dirname(data), "out")
    with open(os.path.join(data, "validate.yaml"), "w") as f:
        f.write(gen.validate_config(data, out, num_errors=planted + 50))
    return {VALIDATE_OP: expected, CURATE_OP: kept}


def run_jvm(classes, args, run_dir, budget_s):
    log = os.path.join(run_dir, "jvm.log")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-Xss8m", f"-Djava.io.tmpdir={tmp}"] + build.JVM_OPTS +
           ["-cp", build.classpath([classes]), "perfbench.Harness"] + args)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness exceeded {budget_s:.0f}s; see {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise SystemExit(f"perfbench: harness exited {rc}\n{tail}")


def op_in_rows(res, o):
    """Input rows read by every job of one op."""
    groups = res["groups"]
    if o["section"] == "plain":
        return groups.get(f"op-{o['id']}", {}).get("in_rows", 0)
    return sum(groups.get(f"span-{s['id']}", {}).get("in_rows", 0)
               for s in res["spans"] if s["op"] == o["id"])


def check_ops(res, expected, data, out):
    """op id -> problem, for every op whose output is wrong. A validate op
    is also wrong when its input rows differ from the cost model."""
    bad = {o["id"]: o["error"] for o in res["ops"] if o["error"]}
    good = [o for o in res["ops"] if not o["error"]]
    reports = oracle.load_reports(os.path.join(out, "validate_reports.jsonl"))
    fin = res["finish"]
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sql = json.load(f)
    wrong = dict(fin["write_errors"])
    wrong.update(oracle.check_board(data, os.path.join(out, "board"), fin["written"], sql))
    for o in good:
        if o["name"] == VALIDATE_OP:
            rep = reports.get(o["id"])
            problems = (["no report"] if rep is None else
                        oracle.check_validate(rep, expected[VALIDATE_OP]) +
                        oracle.check_scans(rep, fin["scan_model"], op_in_rows(res, o)))
        elif o["name"] == CURATE_OP:
            problems = oracle.check_curate(os.path.join(out, "curate", f"op-{o['id']}"),
                                           expected[CURATE_OP])
        else:
            problems = [wrong[o["name"]]] if o["name"] in wrong else []
        if problems:
            bad[o["id"]] = f"{o['name']}: " + "; ".join(problems[:5])
    return bad


def lat_s(o):
    return (o["end_ns"] - o["start_ns"]) / 1e9


def pass_wall_s(ops, res):
    """Median wall seconds of a pass, over the whole passes that `ops` holds."""
    k = res["ops_per_pass"]
    return stats.median([sum(map(lat_s, ops[i:i + k])) for i in range(0, len(ops), k)])


def end_to_end(res, t0):
    """(metrics, notes): the end-to-end metrics of the untraced section, and
    informational lines (per-op median and tail) that are not metrics
    because they are not steady from seed to seed on the board."""
    ops = [o for o in res["ops"] if o["section"] == "plain"]
    lats = [lat_s(o) for o in ops]
    k = res["ops_per_pass"]
    passes = [ops[i:i + k] for i in range(0, len(ops), k)]
    groups = res["groups"]

    def cpu_s(p):
        return sum(groups.get(f"op-{o['id']}", {}).get("cpu_ms", 0.0) for o in p) / 1000.0
    rounds = res["setup_rounds_s"]
    metrics = {
        "setup_s": ((res["entry_ms"] / 1000.0 - t0) + stats.median(rounds) + res["prime_s"], "s"),
        "wall_s": (pass_wall_s(ops, res), "s"),
        "cpu_s": (stats.median([cpu_s(p) for p in passes]), "s"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }
    tail_p = stats.tail_percentile(len(lats))
    notes = [f"setup rounds {', '.join(f'{r:.2f}' for r in rounds)} s (the first, in a cold JVM, "
             f"is left out by the median), priming {res['prime_s']:.2f} s",
             f"{len(ops)} ops in {len(passes)} passes; op p50 {stats.median(lats):.4f} s",
             f"op p{tail_p:g} {stats.percentile(lats, tail_p):.4f} s" if tail_p else
             f"op tail omitted: fewer than 20 ops"]
    return metrics, notes


def per_layer(res):
    """(metrics, notes) from the traced ops. A layer's metric is its mean
    per op over the ops that ran the layer, the other workload's ops
    included; the engine counters and the tracing overhead cover the
    workload's own ops."""
    ops = [o for o in res["ops"] if o["section"] == "traced"]
    layered = ops + [o for o in res["ops"] if o["section"] == "foreign"]
    plain = [o for o in res["ops"] if o["section"] == "plain"]
    n = max(1, len(ops))
    spans = res["spans"]
    selfs = stats.self_times(spans)
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    groups = res["groups"]

    def acc(span_ids, key):
        return sum(groups.get(f"span-{i}", {}).get(key, 0) for i in span_ids)

    def descendants(root, op_spans):
        ids, frontier = {root["id"]}, [root["id"]]
        while frontier:
            kids = [s["id"] for s in op_spans if s["parent"] in frontier]
            ids.update(kids)
            frontier = kids
        return ids

    def per_op(total, op_ids):
        return total / len(op_ids) if op_ids else 0.0

    m = {}
    for metric, name in SPAN_MS.items():
        named = [s for s in spans if s["name"] == name]
        m[metric] = (per_op(sum(selfs[s["id"]] for s in named) / 1e6, {s["op"] for s in named}), "ms")
    validated = [o for o in layered if "passes_ms" in o["extra"]]
    for metric, key in PASS_MS.items():
        m[metric] = (per_op(sum(o["extra"]["passes_ms"].get(key, 0.0) for o in validated), validated), "ms")

    scans = []
    for o in validated:
        runs = [s for s in by_op.get(o["id"], []) if s["name"] == "exec.run"]
        rows = o["extra"].get("scan_table_rows")
        if runs and rows:
            scans.append(acc(descendants(runs[0], by_op[o["id"]]), "in_rows") / rows)
    m["exec.scans_per_table"] = (stats.median(scans), "count")

    for part in ("build", "action"):
        named = [s for s in spans if s["name"] == f"queries.{part}"]
        m[f"queries.{part}_jobs"] = (per_op(acc([s["id"] for s in named], "jobs"),
                                            {s["op"] for s in named}), "count")
    b, a = m["queries.build_ms"][0], m["queries.action_ms"][0]
    m["queries.build_share"] = (b / (a + b) if a + b else 0.0, "ratio")
    for fam in FAMILIES:
        fo = [lat_s(o) * 1000 for o in layered if o["name"].startswith(fam + "_")]
        m[f"board.{fam}_ms"] = (per_op(sum(fo), fo), "ms")
    leaks = {k for o in layered for k in o["extra"].get("conf_changed", [])}
    m["board.conf_leaks"] = (len(leaks), "count")

    # engine counters: per op, the sum over its spans, then the mean per op
    tot = {k: 0.0 for k in ("task_ms", "run_ms", "cpu_ms", "jobs", "tasks", "busy", "wall", "peak")}
    sums = {metric: 0.0 for metric in SPARK_SUMS}
    for o in ops:
        ids = [s["id"] for s in by_op.get(o["id"], [])]
        for metric, (key, _) in SPARK_SUMS.items():
            sums[metric] += acc(ids, key)
        for key in ("task_ms", "run_ms", "cpu_ms", "jobs", "tasks"):
            tot[key] += acc(ids, key)
        intervals = [tuple(iv) for i in ids for iv in groups.get(f"span-{i}", {}).get("job_intervals", [])]
        tot["busy"] += stats.union_length(intervals)
        tot["wall"] += lat_s(o) * 1000
        tot["peak"] += max([groups.get(f"span-{i}", {}).get("peak_mem", 0) for i in ids] or [0])
    for metric, (_, unit) in SPARK_SUMS.items():
        m[metric] = (sums[metric] / n, unit)
    m["spark.tasks_per_job"] = (tot["tasks"] / tot["jobs"] if tot["jobs"] else 0.0, "ratio")
    m["spark.task_overhead_ms"] = ((tot["task_ms"] - tot["run_ms"]) / n, "ms")
    m["spark.job_busy_ms"] = (tot["busy"] / n, "ms")
    m["spark.driver_only_ms"] = ((tot["wall"] - tot["busy"]) / n, "ms")
    m["spark.cpu_util"] = (tot["cpu_ms"] / (tot["wall"] * res["cores"]) if tot["wall"] else 0.0, "ratio")
    m["spark.peak_exec_mem_bytes"] = (tot["peak"] / n, "bytes")
    m["spark.storage_bytes_after"] = (sum(o["storage_after"] for o in ops) / n, "bytes")
    m["spark.unattributed_jobs"] = (groups.get("<none>", {}).get("jobs", 0), "count")
    m["trace.overhead_pct"] = ((pass_wall_s(ops, res) / pass_wall_s(plain, res) - 1.0) * 100.0, "%")
    own = {o["id"] for o in ops}
    m["trace.spans_per_op"] = (sum(s["op"] in own for s in spans) / n, "count")
    notes = [f"{len(ops)} traced ops in passes interleaved with {len(plain)} untraced ops, then "
             f"{len(layered) - len(ops)} ops of the other workload, once each; "
             "spans in the trace file"]
    return m, notes


def main():
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    os.makedirs(build.WORK, exist_ok=True)
    classes = build.build()
    t0 = time.time()
    run_dir = os.path.join(build.WORK, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(data)
    os.makedirs(out)
    expected = make_inputs(a.seed, data)
    run_jvm(classes, ["--data", data, "--out", out, "--seconds", str(a.seconds),
                      "--trace", str(a.trace)] + workload_ops(a.workload),
            run_dir, JVM_TIMEOUT_S - (time.time() - t0))
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    bad = check_ops(res, expected, data, out)
    metrics, notes = per_layer(res) if a.trace else end_to_end(res, t0)

    traces = os.path.join(build.WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    res["self_ns"] = stats.self_times(res["spans"])
    res["failures"] = bad
    with open(os.path.join(traces, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f)
    shutil.rmtree(run_dir, ignore_errors=True)

    for op_id, why in sorted(bad.items())[:20]:
        print(f"FAILED op {op_id}: {why}")
    for k, (v, unit) in metrics.items():
        print(f"{a.workload:9s} {k:30s} {v:16.4f} {unit}")
    for note in notes:
        print(f"{a.workload:9s} # {note}")
    print(json.dumps({
        "correct": not bad,
        "attempted": len(res["ops"]),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
