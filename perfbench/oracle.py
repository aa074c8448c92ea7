"""Output checks: each workload's written outputs against the answer its
generator implies (validate, curate) or against the DuckDB oracle SQL of
the query registry (board)."""
import glob
import json
import os

import pyarrow.parquet as pq

BOARD_TABLES = ("region nation customer supplier part orders lineitem events "
                "documents embeddings").split()


def check_validate(report, expected):
    """Problems found in one `graft.Main` JSON report; [] when it matches."""
    problems = []
    tables = {t["table"]: t for t in report["tables"]}
    for t in report["tables"]:
        name = os.path.basename(t["table"].split(":", 1)[-1].rstrip("/")).split(".")[0]
        want = expected.get(name)
        if want is None:
            if t["failed"]:
                problems.append(f"{t['table']}: failed, all its checks should pass")
            continue
        for k in ("rowCount", "numErrorDetails", "failed"):
            if t[k] != want[k]:
                problems.append(f"{name}.{k}: {t[k]} != {want[k]}")
        got = {c["label"]: c for c in t["checks"]}
        if set(got) != set(want["checks"]):
            problems.append(f"{name}: labels {sorted(got)} != {sorted(want['checks'])}")
            continue
        for label, (failed, count) in want["checks"].items():
            c = got[label]
            if c["failed"] != failed:
                problems.append(f"{name}.{label}: failed={c['failed']}, expected {failed}")
            m = c["metrics"]
            actual = m.get("errorCount", m.get("duplicatedKeys"))
            if count is not None and actual != count:
                problems.append(f"{name}.{label}: count {actual} != planted {count}")
    if len(tables) != len(report["tables"]):
        problems.append("duplicate table names in report")
    return problems


def check_scans(report, model, in_rows):
    """Problems when one `graft.Main` op read another number of input rows
    than the reference cost model gives: each table scanned once, once
    more if it has colstats, once more for the detail pass when detailed
    errors are on and a row check failed, and once per uniqueCheck.
    `model` is the harness's per-table digest of the config."""
    if len(report["tables"]) != len(model["tables"]):
        return [f"{len(report['tables'])} tables in the report, {len(model['tables'])} in the config"]
    want = 0
    for t, m in zip(report["tables"], model["tables"]):
        detail = model["detailed"] and any(c["failed"] and c["label"] in m["row_checks"]
                                           for c in t["checks"])
        want += t["rowCount"] * (1 + m["colstats"] + detail + m["uniques"])
    return [] if in_rows == want else [f"read {in_rows} input rows, the cost model gives {want}"]


def check_curate(out_dir, expected):
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return ["no output written"]
    got = {}
    for f in files:
        t = pq.read_table(f, columns=["doc_id", "text"])
        got.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    problems = []
    missing, extra = set(expected) - set(got), set(got) - set(expected)
    if missing:
        problems.append(f"{len(missing)} expected docs missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected docs kept, e.g. {sorted(extra)[:3]}")
    wrong = [k for k in set(got) & set(expected) if got[k] != expected[k]]
    if wrong:
        problems.append(f"{len(wrong)} docs with changed text, e.g. {sorted(wrong)[:3]}")
    return problems


def _same(a, b):
    import pandas as pd
    return len(a) == len(b) and all(x == y or (pd.isna(x) and pd.isna(y)) for x, y in zip(a, b))


def check_board(data_dir, out_dir, names, oracle_sql):
    """name -> problem, for each query whose written result differs from its
    oracle: same column names, same row count, then each column's values
    in row order, NaN equal to NaN."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in BOARD_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {}
    for name in names:
        try:
            spark = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            duck = con.execute(oracle_sql[name]).df()
        except Exception as e:  # a missing output or a failing oracle
            bad[name] = f"{type(e).__name__}: {e}"
            continue
        cols = sorted(spark.columns)
        if cols != sorted(duck.columns) or len(spark) != len(duck):
            bad[name] = f"shape {cols}x{len(spark)} vs {sorted(duck.columns)}x{len(duck)}"
            continue
        diffs = [c for c in cols if not _same(list(spark[c]), list(duck[c]))]
        if diffs:
            bad[name] = f"value mismatch in {diffs}"
    con.close()
    return bad


def load_reports(path):
    with open(path) as f:
        return {r["op"]: r["report"] for r in map(json.loads, f)}
