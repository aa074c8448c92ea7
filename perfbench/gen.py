"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical parquet files and returns the same expected
answer. The program under test only ever sees the written files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
EPOCH_2024_US = 1_704_067_200 * 1_000_000

BOARD_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line data table agg value key stream window a spark part group big "
    "sort query fast the").split()
PART_ADJ = "small large blue red hot cold new old green dark bright".split()
PART_NOUN = "widget anvil rod bolt ring gear nut".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _write(table, path, files=1):
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_days(days):
    return pa.array(days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _text(rng, words, lo, hi, n):
    lens = rng.integers(lo, hi + 1, n)
    picks = rng.integers(0, len(words), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[j] for j in picks[at:at + k]))
        at += k
    return out


# ---------------------------------------------------------------- board ----

def board_sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": max(500, int(20_000 * sf)),
    }


def gen_board(out_dir, seed, sf):
    """TPC-H-shaped star schema plus events/documents/embeddings, one parquet
    file per table, with the column names and types the query registry
    reads."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = board_sizes(sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}),
           f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{k}" for k in range(25)],
                     "n_regionkey": pa.array([k % 5 for k in range(25)], i32)}),
           f"{out_dir}/nation.parquet")

    c = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, c)]}),
        f"{out_dir}/customer.parquet")

    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)}),
        f"{out_dir}/supplier.parquet")

    p = n["part"]
    keys = np.arange(p)
    _write(pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(PART_ADJ), p), rng.integers(0, len(PART_NOUN), p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": [PART_TYPES[k] for k in rng.integers(0, len(PART_TYPES), p)],
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)}),
        f"{out_dir}/part.parquet")

    o = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts_days(EPOCH_1995 + rng.integers(0, 2404, o)),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, o)]}),
        f"{out_dir}/orders.parquet")

    li = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": _money(rng, 0.0, 0.1, li),
        "l_tax": _money(rng, 0.0, 0.08, li),
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, li)],
        "l_shipdate": _ts_days(EPOCH_1995 + 1 + rng.integers(0, 2499, li))}),
        f"{out_dir}/lineitem.parquet")

    e = n["events"]
    users = max(150, int(15_000 * sf))
    _write(pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, e)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, e), i64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, e)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}),
        f"{out_dir}/events.parquet")

    d = n["documents"]
    texts = _text(rng, BOARD_WORDS, 8, 100, d)
    # about 5% near-duplicates: an earlier document plus one extra word
    for i in np.flatnonzero(rng.random(d) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    lang_p = [0.44, 0.14, 0.14, 0.14, 0.14]
    _write(pa.table({
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(5, d, p=lang_p)],
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], i64)}),
        f"{out_dir}/documents.parquet")

    v = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, v)
    vecs = centers[labels] + rng.normal(0.0, 1.0, (v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)}),
        f"{out_dir}/embeddings.parquet")


# ------------------------------------------------------------- validate ----

def gen_validate(out_dir, seed, rows, files=8):
    """A lineitem-shaped table with planted defects. Returns the expected
    verdicts and the number of planted failing rows."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    idx = np.arange(rows)
    orderkey = idx // 4
    linenumber = (idx % 4 + 1).astype(np.int32)
    quantity = rng.integers(1, 51, rows).astype(np.float64)
    discount = _money(rng, 0.0, 0.1, rows)
    returnflag = np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, rows)]

    # disjoint planted rows; duplicates reuse line 1 of distinct orders
    n_null, n_neg, n_range, n_dup = (int(k) for k in rng.integers(5, 25, 4))
    picks = rng.choice(rows // 4, n_null + n_neg + n_range + n_dup, replace=False)
    rows_of = lambda ks, off: ks * 4 + off
    nulls = rows_of(picks[:n_null], 0)
    negs = rows_of(picks[n_null:n_null + n_neg], 1)
    ranges = rows_of(picks[n_null + n_neg:n_null + n_neg + n_range], 2)
    dups = rows_of(picks[n_null + n_neg + n_range:], 1)
    returnflag[nulls] = None
    discount[negs] = -0.05
    quantity[ranges] = 75.0
    linenumber[dups] = 1

    _write(pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_partkey": pa.array(rng.integers(0, 200_000, rows), pa.int64()),
        "l_quantity": quantity,
        "l_extendedprice": _money(rng, 900.0, 105000.0, rows),
        "l_discount": discount,
        "l_tax": _money(rng, 0.0, 0.08, rows),
        "l_returnflag": pa.array(returnflag, pa.string()),
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, rows)],
        "l_shipdate": _ts_days(EPOCH_1995 + 1 + rng.integers(0, 2499, rows))}),
        f"{out_dir}/lineitem_big", files)

    planted = n_null + n_neg + n_range
    expected = {
        "lineitem_big": {
            "rowCount": rows, "numErrorDetails": planted, "failed": True,
            "checks": {
                "rowcount": (False, None),
                "nullcheck_l_returnflag": (True, n_null),
                "nullcheck_l_orderkey": (False, 0),
                "nullcheck_l_shipdate": (False, 0),
                "negcheck_l_discount": (True, n_neg),
                "negcheck_l_extendedprice": (False, 0),
                "rangecheck_l_quantity": (True, n_range),
                "rangecheck_l_tax": (False, 0),
                "strlen_l_linestatus": (False, 0),
                "regex_l_linestatus": (False, 0),
                "colmax_l_linenumber": (False, None),
                "colsum_l_tax": (False, None),
                "colstats_l_extendedprice": (False, None),
                "colstats_l_quantity": (False, None),
                "unique_l_orderkey_l_linenumber": (True, n_dup),
            }},
    }
    return expected, planted


def validate_config(data_dir, out_dir, num_errors):
    """YAML config for `graft.Main` over `gen_validate`'s table and three
    small passing tables of `gen_board`, all in `data_dir`. `num_errors`
    exceeds the planted failures so the detail pass reads the whole
    table."""
    return f"""numKeyCols: 2
numErrorsToReport: {num_errors}
detailedErrors: true
vars:
  - name: maxNation
    sql: SELECT 24
  - name: dir
    value: {data_dir}
outputs:
  - filename: {out_dir}/report_out.json
tables:
  - parquetFile: $dir/lineitem_big
    keyColumns: [l_orderkey, l_linenumber]
    checks:
      - {{ type: rowCount, minNumRows: 1000 }}
      - {{ type: nullCheck, column: l_returnflag }}
      - {{ type: nullCheck, column: l_orderkey }}
      - {{ type: nullCheck, column: l_shipdate }}
      - {{ type: negativeCheck, column: l_discount }}
      - {{ type: negativeCheck, column: l_extendedprice }}
      - {{ type: rangeCheck, column: l_quantity, minValue: 1, maxValue: 50, inclusive: true }}
      - {{ type: rangeCheck, column: l_tax, minValue: 0, maxValue: 0.08, inclusive: true }}
      - {{ type: stringLengthCheck, column: l_linestatus, minLength: 1, maxLength: 1 }}
      - {{ type: stringRegexCheck, column: l_linestatus, regex: "^[FO]$" }}
      - {{ type: columnMaxCheck, column: l_linenumber, value: 4 }}
      - {{ type: columnSumCheck, column: l_tax, minValue: 0, maxValue: 1.0e12 }}
      - {{ type: colstats, column: l_extendedprice }}
      - {{ type: colstats, column: l_quantity }}
      - {{ type: uniqueCheck, columns: [l_orderkey, l_linenumber] }}
  - parquetFile: $dir/customer.parquet
    keyColumns: [c_custkey]
    checks:
      - {{ type: rowCount, minNumRows: 100 }}
      - {{ type: nullCheck, column: c_name }}
      - {{ type: stringRegexCheck, column: c_name, regex: "^Customer#" }}
      - {{ type: rangeCheck, column: c_nationkey, minValue: 0, maxValue: $maxNation, inclusive: true }}
  - parquetFile: $dir/part.parquet
    checks:
      - {{ type: negativeCheck, column: p_retailprice }}
      - {{ type: rangeCheck, column: p_size, minValue: 1, maxValue: 50, inclusive: true }}
  - parquetFile: $dir/supplier.parquet
    checks:
      - {{ type: rowCount, minNumRows: 10 }}
      - {{ type: nullCheck, column: s_name }}
      - {{ type: columnMaxCheck, column: s_nationkey, value: 24 }}
"""


# --------------------------------------------------------------- curate ----

def _vocab(rng, size, alphabet, lo=3, hi=9):
    letters = np.array(list(alphabet))
    seen, out = set(), []
    while len(out) < size:
        w = "".join(letters[rng.integers(0, len(letters), rng.integers(lo, hi + 1))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_words(rng, vocab, weights, k):
    return [vocab[j] for j in rng.choice(len(vocab), k, p=weights)]


def gen_curate(out_dir, seed, families=1200, vocab_size=4000):
    """A web-crawl-like corpus with planted exact duplicates, near-duplicate
    families, low-quality (digit) pages and documents contaminated by an
    eval set. Returns the doc ids the curation pipeline must keep.

    Clean words never contain `z` or `q`; every eval word starts with `zq`
    and is at most 8 letters long, so any 13-character window of eval text
    holds a `z` and no clean document shares a 13-gram with the eval set.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, vocab_size, "abcdefghijklmnoprstuvwxy")
    w = 1.0 / np.arange(1, vocab_size + 1) ** 0.8
    w /= w.sum()
    eval_vocab = ["zq" + s for s in _vocab(rng, 300, "abcdefghijklmnoprstuvwxy", 2, 6)]
    evals = [" ".join(rng.choice(eval_vocab, rng.integers(20, 40))) for _ in range(40)]

    texts, fam = [], []  # fam: family index, or -1 = dropped by construction
    for f in range(families):
        base = _zipf_words(rng, vocab, w, int(rng.integers(30, 70)))
        kind = rng.random()
        if kind < 0.06:  # contaminated page: one eval passage spliced in
            at = int(rng.integers(0, len(base)))
            passage = evals[rng.integers(0, len(evals))].split()
            start = int(rng.integers(0, len(passage) - 6))
            base = base[:at] + passage[start:start + 6] + base[at:]
            texts.append(" ".join(base)); fam.append(-1)
            continue
        texts.append(" ".join(base)); fam.append(f)
        if kind < 0.30:  # near-duplicate variants: two words replaced
            for _ in range(int(rng.integers(1, 4))):
                v = list(base)
                for pos in rng.choice(len(v), 2, replace=False):
                    v[pos] = vocab[rng.integers(0, vocab_size)]
                texts.append(" ".join(v)); fam.append(f)
        if rng.random() < 0.15:  # exact copies
            for _ in range(int(rng.integers(1, 3))):
                texts.append(" ".join(base)); fam.append(f)
    n_low = families // 10
    for _ in range(n_low):  # digit-heavy boilerplate, fails the quality gate
        texts.append(" ".join(str(x) for x in rng.integers(10_000, 99_999, rng.integers(40, 80))))
        fam.append(-1)

    ids = rng.permutation(len(texts)).astype(np.int64) * 7 + 3
    keep = {}
    for doc_id, f in zip(ids, fam):
        if f >= 0:
            keep[f] = min(keep.get(f, doc_id), doc_id)
    order = np.argsort(ids)
    _write(pa.table({"doc_id": pa.array(ids[order], pa.int64()),
                     "text": [texts[i] for i in order]}),
           f"{out_dir}/corpus.parquet")
    _write(pa.table({"doc_id": pa.array(np.arange(len(evals)), pa.int64()), "text": evals}),
           f"{out_dir}/evalset.parquet")
    by_id = dict(zip(ids.tolist(), texts))
    return {int(i): by_id[int(i)] for i in keep.values()}
