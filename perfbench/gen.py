"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed writes
byte-identical files (pyarrow writes no timestamps into parquet footers), and
a different seed changes row values, row order and file splits. The program
under test only ever sees these files.

  tables   ten TPC-H-ish tables in the schemas the declared queries read
           (region ... embeddings), one parquet file each holding a seeded
           permutation of its rows in row groups of a seeded size.
  trips    monthly `yellow_tripdata_YYYY-MM.parquet` files in the raw NYC TLC
           column names and types, with planted faults, plus a ground-truth
           sidecar `truth.json`.
  commits  the statement log of the table_writes workload (`commits.json`).
"""
import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = ["region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events", "documents", "embeddings"]
WORDS = ["value", "hash", "batch", "sort", "data", "big", "filter", "dup", "fast",
         "spark", "line", "small", "customer", "group", "key", "agg", "scan",
         "slow", "table", "part", "a", "merge", "window", "order", "column",
         "join", "vector", "row", "the", "query", "stream"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (np.datetime64(end) - np.datetime64(start)).astype("timedelta64[D]").astype(int)
    return np.datetime64(start, "us") + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write_shuffled(table, path, rng):
    """Write `table` as one parquet file holding a seeded permutation of its
    rows, in row groups of a seeded size. One file per table keeps the number
    of scan tasks the same for every seed."""
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    pq.write_table(table, path, row_group_size=max(1, int(table.num_rows * rng.uniform(0.3, 1.0))))


def gen_tables(out_dir, seed, scale=1.0):
    """The declared queries' ten tables. `scale` 1.0 gives the row counts of
    the sf0.01 layout (60k lineitem rows, 500 documents and embeddings)."""
    rng = np.random.default_rng([seed, 1])
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_line, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc = n_emb = max(200, int(500 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line), pa.timestamp("us"))})
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n_doc)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    for name, table in t.items():
        _write_shuffled(table, os.path.join(out_dir, f"{name}.parquet"), rng)
    return {name: table.num_rows for name, table in t.items()}


# --- trip months ---------------------------------------------------------

TRIP_PREFIX = "yellow_tripdata"
TOLERANCE_H = 72


def _month_start(ym):
    return datetime.strptime(ym + "-01", "%Y-%m-%d")


def _next_month(ym):
    d = _month_start(ym)
    return datetime(d.year + (d.month == 12), d.month % 12 + 1, 1)


def trip_config(months):
    """START_DATE..END_DATE covering `months` monthly files from 2023-01."""
    yms = [f"{2023 + (m // 12)}-{m % 12 + 1:02d}" for m in range(months)]
    return yms, yms[0], yms[-1]


def _trip_month(rng, ym, n):
    """One month's raw rows, with ~1.5 % of pickups outside the month's
    [start - 72 h, next month) window. Returns (table, rows in window)."""
    lo = _month_start(ym) - timedelta(hours=TOLERANCE_H)
    hi = _next_month(ym)
    span_us = int((hi - lo).total_seconds() * 1e6)
    off = rng.integers(0, span_us, n)
    pickup = np.datetime64(lo, "us") + off.astype("timedelta64[us]")
    n_out = max(2, int(round(n * rng.uniform(0.01, 0.02))))
    out_idx = rng.choice(n, n_out, replace=False)
    # the reference's documented outliers: stale 2008 clocks, pickups dated
    # after the file's month, and the two exact boundary instants
    kinds = rng.integers(0, 3, n_out)
    stale = np.datetime64("2008-12-31T00:00:00", "us") + \
        rng.integers(0, 86400 * 10**6, n_out).astype("timedelta64[us]")
    late = np.datetime64(hi, "us") + rng.integers(0, 20 * 86400 * 10**6, n_out).astype("timedelta64[us]")
    early = np.datetime64(lo, "us") - rng.integers(1, 5 * 86400 * 10**6, n_out).astype("timedelta64[us]")
    pickup[out_idx] = np.where(kinds == 0, stale, np.where(kinds == 1, late, early))
    pickup[out_idx[0]] = np.datetime64(hi, "us")  # exclusive upper bound
    edge = rng.integers(0, n)
    while edge in set(out_idx.tolist()):
        edge = rng.integers(0, n)
    pickup[edge] = np.datetime64(lo, "us")  # inclusive lower bound
    dropoff = pickup + rng.integers(60, 3600, n).astype("timedelta64[s]").astype("timedelta64[us]")
    passengers = rng.integers(0, 7, n).astype(np.float64)
    passengers[rng.random(n) < 0.02] = np.nan
    fare = np.round(rng.uniform(3.0, 80.0, n), 2)
    tip = np.round(fare * rng.uniform(0.0, 0.3, n), 2)
    tolls = np.where(rng.random(n) < 0.05, 6.55, 0.0)
    table = pa.table({
        "VendorID": pa.array(rng.integers(1, 3, n), pa.int64()),
        "tpep_pickup_datetime": pa.array(pickup, pa.timestamp("us")),
        "tpep_dropoff_datetime": pa.array(dropoff, pa.timestamp("us")),
        "passenger_count": pa.array(passengers, from_pandas=True),
        "trip_distance": np.round(rng.exponential(3.0, n), 2),
        "RatecodeID": rng.integers(1, 7, n).astype(np.float64),
        "store_and_fwd_flag": pa.array(rng.choice(["N", "Y"], n, p=[0.99, 0.01])),
        "PULocationID": pa.array(rng.integers(1, 266, n), pa.int64()),
        "DOLocationID": pa.array(rng.integers(1, 266, n), pa.int64()),
        "payment_type": pa.array(rng.integers(1, 5, n), pa.int64()),
        "fare_amount": fare,
        "extra": rng.choice([0.0, 0.5, 1.0, 2.5], n),
        "mta_tax": np.full(n, 0.5),
        "tip_amount": tip,
        "tolls_amount": tolls,
        "improvement_surcharge": np.full(n, 1.0),
        "total_amount": np.round(fare + tip + tolls + 1.5, 2),
        "congestion_surcharge": rng.choice([0.0, 2.5], n),
        "airport_fee": rng.choice([0.0, 1.25], n, p=[0.9, 0.1])})
    p = table.column("tpep_pickup_datetime").to_numpy()
    in_window = int(((p >= np.datetime64(lo, "us")) & (p < np.datetime64(hi, "us"))).sum())
    return table, in_window


def gen_trips(out_dir, seed, months=6, rows_per_month=40000):
    """`months` readable in-range files, one file dated before START_DATE
    (pruned by name) and one unreadable in-range-named file. The unreadable
    file is dated inside START..END, so the pipeline must open it and fail."""
    rng = np.random.default_rng([seed, 2])
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    yms, start, end = trip_config(months)
    truth = {"start": start, "end": end, "tolerance_hours": TOLERANCE_H,
             "files": {}, "pruned": [], "failed": []}
    for ym in yms:
        n = int(rows_per_month * rng.uniform(0.9, 1.1))
        table, in_window = _trip_month(rng, ym, n)
        name = f"{TRIP_PREFIX}_{ym}.parquet"
        pq.write_table(table, os.path.join(out_dir, name),
                       row_group_size=int(rng.integers(n // 4, n + 1)))
        truth["files"][name] = {"rows": n, "in_window": in_window}
    before = f"{int(start[:4]) - 1}-12"
    table, _ = _trip_month(rng, before, max(100, rows_per_month // 20))
    pruned = f"{TRIP_PREFIX}_{before}.parquet"
    pq.write_table(table, os.path.join(out_dir, pruned))
    truth["pruned"].append(pruned)
    bad_ym = yms[int(rng.integers(0, len(yms)))]
    bad = f"{TRIP_PREFIX}_corrupt_{bad_ym}.parquet"
    with open(os.path.join(out_dir, bad), "wb") as f:
        f.write(b"PAR1" + rng.bytes(4096) + b"not a parquet footer")
    truth["failed"].append(bad)
    with open(os.path.join(out_dir, "..", "trips_truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


# --- table_writes commit log --------------------------------------------

ROUND_MIX = ("insert", "insert", "merge", "merge", "delete", "refresh")


def gen_commits(path, seed, n_base=100, n_rounds=60, batch_rows=40):
    """A statement log against one documents table: a base load, then rounds
    of INSERT batches of fresh ids, MERGE upserts that update existing ids and
    insert new ones, a DELETE by id range and an index refresh. Every round
    has the same mix (ROUND_MIX) in a seeded order, so the seed changes
    contents and order but never the kind of work a round does. `expect[i]`
    is the replayed table state after the first i statements."""
    rng = np.random.default_rng([seed, 3])

    def docs(ids):
        return [[int(i), " ".join(rng.choice(WORDS, int(rng.integers(8, 40)))),
                 str(rng.choice(LANGS))] for i in ids]

    base = docs(range(n_base))
    ops, next_id, live = [], n_base, list(range(n_base))
    for r in range(n_rounds):
        for kind in rng.permutation(ROUND_MIX):
            if kind == "refresh":
                ops.append({"op": "refresh", "index": "text" if r % 2 else "vector"})
            elif kind == "insert":
                n = int(rng.integers(batch_rows // 2, batch_rows + 1))
                ids = list(range(next_id, next_id + n))
                next_id += n
                live.extend(ids)
                ops.append({"op": "insert", "rows": docs(ids)})
            elif kind == "merge":
                upd = sorted(rng.choice(live, int(rng.integers(4, batch_rows // 2)), replace=False).tolist())
                new = list(range(next_id, next_id + int(rng.integers(1, batch_rows // 4))))
                next_id += len(new)
                live.extend(new)
                ops.append({"op": "merge", "rows": docs(upd + new)})
            else:
                lo = int(rng.choice(live))
                hi = lo + int(rng.integers(2, 12))
                live = [i for i in live if not lo <= i < hi]
                ops.append({"op": "delete", "lo": lo, "hi": hi})
    expect = []
    state = {i: (t, l) for i, t, l in base}
    changes = dict.fromkeys(CHANGE_TYPES, 0)
    for i in range(len(ops) + 1):
        ids = list(state)
        expect.append({"count": len(state), "sum_id": sum(ids),
                       "sum_len": sum(len(t) for t, _ in state.values()),
                       "changes": dict(changes),
                       # the index-served reads' probe row and search term
                       "probe": ids[int(rng.integers(0, len(ids)))],
                       "term": str(rng.choice(WORDS))})
        if i < len(ops):
            apply_statement(state, changes, ops[i])
    log = {"base": base, "per_round": len(ROUND_MIX), "ops": ops, "expect": expect}
    with open(path, "w") as f:
        json.dump(log, f)
    return log


CHANGE_TYPES = ("insert", "delete", "update_preimage", "update_postimage")


def apply_statement(live, changes, o):
    """Replay one statement on `live` ({id: (text, lang)}), counting the
    change-feed rows it must produce."""
    if o["op"] == "insert":
        for i, text, lang in o["rows"]:
            live[i] = (text, lang)
            changes["insert"] += 1
    elif o["op"] == "merge":
        for i, text, lang in o["rows"]:
            if i in live:
                changes["update_preimage"] += 1
                changes["update_postimage"] += 1
            else:
                changes["insert"] += 1
            live[i] = (text, lang)
    elif o["op"] == "delete":
        gone = [i for i in live if o["lo"] <= i < o["hi"]]
        for i in gone:
            del live[i]
        changes["delete"] += len(gone)


def replay(log, n):
    """Live rows after the base load and the first n statements."""
    live = {i: (t, l) for i, t, l in log["base"]}
    changes = dict.fromkeys(CHANGE_TYPES, 0)
    for o in log["ops"][:n]:
        apply_statement(live, changes, o)
    return live
