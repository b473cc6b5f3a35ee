"""Output checks of a benchmark run. Each returns {op name: reason} for the ops
whose output is wrong; an empty dict means every checked output is right."""
import hashlib
import json
import math
import os
import sys
from datetime import datetime, timedelta

import duckdb

import gen


def _cells_equal():
    # the comparison rule of the repository's DuckDB oracle gate
    scripts = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts")
    sys.path.insert(0, scripts)
    try:
        from check_oracle import cells_equal
    finally:
        sys.path.remove(scripts)
    return cells_equal


def declared_queries(tables_dir, oracles, dump_dir):
    """Replay each dumped warm result's oracle SQL in DuckDB over the generated
    tables and compare as scripts/check_oracle.py does: columns sorted by name,
    identical types and row counts, cell by cell in row order."""
    cells_equal = _cells_equal()
    con = duckdb.connect()
    for t in gen.TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    bad = {}
    for name, sql in sorted(oracles.items()):
        path = os.path.join(dump_dir, name)
        if not os.path.isdir(path):
            bad[name] = "no warm result to check"
            continue
        try:
            want = con.sql(sql)
            want_cols, want_types, want_rows = list(want.columns), [str(t) for t in want.types], want.fetchall()
            got = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            got_cols, got_types, got_rows = list(got.columns), [str(t) for t in got.types], got.fetchall()
        except Exception as e:  # noqa: BLE001 - any DuckDB error is a failed check
            bad[name] = f"oracle error: {e}"
            continue
        if sorted(want_cols) != sorted(got_cols):
            bad[name] = f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
            continue
        wt, gt = dict(zip(want_cols, want_types)), dict(zip(got_cols, got_types))
        drift = {c: (wt[c], gt[c]) for c in want_cols if wt[c] != gt[c]}
        if drift:
            bad[name] = f"type drift {drift}"
            continue
        if len(want_rows) != len(got_rows):
            bad[name] = f"{len(got_rows)} rows != oracle {len(want_rows)}"
            continue
        w_idx = [want_cols.index(c) for c in sorted(want_cols)]
        g_idx = [got_cols.index(c) for c in sorted(got_cols)]
        for rn, (wr, gr) in enumerate(zip(want_rows, got_rows)):
            diff = next(((want_cols[wi], wr[wi], gr[gi]) for wi, gi in zip(w_idx, g_idx)
                         if not cells_equal(wr[wi], gr[gi])), None)
            if diff:
                bad[name] = f"row {rn} col {diff[0]}: oracle={diff[1]!r} spark={diff[2]!r}"
                break
    return bad


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def trips(inputs_dir, facts):
    """The last pass's manifest against the generator's ground truth, and its
    Q1/Q2 CSVs against the reference SQL run in DuckDB over the source files."""
    with open(os.path.join(inputs_dir, "trips_truth.json")) as f:
        truth = json.load(f)
    bad = []
    if sorted(facts.get("processed", [])) != sorted(truth["files"]):
        bad.append(f"processed {facts.get('processed')}")
    if sorted(facts.get("failed", [])) != sorted(truth["failed"]):
        bad.append(f"failed {facts.get('failed')}")
    if facts.get("row_counts", {}) != \
            {k: v["in_window"] for k, v in truth["files"].items()}:
        bad.append("bronze row counts differ from the in-window ground truth")
    listed = facts.get("files_listed", 0)
    if listed - len(truth["files"]) - len(truth["failed"]) != len(truth["pruned"]):
        bad.append(f"{listed} files listed")
    con = duckdb.connect()
    parts = []
    for name in sorted(truth["files"]):
        ym = name[len(gen.TRIP_PREFIX) + 1:-len(".parquet")]
        start = datetime.strptime(ym + "-01", "%Y-%m-%d")
        lo = start - timedelta(hours=truth["tolerance_hours"])
        hi = datetime(start.year + (start.month == 12), start.month % 12 + 1, 1)
        parts.append(f"SELECT tpep_pickup_datetime AS ts, CAST(trunc(passenger_count) AS INTEGER) AS pc, "
                     f"total_amount FROM read_parquet('{inputs_dir}/trips/{name}') "
                     f"WHERE tpep_pickup_datetime >= TIMESTAMP '{lo}' AND tpep_pickup_datetime < TIMESTAMP '{hi}'")
    con.sql("CREATE VIEW gold AS " + " UNION ALL ".join(parts))
    q1 = con.sql("SELECT year(ts), month(ts), avg(total_amount) FROM gold GROUP BY 1, 2 ORDER BY 1, 2").fetchall()
    q2 = con.sql("""
        WITH w AS (SELECT year(ts) y, month(ts) m, day(ts) d, hour(ts) h,
                   avg(pc) OVER (PARTITION BY year(ts), month(ts), day(ts)) ad,
                   avg(pc) OVER (PARTITION BY year(ts), month(ts), day(ts), hour(ts)) ah FROM gold)
        SELECT y, m, d, h, ad, ah FROM w GROUP BY ALL ORDER BY y, m, d, h""").fetchall()
    res = facts.get("results_dir", "")
    for label, want, sub in (("q1", q1, "monthly_avg_total"), ("q2", q2, "window_avg_passengers")):
        try:
            got = con.sql(f"SELECT * FROM read_csv('{res}/{sub}/*.csv', header=true)").fetchall()
        except Exception as e:  # noqa: BLE001
            bad.append(f"{label}: unreadable result ({e})")
            continue
        if len(got) != len(want) or not all(
                all(_close(a, b) for a, b in zip(w, g)) for w, g in zip(want, got)):
            bad.append(f"{label}: {len(got)} rows differ from the reference SQL ({len(want)} rows)")
    return {"etl_pass": "; ".join(bad)} if bad else {}


def table_writes(inputs_dir, facts):
    """The final snapshot against a replay of the statements the run applied."""
    with open(os.path.join(inputs_dir, "commits.json")) as f:
        log = json.load(f)
    live = gen.replay(log, facts.get("statements", 0))
    lines = sorted(f"{i}\t{t}\t{l}" for i, (t, l) in live.items())
    sha = hashlib.sha1("\n".join(lines).encode()).hexdigest()
    if facts.get("live_rows") != len(lines) or facts.get("live_sha1") != sha:
        return {"snapshot_read": f"final snapshot ({facts.get('live_rows')} rows) differs from the "
                                 f"replay of {facts.get('statements')} statements ({len(lines)} rows)"}
    return {}
