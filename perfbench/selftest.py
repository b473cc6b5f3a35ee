#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py            # everything, about two minutes
    python3 perfbench/selftest.py --quick    # skip the smoke-size runs

  - the generators are deterministic for one seed and differ across seeds;
  - each output check accepts a right answer and rejects a corrupted one;
  - run.py refuses to run without the engine's sources;
  - a smoke-size run prints every declared metric with its unit.
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

import duckdb

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(HERE, "target", "selftest")


def scratch_dir():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(dir=SCRATCH)


def tree_digest(path):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Generators(unittest.TestCase):
    def setUp(self):
        self.tmp = scratch_dir()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def digests(self, make):
        out = []
        for i, seed in enumerate((7, 7, 8)):
            d = os.path.join(self.tmp, str(i))
            os.makedirs(d)
            make(d, seed)
            out.append(tree_digest(d))
        return out

    def check(self, make):
        a, b, c = self.digests(make)
        self.assertEqual(a, b, "same seed must give byte-identical inputs")
        self.assertNotEqual(a, c, "another seed must give other inputs")

    def test_tables(self):
        self.check(lambda d, s: gen.gen_tables(os.path.join(d, "tables"), s, scale=0.05))

    def test_trips(self):
        self.check(lambda d, s: gen.gen_trips(os.path.join(d, "trips"), s, months=2, rows_per_month=500))

    def test_commits(self):
        self.check(lambda d, s: gen.gen_commits(os.path.join(d, "commits.json"), s, n_base=20, n_rounds=4))


class Checks(unittest.TestCase):
    def setUp(self):
        self.tmp = scratch_dir()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_declared_query_check(self):
        tables = os.path.join(self.tmp, "tables")
        gen.gen_tables(tables, 3, scale=0.05)
        sql = "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1"
        con = duckdb.connect()
        con.sql(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{tables}/orders.parquet')")
        dumps = os.path.join(self.tmp, "dumps")

        def dump(query):
            os.makedirs(os.path.join(dumps, "q"), exist_ok=True)
            con.sql(f"COPY ({query}) TO '{dumps}/q/part-0.parquet' (FORMAT PARQUET)")

        dump(sql)
        self.assertEqual(checks.declared_queries(tables, {"q": sql}, dumps), {})
        dump("SELECT o_orderstatus, CASE WHEN o_orderstatus = 'F' THEN n + 1 ELSE n END AS n "
             f"FROM ({sql})")
        self.assertIn("q", checks.declared_queries(tables, {"q": sql}, dumps))
        dump(f"SELECT * FROM ({sql}) LIMIT 2")
        self.assertIn("q", checks.declared_queries(tables, {"q": sql}, dumps))

    def test_trip_check(self):
        truth = gen.gen_trips(os.path.join(self.tmp, "trips"), 4, months=2, rows_per_month=500)
        facts = {"processed": sorted(truth["files"]), "failed": truth["failed"],
                 "row_counts": {k: v["in_window"] for k, v in truth["files"].items()},
                 "files_listed": len(truth["files"]) + len(truth["failed"]) + len(truth["pruned"]),
                 "results_dir": os.path.join(self.tmp, "results")}
        # right answers, written the way Etl.writeCsv lays them out
        con = duckdb.connect()
        parts = []
        for name in sorted(truth["files"]):
            ym = name[len(gen.TRIP_PREFIX) + 1:-len(".parquet")]
            parts.append(f"SELECT * FROM read_parquet('{self.tmp}/trips/{name}') WHERE tpep_pickup_datetime >= "
                         f"TIMESTAMP '{ym}-01' - INTERVAL 72 HOUR AND tpep_pickup_datetime < "
                         f"TIMESTAMP '{ym}-01' + INTERVAL 1 MONTH")
        con.sql("CREATE VIEW g AS " + " UNION ALL ".join(parts))
        q1 = ("SELECT year(tpep_pickup_datetime) AS pickup_year, month(tpep_pickup_datetime) AS pickup_month, "
              "avg(total_amount) AS avg_total_amount FROM g GROUP BY 1, 2 ORDER BY 1, 2")
        q2 = ("WITH w AS (SELECT year(t) y, month(t) m, day(t) d, hour(t) h, "
              "avg(pc) OVER (PARTITION BY year(t), month(t), day(t)) ad, "
              "avg(pc) OVER (PARTITION BY year(t), month(t), day(t), hour(t)) ah FROM "
              "(SELECT tpep_pickup_datetime t, CAST(trunc(passenger_count) AS INTEGER) pc FROM g)) "
              "SELECT y AS pickup_year, m AS pickup_month, d AS pickup_day, h AS pickup_hour, "
              "ad AS avg_passenger_day, ah AS avg_passenger_hour FROM w GROUP BY ALL ORDER BY 1, 2, 3, 4")

        def write(q1_sql):
            for sub, q in (("monthly_avg_total", q1_sql), ("window_avg_passengers", q2)):
                os.makedirs(os.path.join(facts["results_dir"], sub), exist_ok=True)
                con.sql(f"COPY ({q}) TO '{facts['results_dir']}/{sub}/part-0.csv' (HEADER)")

        write(q1)
        self.assertEqual(checks.trips(self.tmp, facts), {})
        self.assertIn("etl_pass", checks.trips(self.tmp, dict(facts, failed=[])))
        self.assertIn("etl_pass", checks.trips(self.tmp, dict(facts, row_counts={})))
        write(q1.replace("avg(total_amount)", "avg(total_amount) + 0.01"))
        self.assertIn("etl_pass", checks.trips(self.tmp, facts))

    def test_table_writes_check(self):
        log = gen.gen_commits(os.path.join(self.tmp, "commits.json"), 5, n_base=20, n_rounds=4)
        live = gen.replay(log, 17)
        lines = sorted(f"{i}\t{t}\t{l}" for i, (t, l) in live.items())
        facts = {"statements": 17, "live_rows": len(lines),
                 "live_sha1": hashlib.sha1("\n".join(lines).encode()).hexdigest()}
        self.assertEqual(checks.table_writes(self.tmp, facts), {})
        self.assertIn("snapshot_read", checks.table_writes(self.tmp, dict(facts, statements=0)))
        self.assertIn("snapshot_read", checks.table_writes(self.tmp, dict(facts, live_sha1="0" * 40)))


class Runner(unittest.TestCase):
    def run_py(self, cwd, *args):
        return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                              capture_output=True, text=True, timeout=900)

    def test_refuses_without_engine_sources(self):
        tmp = scratch_dir()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"), ignore=shutil.ignore_patterns("target"))
            p = self.run_py(tmp, "--workload", "trip_medallion", "--seed", "1", "--seconds", "1")
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(tmp)

    @unittest.skipIf("--quick" in sys.argv, "smoke runs skipped")
    def test_smoke_run_prints_every_metric(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for trace, declared in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            p = self.run_py(ROOT, "--workload", "trip_medallion", "--seed", "1", "--seconds", "1",
                            "--trace", trace)
            self.assertEqual(p.returncode, 0, p.stderr[-2000:])
            res = json.loads(p.stdout.strip().splitlines()[-1])
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(res["correct"], p.stdout[-2000:])
            self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                             {m["name"]: m["unit"] for m in declared})
            for m in declared:
                self.assertRegex(p.stdout, rf"\s{re.escape(m['name'])}\s+\S+\s+{re.escape(m['unit'])}(\s|$)")


if __name__ == "__main__":
    unittest.main(argv=[a for a in sys.argv if a != "--quick"])
