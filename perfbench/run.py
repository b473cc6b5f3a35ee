#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (once per source tree; the classpath is cached
under perfbench/target), generates the workload's inputs from the seed,
runs the JVM harness (perfbench.Main), checks every output, and prints each
metric by name with its unit and sample count. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list.

Workloads (see BENCHMARK.json for why each exists): trip_medallion,
declared_queries, table_writes.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("trip_medallion", "declared_queries", "table_writes")
SETUP_REPS = 3
# Input sizes. Every run of every workload must fit the benchmark's time
# budget on a 4-core machine, so these stay small; the seed varies content
# and layout, never size.
TRIP_MONTHS, TRIP_ROWS_PER_MONTH = 3, 10000
TABLES_SCALE = 0.2
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine's sources with the harness; returns the classpath."""
    cp_file, stamp_file = os.path.join(TARGET, "classpath.txt"), os.path.join(TARGET, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine + harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def generate(workload, inputs, seed):
    if workload == "trip_medallion":
        gen.gen_trips(os.path.join(inputs, "trips"), seed, TRIP_MONTHS, TRIP_ROWS_PER_MONTH)
    elif workload == "table_writes":
        os.makedirs(inputs, exist_ok=True)
        gen.gen_commits(os.path.join(inputs, "commits.json"), seed)
    else:
        gen.gen_tables(os.path.join(inputs, "tables"), seed, TABLES_SCALE)


def quantile(xs, q):
    """Linear-interpolated quantile of a sorted list."""
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (pos - lo)


def latency(ms):
    """(median, p90) of a list of latencies."""
    xs = sorted(ms)
    return (statistics.median(xs), quantile(xs, 0.9)) if xs else (0.0, 0.0)


def panel_latency(samples):
    """Geometric means, over the distinct ops, of each op's median and p90.
    Every op weighs the same whatever its speed, so a change to any op moves
    them; a plain median over a mix of fast and slow ops instead sits in the
    gap between them and jumps with small shifts. A run holds a few samples
    per op, so p90 here is close to each op's worst."""
    by_op = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s["ms"])
    if not by_op:
        return 0.0, 0.0
    per_op = [latency(v) for v in by_op.values()]
    return (statistics.geometric_mean(p[0] for p in per_op),
            statistics.geometric_mean(p[1] for p in per_op))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cpus = os.cpu_count() or 4

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the engine's sources (src/main/scala/graft) are not in this checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()
    # the build never eats into the run's own time limit
    started = time.time()

    work = os.path.join(TARGET, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    gen_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        shutil.rmtree(inputs, ignore_errors=True)
        generate(a.workload, inputs, a.seed)
        gen_s.append(time.perf_counter() - t0)
    os.makedirs(os.path.join(work, "tmp"))

    cmd = ["java", *[x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
           inputs, work, str(cpus)]
    budget = max(30.0, 175 - (time.time() - started))
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        # SPARK_LOCAL_DIRS would override spark.local.dir; keep shuffle files in the run
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    with open(result_path) as f:
        res = json.load(f)

    facts = res["facts"]
    wrong = dict(res["failures"])
    if a.workload == "declared_queries":
        wrong.update(checks.declared_queries(os.path.join(inputs, "tables"), facts["oracles"], facts["dump_dir"]))
    elif a.workload == "trip_medallion":
        wrong.update(checks.trips(inputs, facts))
    else:
        wrong.update(checks.table_writes(inputs, facts))

    timed = [s for s in res["samples"] if s["round"] >= 1]
    untraced = [s for s in timed if not s["traced"]]
    failed = [s for s in timed if not s["ok"] or s["op"] in wrong]
    ok = [s for s in untraced if s["ok"] and s["op"] not in wrong]
    rounds = [r["ms"] / 1e3 for r in res["rounds"] if not r["traced"]]
    p50, p90 = panel_latency(ok)
    setup_s = statistics.median(gen_s) + res["session_s"] + res["warmup_s"]
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(rounds) if rounds else 0.0,
        "op_p50_ms": p50,
        "op_p90_ms": p90,
        "heap_peak_mb": res["heap_peak_mb"],
        "disk_retained_mb": res["disk_retained_mb"],
    }
    counts = {"setup_s": SETUP_REPS, "pass_s": len(rounds), "op_p50_ms": len(ok),
              "op_p90_ms": len(ok), "heap_peak_mb": len(res["fixed_points"]), "disk_retained_mb": 1}

    def phase_ms(s, names):
        return sum(s["phases"].get(n, 0.0) for n in names)

    # the workload's own names for its end-to-end numbers
    named = {}
    if a.workload == "trip_medallion":
        named["pipeline_s"] = ([phase_ms(s, ["pipeline"]) / 1e3 for s in ok], "s")
        named["analytics_s"] = ([phase_ms(s, ["q1", "q2"]) / 1e3 for s in ok], "s")
    elif a.workload == "declared_queries":
        named["query_p50_ms"] = named["query_p95_ms"] = (
            [s["ms"] for s in untraced if not s["layer"].startswith("llm.") and s["ok"]], "ms")
        named["curation_op_p50_ms"] = ([s["ms"] for s in untraced if s["layer"].startswith("llm.") and s["ok"]], "ms")
    else:
        commits = [s["ms"] for s in untraced if s["layer"] == "sources.write" and s["ok"]]
        reads = [s["ms"] for s in untraced if s["layer"] == "sources.read" and s["ok"]]
        named["commit_p50_ms"] = named["commit_p95_ms"] = (commits, "ms")
        named["read_p50_ms"] = (reads, "ms")

    print(f"workload {a.workload}  seed {a.seed}  cpus {cpus}  "
          f"{len(timed)} timed ops in {len(res['rounds'])} rounds over {res['timed_s']:.1f} s"
          f"{'  (traced run: alternate rounds carry the listener)' if a.trace else ''}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, value in e2e.items():
        print(f"  {name:24s} {value:12.4f} {units[name]:6s} n={counts[name]}")
    for name, (xs, unit) in named.items():
        v = latency(xs)[1] if "p95" in name else (statistics.median(xs) if xs else 0.0)
        label = "  (p95 of fewer than 200 samples: read as p90)" if "p95" in name else ""
        print(f"  {name:24s} {v:12.4f} {unit:6s} n={len(xs)}{label}")
    print(f"  {'failed_ratio':24s} {len(failed) / max(1, len(timed)):12.4f} {'ratio':6s} n={len(timed)}")
    for name, why in sorted(wrong.items()):
        print(f"  FAILED {name}: {why}")

    if a.trace:
        layer = res["layer"]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for name, m in metrics.items():
            print(f"  {name:40s} {m['value']:14.4f} {m['unit']}")
        trace_out = os.path.join(TARGET, "traces")
        os.makedirs(trace_out, exist_ok=True)
        shutil.copy(os.path.join(work, "trace.json"),
                    os.path.join(trace_out, f"{a.workload}-{a.seed}.json"))
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not wrong and not failed, "attempted": len(timed),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
