#!/usr/bin/env python3
"""Benchmark of the insights job and the declared query surface.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source on first use (perfbench/build.py), makes the
workload's inputs (perfbench/gen.py writes the insights CSV from the seed;
the query workload reads the project's sf0.01 tables in perfbench/data),
runs the timed calls in one JVM (perfbench/harness/Harness.scala), checks
every output against DuckDB (perfbench/check.py), and prints one JSON
object as the last stdout line: the end-to-end metrics with `--trace 0`,
the per-layer metrics with `--trace 1`. One more flag serves the check
itself:
    --corrupt 1       damage one output before the check (it must then
                      report failed operations)
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# Insights corpus: rows of the generated CSV and the grouping columns used
# (the first K of the reference's 14).
INSIGHTS_ROWS = 20000
INSIGHTS_K = 6
# The tables `declared_queries` reads: the project's own sf0.01 test
# tables, copied into each run's private data dir.
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# Steal ticks over the timed rounds above which a run is flagged on
# standard error as measured on a busy host.
STEAL_FLAG = 200

# One round of each workload. For `declared_queries`: declared query names,
# one per operator module; README.md says which layer each one is there for.
WORKLOADS = {
    "insights_scale": None,
    "declared_queries": [
        # short SQL, mostly fixed per-query cost: table loads, job launch,
        # planning
        "q6_revenue_filter", "events_asof_attribution", "source_orc_roundtrip",
        "insights_orders_cube",
        # LLM-data curation: kernels, a stored ops.Indexes index, low-NDV
        # windows
        "dedup_simhash", "similarity_lsh_buckets", "text_length_deciles",
        "pack_sequences",
    ],
}

JAVA_OPTS = [
    # what spark-submit adds on JDK 17 (build.sbt carries the same list)
    *[x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect",
                  "java.io", "java.net", "java.nio", "java.util",
                  "java.util.concurrent", "java.util.concurrent.atomic",
                  "sun.nio.ch", "sun.nio.cs", "sun.security.action",
                  "sun.util.calendar")
      for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    # a fixed, pre-touched heap: peak RSS then moves with what the program
    # holds off the heap (classes, generated code, buffers), not with when
    # the collector happened to run; heap pressure shows as jvm.gc_s
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
    # the JVM's default tiered JIT, with the code cache build.sbt sets
    "-XX:ReservedCodeCacheSize=1g",
    # no hsperfdata file outside the checkout
    "-XX:-UsePerfData",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build()
    run_dir = os.path.join(os.getcwd(), build.BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        print(json.dumps(run(a, run_dir)))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(a, run_dir):
    # a private java.io.tmpdir and spark.local.dir per run
    data, tmp, local, out = (os.path.join(run_dir, d) for d in ("data", "tmp", "local", "out"))
    for d in (data, tmp, local, out):
        os.makedirs(d)
    insights = a.workload == "insights_scale"
    t0 = time.monotonic()
    if insights:
        csv_path = os.path.join(data, "playstore.csv")
        rows = gen.playstore_csv(csv_path, a.seed, INSIGHTS_ROWS)
        spec = f"{csv_path}:{INSIGHTS_K}"
    else:
        rows = 0
        for f in sorted(os.listdir(TABLES_DIR)):
            shutil.copy(os.path.join(TABLES_DIR, f), data)
            rows += pq.read_metadata(os.path.join(data, f)).num_rows
        spec = ",".join(WORKLOADS[a.workload])

    t1 = time.monotonic()
    res = harness(a, run_dir, data, tmp, local, out, spec)
    t2 = time.monotonic()
    # what the program left in its private temp dir, per round it ran
    # (the warm-up rounds and the timed ones)
    left = [d for d in os.listdir(tmp) if d != "warehouse"]
    wh = os.path.join(tmp, "warehouse")
    left += os.listdir(wh) if os.path.isdir(wh) else []
    residue = len(left) / (res["rounds"] + res["warmup_rounds"])

    execs = res["execs"]
    if a.corrupt:
        corrupt(out, execs, insights)
    if insights:
        failed = check_insights(csv_path, out, execs)
    else:
        failed = check_queries(data, out, res)
    sys.stderr.write(f"perfbench: inputs {t1 - t0:.1f} s, harness {t2 - t1:.1f} s, "
                     f"check {time.monotonic() - t2:.1f} s\n")
    for e in execs:
        if e["status"] != "ok":
            sys.stderr.write(f"perfbench: {e['name']} round {e['round']}: {e['status']}\n")

    # medians over the timed rounds: of each round's wall time, and of each
    # operation's time
    wall_s = statistics.median(res["round_s"])
    per_op = {}
    for e in execs:
        per_op.setdefault(e["name"], []).append(e["s"])
    op_s = {n: statistics.median(v) for n, v in per_op.items()}
    report(a, res, op_s)
    if a.trace:
        values = dict(res["layers"], **{"residue.tmp_dirs": residue})
    else:
        values = {
            "setup_s": res["setup_s"],
            "wall_s": wall_s,
            "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
            "query_p50_s": statistics.median(op_s.values()),
            "rows_per_s": rows / wall_s,
        }
    # names and units as BENCHMARK.json declares them
    with open("BENCHMARK.json") as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    # every operation was checked; the ones whose output was wrong count
    # as failed, so `correct` speaks of the others
    return {"correct": True, "attempted": len(execs), "failed": failed,
            "metrics": metrics}


def harness(a, run_dir, data, tmp, local, out, spec):
    """Runs the JVM half and returns its result.json."""
    cp = os.path.abspath(build.CLASSES) + ":" + build.classpath()
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           "-cp", cp, "perfbench.Harness", a.workload, data, out,
           str(a.seconds), str(a.trace), spec]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=110 + 2 * a.seconds)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    result = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness failed ({rc})")
    with open(result) as f:
        return json.load(f)


def check_insights(csv_path, out, execs):
    """Failed rounds of the insights job: its lines must be DuckDB's."""
    expected, threshold = check.insights_lines(csv_path, INSIGHTS_K)
    failed = 0
    for e in execs:
        got = check.read_lines(os.path.join(out, "insights", f"r{e['round']}"))
        if e["status"] != "ok" or not check.insights_ok(got, expected, threshold):
            failed += 1
    return failed


def check_queries(data, out, res):
    """Failed query runs: the first timed round's rows must be DuckDB's
    answer to the query's oracle SQL, and every later round must give the
    same rows as the first (equal digests)."""
    oracle = check.Oracle(data)
    good, took = {}, {}
    for name, sql in res["oracle"].items():
        first = next(e for e in res["execs"] if e["name"] == name and e["status"] == "ok")
        t = time.monotonic()
        ok = oracle.matches(sql, os.path.join(out, "rows", name))
        took[name] = time.monotonic() - t
        if ok:
            good[name] = first["digest"]
        else:
            sys.stderr.write(f"perfbench: {name}: rows differ from the oracle's\n")
    sys.stderr.write("perfbench: check s per query: "
                     + ", ".join(f"{n} {s:.2f}" for n, s in took.items()) + "\n")
    return sum(1 for e in res["execs"]
               if e["status"] != "ok" or good.get(e["name"]) != e["digest"])


def corrupt(out, execs, insights):
    """Damages one output the way a wrong program would: one insight line
    of the first timed round gets a count one higher, or the first query's
    saved rows lose their last row."""
    if insights:
        d = os.path.join(out, "insights", "r1")
        part = next(f for f in sorted(os.listdir(d))
                    if f.startswith("part-") and os.path.getsize(os.path.join(d, f)) > 0)
        path = os.path.join(d, part)
        with open(path) as f:
            lines = f.read().splitlines()
        i = next(i for i, l in enumerate(lines) if ";" in l)
        head, count = lines[i].rsplit(";", 1)
        n = int(count.strip('"')) + 1
        lines[i] = f"{head};{n}"
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
    else:
        d = os.path.join(out, "rows", execs[0]["name"])
        files = [os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".parquet")]
        t = pq.read_table(files[0])
        pq.write_table(t.slice(0, t.num_rows - 1), files[0])


def report(a, res, op_s):
    w = sys.stderr.write
    w(f"perfbench: {a.workload} seed {a.seed}: rounds "
      f"{[round(x, 2) for x in res['round_s']]}, cpu "
      f"{[round(x, 2) for x in res['round_cpu_s']]}, steal ticks "
      f"{res['steal_ticks']}; session ready at {res['session_s']} s\n")
    if res["steal_ticks"] > STEAL_FLAG:
        w(f"perfbench: BUSY HOST: {res['steal_ticks']} steal ticks over the timed "
          f"rounds (flag above {STEAL_FLAG}); the times of this run are suspect\n")
    if res["route"]:
        w(f"perfbench: {res['route']}\n")
    w("perfbench: first warm-up s per operation: "
      + ", ".join(f"{n} {s:.3f}" for n, s in res["warmup_s"].items()) + "\n")
    w("perfbench: median s per operation: "
      + ", ".join(f"{n} {s:.3f}" for n, s in op_s.items()) + "\n")


if __name__ == "__main__":
    main()
