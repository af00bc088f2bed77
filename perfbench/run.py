"""Benchmark command.

    python3 perfbench/run.py --workload <monitor_loop|api_edge|query_suite>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all [--seed n] [--seconds s]

Run from the repository root. One workload per call: `run.py` builds the
library and the harness (`build.py`), generates the workload's inputs
from the seed (`gen.py`), runs the harness JVM on them, checks every
output, prints one report line per metric and, as its last line, one
JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`.
`--workload all` runs the three workloads in turn, prints their eleven
named end-to-end metrics and exits non-zero if any output was wrong.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the benchmark writes only under .bench_build
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["monitor_loop", "api_edge", "query_suite"]

# BENCHMARK.json's end-to-end metrics, and the harness metric each one
# reads on each workload.
END_TO_END = {
    "latency_ms": ("ms", {"monitor_loop": "alert_p50_ms", "api_edge": "api_p50_ms",
                          "query_suite": "suite_geomean_ms"}),
    "tail_latency_ms": ("ms", {"monitor_loop": "alert_p90_ms", "api_edge": "api_p95_ms",
                               "query_suite": "suite_p90_ms"}),
    "throughput_per_s": ("1/s", {"monitor_loop": "monitor_runs_per_s", "api_edge": "api_rps",
                                 "query_suite": "queries_per_s"}),
    "setup_s": ("s", None),
    "live_memory_mb": ("MB", None),
}

# The eleven named end-to-end metrics of the three workloads, printed by
# `--workload all`.
NAMED_METRICS = [
    ("setup_s", "s"), ("failed_ops_ratio", "ratio"), ("live_memory_mb", "MB"),
    ("alert_p50_ms", "ms"), ("alert_p90_ms", "ms"), ("monitor_runs_per_s", "1/s"),
    ("api_p50_ms", "ms"), ("api_p95_ms", "ms"), ("api_rps", "1/s"),
    ("suite_s", "s"), ("suite_geomean_ms", "ms"),
]

# BENCHMARK.json's per-layer metrics. A workload that does not touch a
# layer reports 0 for it. api_edge's route metrics (engine.parse_spec_ms,
# engine.api_*_p50_ms) print in its report lines only, since BENCHMARK.json
# does not list api_edge.
PER_LAYER = [
    "dsl.target_parse_us", "dsl.monitor_compile_us",
    "engine.plan_build_ms", "engine.run_p50_ms", "engine.run_p95_ms",
    "engine.run_wait_p50_ms", "engine.cohort_tick_ms", "engine.single_tick_ms",
    "engine.persist_ms", "engine.runs_per_scan",
    "store.scan_calls_per_op", "store.scan_bytes_per_op", "store.files_read_per_op",
    "state.throttle_io_ms", "state.delivery_ms", "state.pages_per_failing_run",
    "streaming.ingest_s", "streaming.ingest_rows_per_s",
    "suite.series_s", "suite.corpus_s", "suite.build_s", "suite.force_s", "suite.fixtures_s",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.analysis_ms_per_op", "spark.optimization_ms_per_op", "spark.planning_ms_per_op",
    "spark.exec_ms_per_op", "spark.exchanges_per_op", "spark.shuffle_bytes_per_op",
    "spark.spill_bytes_per_op", "spark.executor_gc_ms", "jvm.driver_gc_ms",
    "self.store_ms_per_op", "self.engine_ms_per_op", "self.state_ms_per_op",
    "self.spark_ms_per_op", "self.suite_ms_per_op", "trace.unattributed_share",
    "trace.overhead_p50_ms", "trace.overhead_rate_share",
]

# Input sizes: (full, tiny).
SIZES = {
    "sf": (0.1, 0.001), "suite_sf": (0.01, 0.001),
    "cohort": (7, 4), "hourly": (48, 4),
    "pool": ({"evaluate": 6, "render": 3, "backtest": 2, "latest": 1},
             {"evaluate": 3, "render": 2, "backtest": 1, "latest": 1}),
    "jobs": (50, 5), "runs_per_job": (6, 2),
}

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def make_inputs(workload, seed, tiny, in_dir):
    size = {k: v[1 if tiny else 0] for k, v in SIZES.items()}
    data = os.path.join(in_dir, "data")
    if workload == "monitor_loop":
        gen.tables(seed, size["sf"], data, ["events"])
        loop = gen.monitors(seed, size["cohort"], size["hourly"])
        json.dump(loop, open(os.path.join(in_dir, "loop.json"), "w"))
    elif workload == "api_edge":
        gen.tables(seed, size["sf"], data, ["events"])
        gen.job_data(seed, os.path.join(in_dir, "job_data"), size["jobs"], size["runs_per_job"])
        reqs = gen.api_requests(seed, size["pool"], 5000, list(range(1, size["jobs"] + 1)))
        json.dump(reqs, open(os.path.join(in_dir, "api.json"), "w"))
    else:
        gen.tables(seed, size["suite_sf"], data)
        json.dump(gen.suite(seed), open(os.path.join(in_dir, "queries.json"), "w"))


def duckdb_check(result, data_dir, plant):
    """Row counts of the oracle-bearing queries against DuckDB running
    each query's oracle SQL over the same parquet files."""
    import duckdb
    con = duckdb.connect()
    for t in gen.ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    oracle = result["details"].get("oracle", {})
    for i, (name, o) in enumerate(sorted(oracle.items())):
        result["attempted"] += 1
        try:
            want = con.execute(f"SELECT count(*) FROM ({o['sql']})").fetchone()[0]
        except Exception as e:  # an oracle that does not run is a failed check
            result["mismatches"].append(f"{name}: oracle SQL failed in DuckDB: {e}")
            continue
        planted = plant and i == 0
        if planted:
            want += 1
        if want != o["rows"]:
            result["mismatches"].append(f"{name}: Spark returned {o['rows']} rows, DuckDB {want}"
                                        + (" (planted)" if planted else ""))


def run_one(workload, seed, seconds, trace, tiny=False, plant=False):
    """Run one workload; return the checked result dict. `tiny` shrinks
    every input and `plant` plants one wrong expected value in each
    check, which must then fail; only the self-check sets them."""
    root = os.getcwd()
    t0 = time.time()
    cp = build.build()
    t1 = time.time()
    run_dir = os.path.join(root, ".bench_build", "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(os.path.join(out_dir, "tmp"))
    make_inputs(workload, seed, tiny, in_dir)
    t2 = time.time()
    # Spark's scratch space stays inside the run directory
    env = dict(os.environ, PERFBENCH_PLANT="1" if plant else "0",
               SPARK_LOCAL_DIRS=os.path.join(out_dir, "spark-local"))
    cmd = (["java", "-Xss16m", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={out_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + JAVA_OPENS + ["-cp", cp, "perfbench.Main", workload, in_dir, out_dir,
                           str(seconds), "1" if trace else "0"])
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=out_dir, stdout=log, stderr=subprocess.STDOUT, env=env)
    try:
        code = proc.wait(timeout=160)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = "timeout"
    log.close()
    t3 = time.time()
    try:
        result = json.load(open(os.path.join(out_dir, "result.json")))
    except (OSError, ValueError):
        result = {"attempted": 0, "failed": 0, "mismatches": [], "metrics": {}, "details": {}}
    if "oracle" in result["details"]:
        duckdb_check(result, os.path.join(in_dir, "data"), plant)
    if code != 0:
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-2000:]
        result["mismatches"].append(f"harness exited with {code}: {tail}")
    result["failed"] = len(result["mismatches"])
    print(f"{workload} timing: build {t1 - t0:.1f} s, inputs {t2 - t1:.1f} s, "
          f"harness {t3 - t2:.1f} s, checks {time.time() - t3:.1f} s", file=sys.stderr)
    # keep the trace, the per-query detail and the result; drop the data
    keep = os.path.join(root, ".bench_build", "traces", f"{workload}-{seed}-t{int(trace)}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for f in ("spans.jsonl", "query_detail.jsonl", "result.json"):
        if os.path.exists(os.path.join(out_dir, f)):
            shutil.copy(os.path.join(out_dir, f), keep)
    shutil.copy(os.path.join(run_dir, "jvm.log"), keep)
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def report(workload, result):
    for name, m in result["metrics"].items():
        print(f"{workload} {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    for mm in result["mismatches"][:20]:
        print(f"{workload} MISMATCH {mm}")
    att = max(result["attempted"], 1)
    print(f"{workload} failed_ops_ratio = {result['failed'] / att:.6g} ratio "
          f"(n={result['attempted']})")


def final_metrics(workload, result, trace):
    ms = result["metrics"]
    if trace:
        return {n: {"value": ms[n]["value"] if n in ms else 0.0,
                    "unit": ms[n]["unit"] if n in ms else unit_of(n)} for n in PER_LAYER}
    out = {}
    for name, (unit, src) in END_TO_END.items():
        m = ms.get(src[workload] if src else name)
        out[name] = {"value": m["value"] if m else 0.0, "unit": unit}
    return out


def unit_of(name):
    for suffix, unit in (("_us", "us"), ("_ms", "ms"), ("_ms_per_op", "ms"), ("_per_s", "1/s"),
                         ("_s", "s"), ("bytes_per_op", "bytes"), ("_share", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def run_all(seed, seconds):
    wrong = False
    merged = {}
    for w in WORKLOADS:
        r = run_one(w, seed, seconds, trace=False)
        report(w, r)
        wrong |= r["failed"] > 0 or r["attempted"] < 1
        for name, unit in NAMED_METRICS:
            m = r["metrics"].get(name)
            if name == "failed_ops_ratio":
                m = {"value": r["failed"] / max(r["attempted"], 1), "n": r["attempted"]}
            if m:
                merged[f"{w}.{name}"] = (m["value"], unit, m["n"])
    print("-- end-to-end metrics --")
    for name, unit in NAMED_METRICS:
        for w in WORKLOADS:
            if f"{w}.{name}" in merged:
                v, u, n = merged[f"{w}.{name}"]
                print(f"{name} [{w}] = {v:.6g} {u} (n={n})")
    return 1 if wrong else 0


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = p.parse_args()
    if a.workload == "all":
        sys.exit(run_all(a.seed, a.seconds))
    t0 = time.time()
    r = run_one(a.workload, a.seed, a.seconds, bool(a.trace))
    report(a.workload, r)
    print(f"{a.workload} wall_s = {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": r["failed"] == 0 and r["attempted"] >= 1,
                      "attempted": max(int(r["attempted"]), 1), "failed": int(r["failed"]),
                      "metrics": final_metrics(a.workload, r, bool(a.trace))}))


if __name__ == "__main__":
    main()
