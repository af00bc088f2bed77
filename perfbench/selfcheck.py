"""Fast self-check of the benchmark itself.

    python3 perfbench/selfcheck.py

Runs every workload on tiny inputs (sf0.001, four cohort and four hourly
monitors, seven distinct requests) three times: plainly, where the
outputs must check out and every end-to-end metric must print with its
unit; traced, where the outputs must check out too; and with one wrong
expected value planted in each check, where each planted value must be
among the failures and nothing may crash. Every per-layer metric must
be measured by some workload, and BENCHMARK.json must name the metrics
`run.py` reports.
Exits non-zero on the first problem.
"""
import json
import os
import sys

sys.dont_write_bytecode = True  # the benchmark writes only under .bench_build
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


# Per workload, a phrase of each check's mismatch message; the planted
# run must fail every one of these checks on its planted value.
PLANTED = {
    "monitor_loop": ["loop status", "job_data"],
    "api_edge": ["body differs"],
    "query_suite": ["DuckDB"],
}


def fail(msg):
    print(f"selfcheck FAILED: {msg}")
    sys.exit(1)


def main():
    bench = json.load(open("BENCHMARK.json"))
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    if e2e != {n: u for n, (u, _) in run.END_TO_END.items()}:
        fail(f"BENCHMARK.json end_to_end {e2e} differs from run.py")
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if layers != {n: run.unit_of(n) for n in run.PER_LAYER}:
        fail("BENCHMARK.json per_layer differs from run.py")
    if not {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS):
        fail("BENCHMARK.json names a workload run.py does not have")

    printed, layered = set(), set()
    for w in run.WORKLOADS:
        r = run.run_one(w, seed=7, seconds=2, trace=False, tiny=True)
        run.report(w, r)
        if r["failed"] or r["attempted"] < 1:
            fail(f"{w}: tiny run is not correct: {r['mismatches'][:3]}")
        final = run.final_metrics(w, r, trace=False)
        for name, unit in e2e.items():
            if final[name]["unit"] != unit or final[name]["value"] <= 0:
                fail(f"{w}: end-to-end metric {name} missing or not positive: {final[name]}")
        printed |= {n for n, m in r["metrics"].items() if m.get("unit")}

        t = run.run_one(w, seed=7, seconds=2, trace=True, tiny=True)
        if t["failed"] or t["attempted"] < 1:
            fail(f"{w}: traced tiny run is not correct: {t['mismatches'][:3]}")
        layered |= set(t["metrics"])

        p = run.run_one(w, seed=7, seconds=2, trace=False, tiny=True, plant=True)
        for check in PLANTED[w]:
            if not any(check in m and "planted" in m for m in p["mismatches"]):
                fail(f"{w}: the planted wrong value in the '{check}' check was not caught: "
                     f"{p['mismatches'][:3]}")
        crashed = [m for m in p["mismatches"] if m.startswith(("crash", "harness exited"))]
        if crashed:
            fail(f"{w}: the planted run crashed: {crashed[0][:300]}")
        print(f"selfcheck {w}: ok ({r['attempted']} checked; planted values caught: "
              f"{[m[:100] for m in p['mismatches'] if 'planted' in m]})")

    named = {n for n, _ in run.NAMED_METRICS} - {"failed_ops_ratio"}
    if not named <= printed:
        fail(f"end-to-end metrics never printed: {sorted(named - printed)}")
    if not set(run.PER_LAYER) <= layered:
        fail(f"per-layer metrics no workload measures: {sorted(set(run.PER_LAYER) - layered)}")
    print("selfcheck passed")


if __name__ == "__main__":
    main()
