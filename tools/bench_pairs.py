#!/usr/bin/env python3
"""Matched benchmark pairs between two checkouts.

    python3 tools/bench_pairs.py <parent_dir> <change_dir> <workload> <seeds...>

For each seed, runs `python3 perfbench/run.py --workload <workload> --seed
<seed>` once in each checkout, alternating which side goes first: the parent
runs first on odd pairs (1st, 3rd, ...), the change on even ones. Each run
prints one line: its side, seed, `correct`, the harness wall time (`wall_s`,
which run.py prints on stderr), the host's CPU steal during the run (jiffies,
from /proc/stat) and its end-to-end metrics. At the end, for each end-to-end
metric of BENCHMARK.json: the median and quartiles of each side, the number
of pairs the change won, and whether the medians differ by more than the
parent's interquartile range.

Nothing under either checkout's perfbench/ is edited; run.py writes its build
and traces under each checkout's .bench_build/. Exits 1 if any run was not
`correct`.
"""
import json
import os
import re
import statistics
import subprocess
import sys


def steal_jiffies():
    """Jiffies the host has stolen from this machine's CPUs so far."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) if fields[0] == "cpu" and len(fields) > 8 else 0
    except OSError:
        return 0


def run(checkout, workload, seed):
    """One run.py call: (correct, wall_s, steal, metrics)."""
    before = steal_jiffies()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed)],
                       cwd=checkout, capture_output=True, text=True)
    steal = steal_jiffies() - before
    wall = re.search(r"wall_s = ([0-9.]+) s", p.stderr)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    try:
        last = json.loads(lines[-1])
    except (IndexError, ValueError):
        last = {"correct": False, "metrics": {}}
    if not last.get("correct"):
        sys.stderr.write(f"--- {checkout} seed {seed} (exit {p.returncode}) ---\n"
                         + "\n".join(p.stdout.splitlines()[-20:]) + "\n"
                         + "\n".join(p.stderr.splitlines()[-20:]) + "\n")
    metrics = {k: v["value"] for k, v in last.get("metrics", {}).items()}
    return bool(last.get("correct")), float(wall.group(1)) if wall else float("nan"), \
        steal, metrics


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    if len(sys.argv) < 5:
        sys.exit(__doc__)
    parent, change, workload = (os.path.abspath(sys.argv[1]), os.path.abspath(sys.argv[2]),
                                sys.argv[3])
    seeds = [int(s) for s in sys.argv[4:]]
    with open(os.path.join(change, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    sides = {"parent": parent, "change": change}
    results = {"parent": [], "change": []}
    all_correct = True
    for i, seed in enumerate(seeds, start=1):
        order = ["parent", "change"] if i % 2 == 1 else ["change", "parent"]
        for side in order:
            correct, wall, steal, metrics = run(sides[side], workload, seed)
            all_correct &= correct
            results[side].append(metrics)
            shown = " ".join(f"{k}={v:.6g}" for k, v in sorted(metrics.items()))
            print(f"pair {i} {side:6} seed {seed} correct={correct} wall_s={wall:.1f} "
                  f"steal={steal} {shown}", flush=True)
    print(f"-- {workload}, {len(seeds)} pairs: median [q1, q3] --")
    for name, direction in better.items():
        p = [r.get(name, float("nan")) for r in results["parent"]]
        c = [r.get(name, float("nan")) for r in results["change"]]
        won = sum(1 for a, b in zip(p, c) if (b < a if direction == "lower" else b > a))
        pq, cq = quartiles(p), quartiles(c)
        gap = abs(cq[1] - pq[1])
        print(f"{name}: parent {pq[1]:.6g} [{pq[0]:.6g}, {pq[2]:.6g}]  "
              f"change {cq[1]:.6g} [{cq[0]:.6g}, {cq[2]:.6g}]  "
              f"change/parent {cq[1] / pq[1] if pq[1] else float('nan'):.3f}  "
              f"change won {won}/{len(seeds)}  "
              f"median gap {gap:.6g} {'>' if gap > pq[2] - pq[0] else '<='} "
              f"parent IQR {pq[2] - pq[0]:.6g}")
    sys.exit(0 if all_correct else 1)


if __name__ == "__main__":
    main()
