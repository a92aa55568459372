"""Stability record: repeat benchmark runs and summarise their spread.

    python3 perfbench/stability.py run --workload W --runs 10 --seed0 100 --out set1.json
    python3 perfbench/stability.py show set1.json [set2.json]

``run`` calls ``perfbench/run.py`` once per seed (seed0, seed0+1, ...) and
saves every run's result line. ``show`` prints, per workload and metric, the
median, the quartiles (``statistics.quantiles(n=4)``), the spread
(Q3 - Q1) / median, and with two sets the ratio of their medians; each is
checked against the metric's bound in BENCHMARK.json. It also prints the
failed share of operations of each set.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def do_run(a: argparse.Namespace) -> int:
    spec = bench_spec()
    runs = []
    for i in range(a.runs):
        seed = a.seed0 + i
        cmd = spec["command"] + ["--workload", a.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)]
        t0 = time.time()
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        runs.append({"seed": seed, "code": p.returncode, "wall_s": time.time() - t0,
                     "started": t0, "result": json.loads(line)})
        print(f"{a.workload} seed {seed}: exit {p.returncode} in {time.time() - t0:.1f} s",
              file=sys.stderr)
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "trace": a.trace, "runs": runs}, f, indent=1)
    return 0 if all(r["code"] == 0 for r in runs) else 1


def summary(runs: list[dict]) -> dict[str, list[float]]:
    vals: dict[str, list[float]] = {}
    for r in runs:
        for k, m in r["result"].get("metrics", {}).items():
            vals.setdefault(k, []).append(m["value"])
    return vals


def failed_share(runs: list[dict]) -> str:
    a = sum(r["result"].get("attempted", 0) for r in runs)
    f = sum(r["result"].get("failed", 0) for r in runs)
    return f"{f}/{a}"


def do_show(a: argparse.Namespace) -> int:
    bounds = {m["name"]: m["bound"] for m in bench_spec()["end_to_end"]}
    sets = []
    for path in a.sets:
        with open(path) as f:
            sets.append(json.load(f))
    ok = True
    print(f"workload {sets[0]['workload']}: failed " + ", ".join(failed_share(s["runs"]) for s in sets))
    print(f"{'metric':14s} {'set':>3s} {'n':>3s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
          f"{'spread':>7s} {'bound':>6s} {'ratio':>7s}")
    for name in summary(sets[0]["runs"]):
        first = None
        for i, s in enumerate(sets):
            v = summary(s["runs"]).get(name, [])
            if len(v) < 2:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            bound = bounds.get(name)
            ratio = "" if first is None else f"{med / first:7.3f}"
            flag = ""
            if bound is not None and name != "setup_s" and spread > bound:
                flag, ok = " SPREAD>BOUND", False
            if bound is not None and first is not None and med / first > 1 + bound:
                flag, ok = flag + " WORSE>BOUND", False
            print(f"{name:14s} {i + 1:3d} {len(v):3d} {med:10.4f} {q1:10.4f} {q3:10.4f} "
                  f"{spread:7.3f} {bound if bound is not None else '':>6} {ratio:>7s}{flag}")
            first = med if first is None else first
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=100)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("show")
    s.add_argument("sets", nargs="+")
    a = ap.parse_args()
    return do_run(a) if a.cmd == "run" else do_show(a)


if __name__ == "__main__":
    sys.exit(main())
