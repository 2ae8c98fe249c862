"""Repeatability check: run the benchmark over several seeds per workload
and report, for each end-to-end metric, the median and the quartile
spread ((Q3 - Q1) / median, from `statistics.quantiles(values, n=4)`)
against the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py [--seeds 1-10] [--out results/spread.json] [workload ...]

A metric passes when its spread is within a third of its bound.

    python3 perfbench/spread.py --compare results/spread_1.json results/spread_2.json

checks two such sets of runs of the same code against each other: each
metric's median in the second set may be worse than in the first by at
most its bound.
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
sys.path.insert(0, HERE)

import stats  # noqa: E402


def summarize(values: dict[str, list[float]], bounds: dict[str, float]) -> dict:
    out = {}
    for name, xs in values.items():
        spread = stats.quartile_spread(xs)
        out[name] = {"median": statistics.median(xs), "spread": spread,
                     "bound": bounds[name],
                     "ok": spread <= bounds[name] / 3,
                     "values": xs}
    return out


def compare(first: dict, second: dict, better: dict[str, str],
            bounds: dict[str, float]) -> bool:
    """Is every median of `second` within its bound of `first`'s?"""
    ok = True
    for w, d in first["workloads"].items():
        for k, m in d["metrics"].items():
            a, b = m["median"], second["workloads"][w]["metrics"][k]["median"]
            worse = (b - a) / a if better[k] == "lower" else (a - b) / a
            ok &= worse <= bounds[k]
            print(f"{w:14s} {k:16s} {a:.4f} -> {b:.4f} ({b / a:.3f}) "
                  f"{'ok' if worse <= bounds[k] else 'WORSE THAN BOUND'}")
    return ok


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out", default=None)
    p.add_argument("--compare", nargs=2, metavar="SET")
    p.add_argument("workloads", nargs="*")
    a = p.parse_args()
    if a.compare:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            e2e = json.load(f)["end_to_end"]
        sets = []
        for path in a.compare:
            with open(os.path.join(HERE, path)) as f:
                sets.append(json.load(f))
        return 0 if compare(*sets, {m["name"]: m["better"] for m in e2e},
                            {m["name"]: m["bound"] for m in e2e}) else 1
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    report = {"seeds": [seeds.start, seeds.stop - 1], "workloads": {}}
    ok = True
    for w in workloads:
        values: dict[str, list[float]] = {k: [] for k in bounds}
        walls = []
        for s in seeds:
            cmd = [*bench["command"], "--workload", w, "--seed", str(s),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                 check=True)
            walls.append(time.monotonic() - t0)
            result = json.loads(out.stdout.strip().splitlines()[-1])
            if not result["correct"]:
                ok = False
            for k in bounds:
                values[k].append(result["metrics"][k]["value"])
        summary = summarize(values, bounds)
        report["workloads"][w] = {"run_wall_s": walls, "metrics": summary}
        for k, v in summary.items():
            ok &= v["ok"]
            print(f"{w:14s} {k:16s} median={v['median']:.4f} "
                  f"spread={v['spread']:.4f} bound={v['bound']} "
                  f"{'ok' if v['ok'] else 'TOO WIDE'}")
        print(f"{w:14s} run wall: median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
    if a.out:
        with open(os.path.join(HERE, a.out), "w") as f:
            json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
