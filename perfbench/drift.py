"""Settle the number of untimed warm-up passes from a measurement.

Runs each workload of BENCHMARK.json once with no warm-up and PASSES
timed passes, and records each pass's summed time to full result, its
process-tree CPU and steal% in results/drift.json. A workload needs the
fewest warm-up passes after which the median of the next TIMED passes
(what a run reports) is within TOLERANCE of its steady state, the
median of its last three passes. run.py's WARM_PASSES is chosen from
these counts; README.md says how.

    python3 perfbench/drift.py [seed ...]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PASSES = 10
# Residual drift below this falls the same way on both sides of a
# comparison, and it is well inside the 0.25 bound on suite_s; each
# extra warm-up pass would cost a run 3-5 s of the roughly 40 s it may
# take (README.md).
TOLERANCE = 0.10
TIMED = 3  # run.MIN_PASSES, the timed passes of a run at --seconds 8


def warm_needed(walls: list[float]) -> int:
    steady = statistics.median(walls[-3:])
    n = 0
    while (n + TIMED < len(walls)
           and statistics.median(walls[n:n + TIMED]) > steady * (1 + TOLERANCE)):
        n += 1
    return n


def main() -> int:
    seeds = [int(a) for a in sys.argv[1:]] or [1]
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    out = {"passes": PASSES, "tolerance": TOLERANCE, "timed": TIMED, "runs": []}
    for seed in seeds:
        for w in workloads:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", "1", "--trace", "0",
                   "--warm", "0", "--setups", "1", "--passes", str(PASSES)]
            subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
            with open(os.path.join(HERE, ".work", "runs",
                                   f"{w}-seed{seed}-trace0.json")) as f:
                detail = json.load(f)
            walls = [p["wall_s"] for p in detail["passes"]]
            run = {
                "workload": w, "seed": seed,
                "queries": detail["describe"]["queries"],
                "pass_wall_s": walls,
                "pass_cpu_s": [p["cpu_s"] for p in detail["passes"]],
                "pass_steal_pct": [p["steal_pct"] for p in detail["passes"]],
                "warm_passes_needed": warm_needed(walls),
            }
            out["runs"].append(run)
            print(w, seed, [round(x, 3) for x in walls], run["warm_passes_needed"])
    out["most_needed"] = max(r["warm_passes_needed"] for r in out["runs"])
    with open(os.path.join(HERE, "results", "drift.json"), "w") as f:
        json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
