"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload pyworker --seed 1 --seconds 8 --trace 0

A closed loop with one client: this one driver process runs one query
at a time on local[CPUS] over generated sf0.1 tables. The seed shuffles
the order of the workload's pinned sample (families.json; README.md
says why the sample is pinned). After the untimed warm-up
passes, each timed pass builds every sampled query's frame, plans it and
executes it to its full result with `queryExecution().toRdd().count()`.
Each result's digest is then checked against its pin, outside the timed
region, and the run's scratch directory is emptied.

`--trace 0` reports the end-to-end metrics. `--trace 1` interleaves
untraced and traced passes and reports the per-layer metrics (layers.py).
Every metric is printed with its unit and sample count; the last line
of stdout is the JSON result. Per-query detail and the run's
self-description (and, when tracing, the spans) go to
perfbench/.work/runs/.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import platform
import random
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import stats  # noqa: E402

FAMILIES = os.path.join(HERE, "families.json")
WORK = os.path.join(HERE, ".work")
# Untimed passes before the timed ones, the same on every run; chosen
# from the drift measurement in results/drift.json within the time a run
# may take (README.md).
WARM_PASSES = 1
# Session set-ups per run behind setup_s, each on the JVM the run's
# first (cold) start launched; README.md says why they are not cold.
SETUPS = 3
MIN_PASSES, MAX_PASSES = 3, 12
END_TO_END = {  # name -> unit
    "setup_s": "s", "suite_s": "s", "query_geomean_s": "s",
    "cpu_s": "s", "ok_ratio": "ratio",
}
PER_LAYER = {  # name -> unit; summed over the sample, median over passes
    "session.start_s": "s", "session.warmup_s": "s", "session.cold_start_s": "s",
    "session.peak_rss_mb": "MB",
    "workload.build_s": "s", "workload.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.plan_nodes": "count",
    "catalyst.exchanges": "count",
    "jvm_exec.exec_s": "s", "jvm_exec.jobs": "count", "jvm_exec.stages": "count",
    "jvm_exec.tasks": "count", "jvm_exec.failed_tasks": "count",
    "jvm_exec.shuffle_bytes": "bytes", "jvm_exec.spill_bytes": "bytes",
    "sources.scan_files": "count", "sources.scan_bytes": "bytes",
    "sources.scan_time_s": "s",
    "pyworker.boot_s": "s", "pyworker.init_s": "s", "pyworker.compute_s": "s",
    "pyworker.arrow_bytes_sent": "bytes", "pyworker.arrow_bytes_received": "bytes",
    "streaming.drain_s": "s", "streaming.batches": "count",
    "streaming.no_data_batches": "count", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.state_commit_s": "s",
    "streaming.state_rows": "count", "streaming.bytes_written": "bytes",
    "verify.digest_s": "s", "trace.overhead_s": "s",
}
# Per-layer metrics read from each traced execution's own record.
FROM_RECORD = {"workload.build_s": "build_s", "jvm_exec.exec_s": "exec_s",
               "verify.digest_s": "digest_s",
               "streaming.bytes_written": "bytes_written"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--smoke", action="store_true",
                   help="run the workload's one smoke query at sf0.001")
    p.add_argument("--warm", type=int, default=WARM_PASSES,
                   help="untimed passes (the drift study sets 0)")
    p.add_argument("--setups", type=int, default=SETUPS,
                   help="session set-ups behind setup_s, after the cold start")
    p.add_argument("--passes", type=int, default=0,
                   help="timed passes; 0 derives them from --seconds")
    return p.parse_args(argv)


def sample(family: dict, seed: int) -> list[str]:
    """The family's pinned sample, in a seed-shuffled order."""
    picked = list(family["sample"])
    random.Random(seed).shuffle(picked)
    return picked


def pass_count(costs: list[float], seconds: float) -> int:
    """Timed passes that fill `seconds` at the pinned per-query costs.
    Derived from the pins, not the clock, so every run of a seed does
    the same work however fast the code under test is."""
    return max(MIN_PASSES, min(MAX_PASSES, math.floor(seconds / sum(costs))))


def setup_seconds(pre_s: float, starts: list[tuple[float, float]]) -> float:
    """setup_s: the time from process start to the first session call
    (interpreter, benchmark and package imports, paid once) plus the
    median over the session set-ups of get_spark and the warm-up job."""
    return pre_s + stats.median([a + b for a, b in starts])


def source_sha() -> str:
    """Hash of the package's sources: names the code without git."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(os.path.join(harness.ROOT, harness.PACKAGE)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=harness.ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def execute(spark, fn, name: str, want: str, data_dir: str, scratch,
            tracer=None) -> dict:
    """Run one query to its full result and check its digest. A failure
    or a wrong digest is recorded, never raised, so it counts against
    ok_ratio and the run goes on."""
    from digest import frame_digest

    rec = {"query": name, "ok": False}
    outer = tracer.query(name) if tracer else contextlib.nullcontext()
    phase = tracer.phase if tracer else (lambda _: contextlib.nullcontext())
    cpu0 = harness.tree_cpu_s()
    try:
        with outer:
            try:
                df, secs = harness.run_timed(spark, fn, data_dir, tracer and tracer.phase)
            finally:
                rec["cpu_s"] = harness.tree_cpu_s() - cpu0
            rec.update(secs)
            if tracer:
                rec["counters"] = tracer.counters(df)
            t0 = time.perf_counter()
            with phase("verify"):
                got, rows = frame_digest(df)
            rec["digest_s"] = time.perf_counter() - t0
        rec["ok"] = got == want
        if not rec["ok"]:
            rec["error"] = f"digest {got} ({rows} rows) != pinned {want}"
    except Exception as e:  # noqa: BLE001 - boundary: record and go on
        rec["error"] = "".join(traceback.format_exception_only(type(e), e))[-600:]
    if tracer:
        rec["bytes_written"] = scratch.tmp_bytes()
    scratch.empty_tmp()
    return rec


def per_query(passes: list[dict], names: list[str]) -> dict[str, dict]:
    """Median and highest supported percentile of each query's time to
    full result over the given passes (successful executions only)."""
    out = {}
    for q in names:
        xs = [r["total_s"] for p in passes for r in p["records"]
              if r["query"] == q and r["ok"]]
        d = {"n": len(xs)}
        if xs:
            d["median_s"] = stats.median(xs)
            d["build_s"] = stats.median([r["build_s"] for p in passes
                                         for r in p["records"]
                                         if r["query"] == q and r["ok"]])
            top = stats.supported_percentile(xs)
            d["top_percentile"] = (None if top is None
                                   else {"p": top[0], "value_s": top[1]})
        out[q] = d
    return out


def suite(per_q: dict[str, dict]) -> float:
    return sum(d["median_s"] for d in per_q.values() if "median_s" in d)


def end_to_end(timed: list[dict], per_q: dict, setup_s: float,
               n_setups: int) -> dict:
    meds = [d["median_s"] for d in per_q.values() if "median_s" in d]
    recs = [r for p in timed for r in p["records"]]
    ok = sum(r["ok"] for r in recs)
    return {
        "setup_s": (setup_s, n_setups),
        "suite_s": (sum(meds), len(timed)),
        "query_geomean_s": (stats.geomean(meds) if meds else 0.0, len(meds)),
        "cpu_s": (stats.median([p["cpu_s"] for p in timed]), len(timed)),
        "ok_ratio": (ok / len(recs), len(recs)),
    }


def per_layer(traced: list[dict], untraced: list[dict], names: list[str],
              session: dict) -> dict:
    """Each counter summed over the sample, per-query median over the
    traced passes; session counters, as (value, samples), once per run."""
    out = dict(session)
    for metric in PER_LAYER:
        if metric in out or metric == "trace.overhead_s":
            continue
        total = 0.0
        for q in names:
            vals = [r[FROM_RECORD[metric]] if metric in FROM_RECORD
                    else r["counters"].get(metric, 0.0)
                    for p in traced for r in p["records"]
                    if r["query"] == q and "counters" in r]
            if vals:
                total += stats.median(vals)
        out[metric] = (total, len(traced))
    overhead = (suite(per_query(traced, names))
                - suite(per_query(untraced, names)))
    out["trace.overhead_s"] = (overhead, min(len(traced), len(untraced)))
    return out


def describe(spark, args, names, n_passes, warm) -> dict:
    sc = spark.sparkContext
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "queries": names, "timed_passes": n_passes,
        "warm_passes": warm, "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "nproc": len(os.sched_getaffinity(0)), "cpu_count": os.cpu_count(),
        "commit": git_commit(), "source_sha": source_sha(),
        "spark": spark.version, "python": platform.python_version(),
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "host": platform.node(),
    }


def run(args, t_proc: float) -> tuple[dict, dict]:
    with open(FAMILIES) as f:
        pins = json.load(f)
    if args.workload not in pins["families"]:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"known: {sorted(pins['families'])}")
    family = pins["families"][args.workload]
    if args.smoke:
        smoke = pins["smoke"][args.workload]
        names = [smoke["query"]]
        expected, scale = {smoke["query"]: smoke["digest"]}, smoke["scale"]
    else:
        names = sample(family, args.seed)
        expected = {q: family["members"][q]["digest"] for q in names}
        scale = pins["scale"]
    n_passes = args.passes or pass_count(
        [family["members"][q]["cost_s"] for q in names], args.seconds)
    if args.trace:  # as many untraced as traced passes
        n_passes += n_passes % 2

    harness.configure_env()
    scratch = harness.Scratch(os.path.join(WORK, "scratch"))
    scratch.export()
    spark = None
    try:
        import datagen

        t0 = time.time()
        data_dir = datagen.ensure(os.path.join(WORK, "data"), scale)
        data_s = time.time() - t0  # generates on a checkout's first run only
        # The package is imported before set-up is timed, so work moved
        # into import time counts in setup_s (through pre_s).
        from redskins_rule_spark import workload
        from redskins_rule_spark.streaming import ops

        registry = workload.queries()
        # The first start launches the JVM. Set-up is then measured
        # `--setups` times on that JVM, each stopping the session and
        # starting a new one; the last session is the one the run uses.
        pre_s = time.time() - t_proc - data_s
        spark, cold_start_s, cold_warmup_s = harness.start_session(scratch)
        starts = []
        for _ in range(args.setups):
            spark.stop()
            spark, start_s, warmup_s = harness.start_session(scratch)
            starts.append((start_s, warmup_s))
        setup_s = setup_seconds(pre_s, starts)
        scratch.empty_tmp()
        tracer = None
        if args.trace:
            import layers
            tracer = layers.Tracer(spark, ops)

        def one_pass(traced: bool) -> dict:
            t = harness.cpu_ticks()
            recs = [execute(spark, registry[q], q, expected[q], data_dir,
                            scratch, tracer if traced else None) for q in names]
            return {"records": recs, "traced": traced,
                    "cpu_s": sum(r.get("cpu_s", 0.0) for r in recs),
                    "wall_s": sum(r.get("total_s", 0.0) for r in recs),
                    "steal_pct": harness.steal_pct(t, harness.cpu_ticks())}

        for _ in range(args.warm):  # untimed and unchecked
            for q in names:
                try:
                    harness.run_timed(spark, registry[q], data_dir)
                except Exception:  # noqa: BLE001 - the timed passes record it
                    pass
                scratch.empty_tmp()
        # Traced passes in the order untraced, traced, traced, untraced,
        # so the warm-up still under way falls on both kinds alike.
        timed = [one_pass(args.trace == 1 and i % 4 in (1, 2)) for i in range(n_passes)]
        desc = describe(spark, args, names, n_passes, args.warm)
        untraced = [p for p in timed if not p["traced"]]
        traced = [p for p in timed if p["traced"]]
        per_q = per_query(untraced, names)
        if args.trace:
            session = {
                "session.start_s": (stats.median([a for a, _ in starts]), len(starts)),
                "session.warmup_s": (stats.median([b for _, b in starts]), len(starts)),
                "session.cold_start_s": (cold_start_s + cold_warmup_s, 1),
                "session.peak_rss_mb": (harness.tree_peak_rss_mb(), 1)}
            metrics = per_layer(traced, untraced, names, session)
        else:
            metrics = end_to_end(untraced, per_q, setup_s, len(starts))
        detail = {"describe": desc, "setup_s": setup_s, "pre_session_s": pre_s,
                  "data_s": data_s,
                  "cold_start": {"start_s": cold_start_s, "warmup_s": cold_warmup_s},
                  "session_starts": [{"start_s": a, "warmup_s": b} for a, b in starts],
                  "per_query": per_q,
                  "passes": [{k: v for k, v in p.items() if k != "records"}
                             | {"queries": {r["query"]: {
                                 k: v for k, v in r.items() if k != "query"}
                                 for r in p["records"]}} for p in timed],
                  "metrics": {k: {"value": v, "samples": n}
                              for k, (v, n) in metrics.items()}}
        if tracer:
            detail["spans"] = span_report(tracer.spans.rows)
        recs = [r for p in timed for r in p["records"]]
        return metrics, detail | {"attempted": len(recs),
                                  "failed": sum(not r["ok"] for r in recs)}
    finally:
        harness.stop_session(spark)
        scratch.close()


def span_report(rows: list[dict]) -> dict:
    import layers

    selfs = layers.self_times(rows)
    by_name: dict[str, float] = {}
    for r in rows:
        by_name[r["name"]] = by_name.get(r["name"], 0.0) + selfs[r["id"]]
    return {"self_s_by_name": by_name,
            "spans": [r | {"self_s": selfs[r["id"]]} for r in rows]}


def main(argv=None) -> int:
    t_proc = harness.process_start_epoch()
    # A terminated run still stops Spark and removes its scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    if not harness.package_present():
        print(f"perfbench: package {harness.PACKAGE!r} not found under "
              f"{harness.ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    metrics, detail = run(args, t_proc)
    units = PER_LAYER if args.trace else END_TO_END
    for name, (value, n) in metrics.items():
        print(f"{name:32s} {value:16.6f} {units[name]:6s} n={n}")
    bad = [f"{q}: {r.get('error')}" for p in detail["passes"]
           for q, r in p["queries"].items() if not r["ok"]]
    for line in sorted(set(bad)):
        print("FAILED", line)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(WORK, "runs", tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    result = {
        "correct": detail["failed"] == 0,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, (v, _) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
