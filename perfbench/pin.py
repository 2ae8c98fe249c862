"""Pin the benchmark's query families and expected digests.

Runs every registered query on the generated sf0.1 tables, twice in one
session, and writes `results/survey.json`: each query's family, its
Python operators, its digest and row count per pass, and its build,
plan and execution seconds. With `--oracle` it also compares each
digest with the query's DuckDB oracle wherever `workload.oracle_bounds()`
admits the tables. `write` turns the survey into `families.json`, and
`smoke` pins one query per family at sf0.001 for the smoke test.

The family of a query is decided here once, from its executed plan, and
committed. The benchmark never recomputes it, so a later change that
turns a Python UDF into a native expression does not move a query from
one workload to another.

    python3 perfbench/pin.py survey [--oracle] [query ...]
    python3 perfbench/pin.py write
    python3 perfbench/pin.py smoke
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import harness  # noqa: E402
from digest import digest, frame_digest  # noqa: E402

SURVEY = os.path.join(HERE, "results", "survey.json")
FAMILIES = os.path.join(HERE, "families.json")
WORK = os.path.join(HERE, ".work")
# The streaming replays: AvailableNow drains that write landing files,
# offset and commit logs and state inside frame construction.
STREAM_REPLAYS = (
    "q164_stream_mv_replay", "q173_stream_sketch_replay",
    "q183_stream_restart", "q193_stream_dedup_replay",
    "q196_stream_cdc_replay", "q197_stream_pit_replay",
    "q198_stream_totals_replay", "q199_stream_join_replay",
    "q211_stream_session_replay", "q233_stream_hll_replay",
)
PASSES = 2
SMOKE_SCALE = 0.01  # sf0.001
# The queries a run of each workload executes, in a seed-chosen order.
# A run must fit a cold session start, the first pass on a fresh JVM
# (4-5 times a steady pass), a second warm-up pass and three timed
# passes into about 40 s on 4 cores, so a pass holds 2-4 s of queries.
# pyworker: one media decode (the family's 52-query majority) and one
# text dedup query; stream_replay: the cheapest stateful replay (a dedup
# replay, which writes landing files, offset and commit logs and the
# state store); relational (pinned, not in BENCHMARK.json): a cheap, a
# middling and a costlier query.
SAMPLES = {
    "pyworker": ["q214_aac_sce", "q92_intradoc_dedup"],
    "stream_replay": ["q193_stream_dedup_replay"],
    "relational": ["q74_packing_quantized", "q55_exists_priority",
                   "q27_sessionization"],
}
# Every execution's result is collected to the driver to check its
# digest; a query returning more rows would spend longer being checked
# than being run, so it may not be sampled.
MAX_SAMPLED_ROWS = 100_000


def _oracle(spark, data_dir: str, names: list[str], found: dict) -> None:
    import duckdb
    from redskins_rule_spark import workload

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t + '.parquet')}'")
    sqls, bounds = workload.oracles(), workload.oracle_bounds()
    for name in names:
        if name not in sqls:
            continue
        rec = found[name]
        reason = bounds[name](spark, data_dir) if name in bounds else None
        if reason is not None:
            rec["oracle"] = {"status": "out_of_bounds", "reason": reason}
            continue
        try:
            rel = con.sql(sqls[name])
            d = digest(rel.columns, rel.fetchall())
        except Exception as e:  # noqa: BLE001 - record and go on
            rec["oracle"] = {"status": "oracle_error", "error": str(e)[:300]}
            continue
        agree = d == rec["passes"][0].get("digest")
        rec["oracle"] = {"status": "agree" if agree else "disagree",
                         "digest": d}


def survey(only: list[str], oracle: bool) -> None:
    harness.configure_env()
    scratch = harness.Scratch(os.path.join(WORK, "scratch"))
    scratch.export()
    data_dir = datagen.ensure(os.path.join(WORK, "data"))
    spark = harness.start_session(scratch, "perfbench-pin")[0]
    from redskins_rule_spark import workload

    registry = workload.queries()
    names = only or list(registry)
    found = {n: {"passes": []} for n in names}
    try:
        for p in range(PASSES):
            for name in names:
                rec = found[name]
                entry: dict = {}
                try:
                    df, secs = harness.run_timed(spark, registry[name], data_dir)
                    entry.update({k: round(v, 4) for k, v in secs.items()})
                    if p == 0:
                        plan = df._jdf.queryExecution().executedPlan().toString()
                        rec["python_ops"] = harness.python_operators(plan)
                    entry["digest"], entry["rows"] = frame_digest(df)
                except Exception as e:  # noqa: BLE001 - record and go on
                    entry["error"] = "".join(
                        traceback.format_exception_only(type(e), e))[-400:]
                entry["tmp_bytes"] = scratch.tmp_bytes()
                scratch.empty_tmp()
                rec["passes"].append(entry)
                print(p, name, entry.get("total_s"), entry.get("rows"),
                      entry.get("error", "")[:120], flush=True)
        if oracle:
            _oracle(spark, data_dir, names, found)
    finally:
        harness.stop_session(spark)
        scratch.close()
    for name, rec in found.items():
        rec["family"] = ("stream_replay" if name in STREAM_REPLAYS
                         else "pyworker" if rec.get("python_ops")
                         else "relational")
    old = {}
    if only and os.path.exists(SURVEY):
        with open(SURVEY) as f:
            old = json.load(f)["queries"]
    os.makedirs(os.path.dirname(SURVEY), exist_ok=True)
    with open(SURVEY, "w") as f:
        json.dump({"generated": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                   "cpus": harness.CPUS, "data": os.path.basename(data_dir),
                   "queries": old | found}, f, indent=1, sort_keys=True)


def write() -> None:
    """families.json from the survey: every member with its pinned
    digest, row count and cost (the survey's second pass), and each
    family's sample. A query that failed or whose two digests differ is
    pinned with its first digest and flagged, but stays in its family;
    it may not be sampled."""
    with open(SURVEY) as f:
        sv = json.load(f)
    fams: dict[str, dict] = {}
    for name, rec in sorted(sv["queries"].items()):
        first, last = rec["passes"][0], rec["passes"][-1]
        m = {"digest": first.get("digest"), "rows": first.get("rows"),
             "cost_s": last.get("total_s")}
        if "error" in first or "error" in last:
            m["flag"] = "error"
        elif first["digest"] != last["digest"]:
            m["flag"] = "unstable_digest"
        fams.setdefault(rec["family"], {"members": {}})["members"][name] = m
    for fam, names in SAMPLES.items():
        members = fams[fam]["members"]
        for q in names:
            if "flag" in members[q] or members[q]["rows"] > MAX_SAMPLED_ROWS:
                raise SystemExit(f"{q} may not be sampled: {members[q]}")
        fams[fam]["sample"] = names
    out = {"data": sv["data"], "scale": 1.0, "cpus": sv["cpus"],
           "surveyed": sv["generated"], "families": fams}
    if os.path.exists(FAMILIES):
        with open(FAMILIES) as f:
            out["smoke"] = json.load(f).get("smoke", {})
    with open(FAMILIES, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)


def smoke() -> None:
    """Pin one query per family at sf0.001 for the smoke test: the
    family's cheapest member without a flag, run twice to check that its
    digest repeats."""
    with open(FAMILIES) as f:
        pins = json.load(f)
    harness.configure_env()
    scratch = harness.Scratch(os.path.join(WORK, "scratch"))
    scratch.export()
    data_dir = datagen.ensure(os.path.join(WORK, "data"), SMOKE_SCALE)
    spark = harness.start_session(scratch, "perfbench-pin")[0]
    from redskins_rule_spark import workload

    registry = workload.queries()
    out = {}
    try:
        for fam, d in pins["families"].items():
            ok = {q: m["cost_s"] for q, m in d["members"].items() if "flag" not in m}
            name = min(ok, key=ok.get)
            digests = set()
            for _ in range(2):
                df, _secs = harness.run_timed(spark, registry[name], data_dir)
                digests.add(frame_digest(df)[0])
                scratch.empty_tmp()
            if len(digests) != 1:
                raise SystemExit(f"{name}: digest differs between runs at sf0.001")
            out[fam] = {"query": name, "scale": SMOKE_SCALE, "digest": digests.pop()}
    finally:
        harness.stop_session(spark)
        scratch.close()
    pins["smoke"] = out
    with open(FAMILIES, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    args = sys.argv[1:]
    if args[:1] == ["survey"]:
        rest = args[1:]
        survey([a for a in rest if not a.startswith("--")], "--oracle" in rest)
    elif args[:1] == ["write"]:
        write()
    elif args[:1] == ["smoke"]:
        smoke()
    else:
        sys.exit(__doc__)
