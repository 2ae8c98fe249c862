"""Compare the generated tables with a copy of the engine's sf0.1 fixtures.

The benchmark may read only its checkout, so it runs on tables that
`datagen.py` generates. This one-off check measures how far those tables
are from the fixtures they imitate and writes `results/fidelity.json`:

* per table: schema equality and row counts on both sides;
* per column: null share, distinct values, min, max and mean (numbers),
  mean length (strings) and, for free text, the vocabulary size;
* per sampled query (every family's `sample` in families.json): result
  rows, digest and the median time to full result over PASSES passes on
  each side, the two sides interleaved in one session.

    python3 perfbench/fidelity.py FIXTURES_DIR
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import harness  # noqa: E402
from digest import frame_digest  # noqa: E402

OUT = os.path.join(HERE, "results", "fidelity.json")
WORK = os.path.join(HERE, ".work")
PASSES = 3  # per side; the first is a warm-up and is not timed


def _num(v):
    if v is None:
        return None
    return v if isinstance(v, (int, float, str)) else str(v)


def column_stats(col: pa.ChunkedArray) -> dict:
    n = len(col)
    out = {"null_share": col.null_count / n if n else 0.0}
    t = col.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        lens = pc.list_value_length(col)
        out["mean_len"] = _num(pc.mean(lens).as_py())
        return out
    out["distinct"] = pc.count_distinct(col).as_py()
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        mm = pc.min_max(col).as_py()
        out |= {"min": _num(mm["min"]), "max": _num(mm["max"]),
                "mean": _num(pc.mean(col).as_py())}
    elif pa.types.is_timestamp(t) or pa.types.is_date(t):
        mm = pc.min_max(col).as_py()
        out |= {"min": _num(mm["min"]), "max": _num(mm["max"])}
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        out["mean_len"] = _num(pc.mean(pc.utf8_length(col)).as_py())
        if out["mean_len"] and out["mean_len"] > 40:
            words = pc.list_flatten(pc.utf8_split_whitespace(col))
            out["vocabulary"] = pc.count_distinct(words).as_py()
    return out


def compare_tables(gen_dir: str, fix_dir: str) -> dict:
    out = {}
    for t in datagen.TABLES:
        g = pq.read_table(os.path.join(gen_dir, f"{t}.parquet"))
        f = pq.read_table(os.path.join(fix_dir, f"{t}.parquet"))
        out[t] = {
            "schema_equal": g.schema.remove_metadata() == f.schema.remove_metadata(),
            "rows": {"generated": g.num_rows, "fixture": f.num_rows},
            "columns": {
                c: {"generated": column_stats(g[c]),
                    "fixture": column_stats(f[c]) if c in f.column_names else None}
                for c in g.column_names
            },
        }
    return out


def compare_queries(gen_dir: str, fix_dir: str) -> dict:
    with open(os.path.join(HERE, "families.json")) as f:
        fams = json.load(f)["families"]
    names = [q for fam in fams.values() for q in fam["sample"]]
    harness.configure_env()
    scratch = harness.Scratch(os.path.join(WORK, "scratch"))
    scratch.export()
    spark = harness.start_session(scratch, "perfbench-fidelity")[0]
    from redskins_rule_spark import workload

    registry = workload.queries()
    out = {}
    try:
        for q in names:
            rec = {side: {"times_s": []} for side in ("generated", "fixture")}
            for p in range(PASSES):
                for side, d in (("generated", gen_dir), ("fixture", fix_dir)):
                    df, secs = harness.run_timed(spark, registry[q], d)
                    if p:
                        rec[side]["times_s"].append(secs["total_s"])
                    else:
                        rec[side]["digest"], rec[side]["rows"] = frame_digest(df)
                    scratch.empty_tmp()
            for side in rec:
                rec[side]["median_s"] = statistics.median(rec[side]["times_s"])
            rec["time_ratio"] = (rec["generated"]["median_s"]
                                 / rec["fixture"]["median_s"])
            out[q] = rec
            print(q, rec["generated"]["rows"], rec["fixture"]["rows"],
                  round(rec["time_ratio"], 3), flush=True)
    finally:
        harness.stop_session(spark)
        scratch.close()
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        sys.exit(__doc__)
    fix_dir = argv[0]
    gen_dir = datagen.ensure(os.path.join(WORK, "data"))
    report = {"fixtures": os.path.basename(os.path.normpath(fix_dir)),
              "tables": compare_tables(gen_dir, fix_dir),
              "queries": compare_queries(gen_dir, fix_dir)}
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
