"""Outside-in layer trace: spans around calls into each layer, plus the
counters Spark publishes at the same boundaries.

Nothing here changes what the engine does. Spans come from the
benchmark's own calls (`workload.queries()[q](...)`, the executed plan,
`toRdd().count()`, the digest check) and from wrappers placed on the
module attributes `streaming.ops.run_*` (the AvailableNow drains), which
the queries import at call time. Counters come from Spark's public surfaces: job
groups in `statusTracker`, `queryExecution().tracker().phases()`, the
SQL metrics of the final adaptive plan, and a `StreamingQueryListener`.
Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

# SQL metric name -> per-layer counter (summed over the final plan).
SQL_METRICS = {
    "shuffleBytesWritten": "jvm_exec.shuffle_bytes",
    "spillSize": "jvm_exec.spill_bytes",
    "numFiles": "sources.scan_files",
    "filesSize": "sources.scan_bytes",
    "scanTime": "sources.scan_time_s",
    "pythonBootTime": "pyworker.boot_s",
    "pythonInitTime": "pyworker.init_s",
    "pythonTotalTime": "pyworker.compute_s",
    "pythonDataSent": "pyworker.arrow_bytes_sent",
    "pythonDataReceived": "pyworker.arrow_bytes_received",
}
# Seconds per unit of each SQL metric type that holds a time.
TIME_UNITS = {"timing": 1e-3, "nsTiming": 1e-9}
EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec")
STAGE_WRAPPERS = ("ShuffleQueryStageExec", "BroadcastQueryStageExec",
                  "TableCacheQueryStageExec", "ResultQueryStageExec")
# The drain entry points of streaming.ops: run_available_now*,
# run_incremental_view and run_incremental_sketch_view.
DRAIN_PREFIX = "run_"


class Spans:
    """In-memory span log: (id, name, start, end, parent, query)."""

    def __init__(self):
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, query: str | None = None):
        sid = len(self.rows)
        parent = self._stack[-1] if self._stack else None
        if query is None and parent is not None:
            query = self.rows[parent]["query"]
        row = {"id": sid, "name": name, "parent": parent, "query": query,
               "start": time.perf_counter(), "end": None}
        self.rows.append(row)
        self._stack.append(sid)
        try:
            yield row
        finally:
            row["end"] = time.perf_counter()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children may overlap one another)."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids[s["id"]])
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class StreamCounters(StreamingQueryListener):
    """Collects progress of every streaming run the session executes."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: set[str] = set()
        self.ended: set[str] = set()
        self.progress: dict[str, list] = defaultdict(list)

    def onQueryStarted(self, event):
        with self.lock:
            self.started.add(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.progress[str(p.runId)].append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.ended.add(str(event.runId))

    def take(self, timeout: float = 10.0) -> tuple[list[str], dict[str, float]]:
        """Wait for every started run's termination event, then return
        (run ids, counters) and forget them."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                if self.started <= self.ended:
                    break
            time.sleep(0.01)
        with self.lock:
            runs = sorted(self.started | set(self.progress))
            progress = dict(self.progress)
            self.started, self.ended = set(), set()
            self.progress = defaultdict(list)
        c = defaultdict(float)
        for run in runs:
            events = progress.get(run, [])
            for p in events:
                d = p.durationMs or {}
                c["streaming.batches"] += 1
                c["streaming.no_data_batches"] += p.numInputRows == 0
                c["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                c["streaming.wal_commit_s"] += (
                    d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
                for op in p.stateOperators or []:
                    c["streaming.state_commit_s"] += op.commitTimeMs / 1e3
            if events:
                c["streaming.state_rows"] += sum(
                    op.numRowsTotal for op in events[-1].stateOperators or [])
        return runs, dict(c)


@contextlib.contextmanager
def wrap_drains(ops_module, spans: Spans, drain_time: list[float]):
    """Time every call into the drain functions `ops_module.run_*`,
    counting a nested call only once, and restore the originals on exit."""
    originals = {n: getattr(ops_module, n) for n in dir(ops_module)
                 if n.startswith(DRAIN_PREFIX) and callable(getattr(ops_module, n))}
    depth = [0]

    def wrap(fn):
        @functools.wraps(fn)
        def timed(*a, **kw):
            if depth[0]:
                return fn(*a, **kw)
            depth[0] += 1
            t0 = time.perf_counter()
            try:
                with spans.span("streaming.drain"):
                    return fn(*a, **kw)
            finally:
                drain_time[0] += time.perf_counter() - t0
                depth[0] -= 1
        return timed

    for n, fn in originals.items():
        setattr(ops_module, n, wrap(fn))
    try:
        yield
    finally:
        for n, fn in originals.items():
            setattr(ops_module, n, fn)


def job_counts(sc, groups: list[str]) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of the given job groups."""
    st = sc.statusTracker()
    c = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            c["jobs"] += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                s = st.getStageInfo(sid)
                if s is None:
                    continue
                c["stages"] += 1
                c["tasks"] += s.numTasks
                c["failed_tasks"] += s.numFailedTasks
    return c


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def plan_counters(qe) -> dict[str, float]:
    """Catalyst phase times and final-plan node, exchange and SQL-metric
    totals of an executed QueryExecution."""
    c: dict[str, float] = defaultdict(float)
    phases = qe.tracker().phases()
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            c[f"catalyst.{ph}_s"] += opt.get().durationMs() / 1e3
    root = qe.executedPlan()
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        root = root.executedPlan()
    todo = [root]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind.startswith("Reused"):
            continue  # its exchange is counted where it first ran
        if kind in STAGE_WRAPPERS:
            todo.append(node.plan())
            continue
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        c["catalyst.plan_nodes"] += 1
        c["catalyst.exchanges"] += kind in EXCHANGES
        for kv in _seq(node.metrics().toSeq()):
            name = kv._1()
            if name not in SQL_METRICS:
                continue
            m = kv._2()
            v = max(0, m.value())
            c[SQL_METRICS[name]] += v * TIME_UNITS.get(m.metricType(), 1)
        todo.extend(_seq(node.children()))
        todo.extend(_seq(node.subqueries()))
    return dict(c)


class Tracer:
    """Hooks for one traced query at a time: `query(name)` opens the
    root span, `phase(name)` wraps each step inside it (and is what
    `harness.run_timed` calls), `counters(df)` reads the layer counters
    once the result has been produced."""

    def __init__(self, spark, ops_module):
        self.spark, self.sc, self.ops = spark, spark.sparkContext, ops_module
        self.spans = Spans()
        self.streams = StreamCounters()
        self._n = 0
        self._cur: dict = {}

    @contextlib.contextmanager
    def query(self, name: str):
        self._n += 1
        self._cur = {"query": name, "group": f"perfbench-{self._n}",
                     "drain": [0.0]}
        # Listen only while a traced query runs, so untraced passes pay
        # nothing and leave no events behind.
        self.spark.streams.addListener(self.streams)
        try:
            with self.spans.span("query", name) as row:
                yield row
        finally:
            self.streams.take()
            self.spark.streams.removeListener(self.streams)
            self.sc._jsc.clearJobGroup()

    @contextlib.contextmanager
    def phase(self, name: str):
        cur = self._cur
        self.sc.setJobGroup(f"{cur['group']}/{name}", cur["query"])
        with self.spans.span(name, cur["query"]):
            if name == "workload.build":
                with wrap_drains(self.ops, self.spans, cur["drain"]):
                    yield
            else:
                yield

    def counters(self, df) -> dict[str, float]:
        cur = self._cur
        runs, c = self.streams.take()
        g = cur["group"]
        c["workload.build_jobs"] = job_counts(
            self.sc, [f"{g}/workload.build", *runs])["jobs"]
        ex = job_counts(self.sc, [f"{g}/catalyst.plan", f"{g}/jvm_exec.execute"])
        for k, v in ex.items():
            c[f"jvm_exec.{k}"] = v
        c.update(plan_counters(df._jdf.queryExecution()))
        c["streaming.drain_s"] = cur["drain"][0]
        return c
