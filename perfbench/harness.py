"""Session lifecycle, run scratch space and the timed query step.

Shared by `run.py` (the benchmark), `pin.py` (pins families and
digests) and `drift.py` (settles the warm-up length), so all three start
Spark, place temporary files and time a query the same way.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "redskins_rule_spark"

# Spark's executor slots. Fixed here rather than taken from the machine,
# so one benchmark setting holds on every host (see README.md).
CPUS = 4
DRIVER_MEM = "3g"
# Physical operators that run Python workers (Arrow or pickled batches).
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow", "AggregateInPandas",
    "ArrowAggregatePython", "WindowInPandas", "ArrowWindowPython",
    "FlatMapGroupsInPandasWithState", "TransformWithStateInPandas",
    "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
)


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def process_start_epoch() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


class Scratch:
    """A directory the run owns for every temporary file it causes:
    Python's and the JVM's temp dirs, Spark's local (shuffle) dirs, the
    SQL warehouse and Derby's home. `tmp` is emptied after each query
    and the whole tree is removed by `close()`."""

    def __init__(self, parent: str):
        os.makedirs(parent, exist_ok=True)
        self._sweep(parent)
        self.root = tempfile.mkdtemp(prefix=f"run{os.getpid()}_", dir=parent)
        self.tmp = os.path.join(self.root, "tmp")
        self.local = os.path.join(self.root, "spark-local")
        for d in (self.tmp, self.local):
            os.makedirs(d)

    @staticmethod
    def _sweep(parent: str) -> None:
        """Remove directories left by runs that were killed."""
        for name in os.listdir(parent):
            pid = name[3:].split("_", 1)[0]
            if name.startswith("run") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)

    def export(self) -> None:
        """Point this process, and the JVM and workers it starts, here."""
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        tempfile.tempdir = self.tmp

    def conf(self) -> dict[str, str]:
        return {
            "spark.local.dir": self.local,
            "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={os.path.join(self.root, 'derby')} "
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
            ),
        }

    def tmp_bytes(self) -> int:
        total = 0
        for d, _, files in os.walk(self.tmp):
            for f in files:
                try:
                    total += os.lstat(os.path.join(d, f)).st_size
                except FileNotFoundError:
                    pass
        return total

    def empty_tmp(self) -> None:
        for name in os.listdir(self.tmp):
            p = os.path.join(self.tmp, name)
            if os.path.isdir(p) and not os.path.islink(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.unlink(p)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def configure_env(cpus: int = CPUS) -> None:
    """Environment the engine and its Python workers read. The package
    root goes on PYTHONPATH so workers import it from any cwd."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in paths if p != ROOT])
    # spark-submit's launcher JVM would otherwise write to /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def warmup(spark) -> None:
    """The fixed warm-up job: one trivial job with a task per executor
    slot, so a warm session has started its scheduler and task threads.
    It is kept small because each run starts a session three times;
    query-specific warming is left to the warm-up passes."""
    spark.range(0, CPUS, numPartitions=CPUS).collect()


def start_session(scratch: Scratch, app: str = "perfbench"):
    """(session, seconds in get_spark, seconds in the warm-up job)."""
    from redskins_rule_spark.session import get_spark

    t0 = time.perf_counter()
    conf = scratch.conf() | {"spark.ui.showConsoleProgress": "false"}
    spark = get_spark(app, extra_conf=conf)
    t1 = time.perf_counter()
    warmup(spark)
    return spark, t1 - t0, time.perf_counter() - t1

def stop_session(spark) -> None:
    """Stop Spark, if a session is given, and wait until the JVM has
    exited, also when a start failed before it returned a session."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def python_operators(plan_text: str) -> list[str]:
    """Python-worker operators named in an executed-plan string."""
    return sorted({n for n in PYTHON_NODES if n in plan_text})


def run_timed(spark, fn, data_dir: str, phase=None) -> tuple[object, dict[str, float]]:
    """Build a query's frame, plan it and execute it to its full result.

    Execution is `queryExecution().toRdd().count()`: every column of the
    physical plan is computed, unlike `df.count()`, which Catalyst
    prunes to the columns the count needs. `phase(name)`, when given, is
    entered around each of the three steps (the tracer's hook).
    Returns (frame, seconds per step)."""
    phase = phase or (lambda name: contextlib.nullcontext())
    t0 = time.perf_counter()
    with phase("workload.build"):
        df = fn(spark, data_dir)
    t1 = time.perf_counter()
    with phase("catalyst.plan"):
        qe = df._jdf.queryExecution()
        qe.executedPlan()
    t2 = time.perf_counter()
    with phase("jvm_exec.execute"):
        qe.toRdd().count()
    t3 = time.perf_counter()
    return df, {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
                "total_s": t3 - t0}

def _proc_table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (parent pid, stat fields after the command name)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        out[int(name)] = (int(fields[1]), fields)
    return out


def process_tree() -> list[int]:
    """This process and all its descendants: the driver, the JVM and
    the JVM's Python workers."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, counting children
    that have exited and been reaped by a member of the tree."""
    table = _proc_table()
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree():
        if pid in table:
            f = table[pid][1]
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / tick


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of the live process tree."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total_kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    return v[0] + v[1] + v[2] + v[5] + v[6] + steal, steal


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Hypervisor steal as a share of busy CPU between two readings."""
    busy = b[0] - a[0]
    return 100.0 * (b[1] - a[1]) / busy if busy > 0 else 0.0
