"""Measurement probes the benchmark reads from outside the engine.

- ``Tracer``: in-memory spans around calls into a layer's public function,
  and per-layer self time.
- ``plan_counts``: executed-plan SQL metrics (scan, exchange, Arrow-Python,
  codegen), walked through AQE query stages and write commands.
- ``PlanListener``: collects ``plan_counts`` of every query execution of a
  session through Spark's ``QueryExecutionListener``.
- ``stage_counts``: executor run time, critical path and task skew from
  the status store.
- ``worker_peak_rss_mb`` / ``tree_cpu_s`` / ``jit_cpu_s``: summed peak RSS
  of a process's descendants, CPU seconds of a process tree, and CPU
  seconds of the JVM's JIT compiler threads, read from ``/proc``.
- ``digest_exprs`` / ``digest_of``: an order-insensitive digest of a
  DataFrame's rows, used as the correctness sink of a pass.

Nothing here imports pyspark at module load, so the pure helpers can be
tested without a JVM.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory: (name, start, end, parent index, run id).

    A disabled tracer records nothing, so untraced runs go through the same
    code with no bookkeeping beyond one attribute test per span.
    """

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.monotonic(), "end": None,
                           "parent": parent, "run_id": self.run_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.monotonic()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict], first: int = 0) -> dict[str, float]:
    """Seconds of each span name not covered by that span's children,
    summed over the spans from index ``first`` on."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for i, s in enumerate(spans[first:], start=first):
        dur = s["end"] - s["start"]
        own = dur - _covered(children.get(i, []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


# ---------------------------------------------------------------------------
# executed-plan metrics
# ---------------------------------------------------------------------------

PLAN_KEYS = (
    "scan.rows", "scan.bytes",
    "exchange.count", "exchange.shuffle_bytes", "exchange.shuffle_records",
    "arrow.py_bytes_sent", "arrow.py_bytes_received", "arrow.python_total_ms",
    "arrow.python_boot_ms", "arrow.python_init_ms",
    "codegen.pipeline_ms",
)


def _scala_iter(seq) -> Iterator:
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _jvm_metrics(node) -> dict[str, int]:
    return {kv._1(): int(kv._2().value()) for kv in _scala_iter(node.metrics())}


def _jvm_children(node) -> list:
    """Children of a physical plan node, descending into the plans that
    AQE hides behind AdaptiveSparkPlanExec and its query stages."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    return list(_scala_iter(node.children()))


def plan_counts(root, metrics=_jvm_metrics, children=_jvm_children,
                name=lambda n: n.nodeName()) -> dict[str, int]:
    """Sum the layer counts of one executed plan.

    ``metrics``, ``children`` and ``name`` read a node; the defaults read a
    py4j SparkPlan, and tests pass plain-Python readers. A reused exchange
    is visited once: AQE stages are walked through ``plan()``, and a
    ``ReusedExchange`` node has no children of its own here.
    """
    out = dict.fromkeys(PLAN_KEYS, 0)
    stack = [root]
    while stack:
        node = stack.pop()
        n = name(node)
        m = metrics(node)
        if n.startswith("Scan ") or n.startswith("FileScan"):
            out["scan.rows"] += m.get("numOutputRows", 0)
            out["scan.bytes"] += m.get("filesSize", 0)
        elif n == "Exchange":
            out["exchange.count"] += 1
            out["exchange.shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
            out["exchange.shuffle_records"] += m.get("shuffleRecordsWritten", 0)
        elif "EvalPython" in n or n.startswith("MapInPandas") or n.startswith("FlatMap"):
            out["arrow.py_bytes_sent"] += m.get("pythonDataSent", 0)
            out["arrow.py_bytes_received"] += m.get("pythonDataReceived", 0)
            out["arrow.python_total_ms"] += m.get("pythonTotalTime", 0)
            out["arrow.python_boot_ms"] += m.get("pythonBootTime", 0)
            out["arrow.python_init_ms"] += m.get("pythonInitTime", 0)
        elif n.startswith("WholeStageCodegen"):
            out["codegen.pipeline_ms"] += m.get("pipelineTime", 0)
        stack.extend(children(node))
    return out


def add_counts(acc: dict[str, int], more: dict[str, int]) -> dict[str, int]:
    for k, v in more.items():
        acc[k] = acc.get(k, 0) + v
    return acc


class PlanListener:
    """QueryExecutionListener (implemented over the py4j callback server)
    that sums ``plan_counts`` of every successful execution, writes
    included. Call ``drain`` before reading ``counts``: Spark delivers the
    events on its listener bus thread."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self.counts = dict.fromkeys(PLAN_KEYS, 0)
        self.active = True
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - JVM interface
        if not self.active:
            return
        add_counts(self.counts, plan_counts(qe.executedPlan()))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - JVM interface
        pass  # a failed pass is counted by the harness

    def drain(self) -> None:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def reset(self) -> None:
        self.drain()
        self.counts = dict.fromkeys(PLAN_KEYS, 0)

    def close(self) -> None:
        self.drain()
        self._spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# ---------------------------------------------------------------------------
# status store
# ---------------------------------------------------------------------------


def last_stage_id(spark) -> int:
    """Highest stage id the status store knows; stages after a mark are
    the ones a measured region ran."""
    ids = [s["stage_id"] for s in read_stages(spark)]
    return max(ids, default=-1)


def read_stages(spark, after: int = -1) -> list[dict]:
    """Completed stages of the status store with id > ``after``: id, task
    count, summed executor run time, and median / max task run time."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    gw, jvm = sc._gateway, sc._jvm
    no_q = gw.new_array(jvm.double, 0)
    quant = gw.new_array(jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    out = []
    for s in _scala_iter(store.stageList(None, False, False, no_q, None)):
        if s.stageId() <= after or s.status().toString() != "COMPLETE":
            continue
        rec = {"stage_id": s.stageId(), "tasks": s.numTasks(),
               "run_ms": s.executorRunTime(), "median_ms": None, "max_ms": None}
        if s.numTasks() == 1:
            rec["median_ms"] = rec["max_ms"] = float(rec["run_ms"])
        else:
            dist = store.taskSummary(s.stageId(), s.attemptId(), quant)
            if dist.isDefined():
                ert = dist.get().executorRunTime()
                rec["median_ms"], rec["max_ms"] = ert.apply(0), ert.apply(1)
        out.append(rec)
    return out


def stage_counts(stages: list[dict], after: int) -> dict[str, float]:
    """Status-store figures of the completed stages with id > ``after``.

    ``stage.executor_run_s``: their summed executor run time.
    ``stage.critical_path_s``: the sum over them of their longest task,
    the time the stages take one after another with unlimited cores; a
    task holding a heavy key lengthens it.
    ``stage.task_skew``: the largest max / median task time over those
    with at least 4 tasks (1.0 when none).
    """
    mine = [s for s in stages if s["stage_id"] > after]
    skews = [s["max_ms"] / s["median_ms"] for s in mine
             if s["tasks"] >= 4 and s["median_ms"] and s["max_ms"] is not None]
    return {
        "stage.executor_run_s": sum(s["run_ms"] for s in mine) / 1000.0,
        "stage.critical_path_s": sum(s["max_ms"] or 0.0 for s in mine) / 1000.0,
        "stage.task_skew": max(skews, default=1.0),
    }


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _vm_hwm_kb(proc: str, pid: int) -> int:
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root_pid: int, proc: str = "/proc") -> list[int]:
    """Every live descendant pid of ``root_pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            with open(f"{proc}/{entry}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [root_pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _cpu_ticks(proc: str, pid: int) -> int:
    """utime + stime + cutime + cstime of one process, in clock ticks."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return 0
    # fields[0] is the state (stat field 3); utime..cstime are fields 14-17
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root_pid: int, proc: str = "/proc") -> float:
    """CPU seconds used so far by ``root_pid`` and its live descendants,
    including the descendants' own reaped children."""
    pids = [root_pid, *descendants(root_pid, proc)]
    return sum(_cpu_ticks(proc, p) for p in pids) / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid: int, proc: str = "/proc") -> float:
    """CPU seconds of the JVM's live JIT compiler threads. The benchmark's
    JVM keeps a fixed set of them (``-XX:-UseDynamicNumberOfCompilerThreads``),
    so none exits mid-pass and folds its time into the process total."""
    task_dir = f"{proc}/{jvm_pid}/task"
    ticks = 0
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, _, rest = stat.rpartition(")")
        if "CompilerThre" in head.split("(", 1)[1]:
            # a thread's utime and stime, stat fields 14-15
            ticks += sum(int(x) for x in rest.split()[11:13])
    return ticks / os.sysconf("SC_CLK_TCK")


def worker_peak_rss_mb(jvm_pid: int, proc: str = "/proc") -> float:
    """Summed VmHWM (MiB) of the JVM's descendants: the Python daemon and
    the Python workers it forked."""
    return sum(_vm_hwm_kb(proc, p) for p in descendants(jvm_pid, proc)) / 1024.0


# ---------------------------------------------------------------------------
# output digest
# ---------------------------------------------------------------------------


def digest_exprs(columns: list[str]):
    """Aggregate expressions of an order-insensitive row digest: the row
    count, the sum of the low 32 bits of each row's xxhash64 (no overflow
    below 2^31 rows) and the xor of the full hashes."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in columns])
    return [
        F.count(F.lit(1)).alias("_n"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("_lo"),
        F.bit_xor(h).alias("_x"),
    ]


def digest_of(row) -> str:
    """Digest string of the row the ``digest_exprs`` aggregate returned."""
    return f"{row['_n']}:{(row['_lo'] or 0):x}:{(row['_x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"
