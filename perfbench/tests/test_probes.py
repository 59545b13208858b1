"""Tests of the benchmark's own helpers: the output digest, the executed-plan
walk through AQE query stages, span self time and the /proc RSS and CPU walks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pandas as pd
import pytest

from perfbench.probes import (
    Tracer,
    descendants,
    jit_cpu_s,
    plan_counts,
    self_times,
    stage_counts,
    tree_cpu_s,
    worker_peak_rss_mb,
)

# ---------------------------------------------------------------------------
# span self time
# ---------------------------------------------------------------------------


def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent, "run_id": "t"}


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("a", 2.0, 5.0, parent=0),   # overlaps its sibling
        _span("b", 8.0, 12.0, parent=0),  # runs past its parent's end
        _span("c", 2.5, 3.5, parent=2),   # grandchild: not the root's child
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["a"] == pytest.approx(2.0 + 2.0)
    assert st["b"] == pytest.approx(4.0)
    assert st["c"] == pytest.approx(1.0)


def test_tracer_records_parents_and_disabled_tracer_records_nothing():
    tr = Tracer("run-1")
    with tr.span("outer"):
        with tr.span("inner"):
            time.sleep(0.01)
        with tr.span("inner"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    assert {s["run_id"] for s in tr.spans} == {"run-1"}
    st = self_times(tr.spans)
    outer = tr.spans[0]["end"] - tr.spans[0]["start"]
    assert 0 <= st["outer"] < outer
    assert st["inner"] >= 0.01

    off = Tracer("run-2", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


# ---------------------------------------------------------------------------
# plan walk
# ---------------------------------------------------------------------------


class _Seq:
    """The slice of a Scala collection the walk uses."""

    def __init__(self, items):
        self._items = list(items)

    def iterator(self):
        items = iter(self._items)

        class It:
            nxt = next(items, StopIteration)

            def hasNext(self):  # noqa: N802
                return self.nxt is not StopIteration

            def next(self):
                cur, self.nxt = self.nxt, next(items, StopIteration)
                return cur

        return It()


class _Metric:
    def __init__(self, v):
        self._v = v

    def value(self):
        return self._v


class _KV:
    def __init__(self, k, v):
        self.k, self.v = k, _Metric(v)

    def _1(self):
        return self.k

    def _2(self):
        return self.v


class _Node:
    """A py4j SparkPlan stand-in."""

    def __init__(self, cls, name, metrics=None, children=(), inner=None):
        self.cls, self.name, self.inner = cls, name, inner
        self._metrics = metrics or {}
        self._children = list(children)

    def getClass(self):  # noqa: N802
        cls = self.cls

        class C:
            def getSimpleName(self):  # noqa: N802
                return cls

        return C()

    def nodeName(self):  # noqa: N802
        return self.name

    def metrics(self):
        return _Seq(_KV(k, v) for k, v in self._metrics.items())

    def children(self):
        return _Seq(self._children)

    def executedPlan(self):  # noqa: N802
        return self.inner

    def plan(self):
        return self.inner


def _scan(rows):
    return _Node("FileSourceScanExec", "Scan parquet ",
                 {"numOutputRows": rows, "filesSize": 1000})


def test_plan_walk_descends_through_aqe_stages_and_write_commands():
    exchange = _Node("ShuffleExchangeExec", "Exchange",
                     {"shuffleBytesWritten": 70, "shuffleRecordsWritten": 7},
                     children=[_Node("WholeStageCodegenExec", "WholeStageCodegen (1)",
                                     {"pipelineTime": 5}, children=[_scan(7)])])
    stage = _Node("ShuffleQueryStageExec", "ShuffleQueryStage", inner=exchange)
    # a reused stage points at a ReusedExchange leaf: counted once
    reused = _Node("ShuffleQueryStageExec", "ShuffleQueryStage",
                   inner=_Node("ReusedExchangeExec", "ReusedExchange"))
    python = _Node("ArrowEvalPythonExec", "ArrowEvalPython",
                   {"pythonDataSent": 11, "pythonDataReceived": 13, "pythonTotalTime": 3,
                    "pythonBootTime": 2, "pythonInitTime": 1},
                   children=[_Node("AQEShuffleReadExec", "AQEShuffleRead", children=[stage])])
    final = _Node("WholeStageCodegenExec", "WholeStageCodegen (2)", {"pipelineTime": 4},
                  children=[python, reused])
    aqe = _Node("AdaptiveSparkPlanExec", "AdaptiveSparkPlan", inner=final)
    root = _Node("DataWritingCommandExec", "Execute InsertIntoHadoopFsRelationCommand",
                 children=[aqe])
    c = plan_counts(root)
    assert c["scan.rows"] == 7 and c["scan.bytes"] == 1000
    assert c["exchange.count"] == 1
    assert c["exchange.shuffle_bytes"] == 70 and c["exchange.shuffle_records"] == 7
    assert c["arrow.py_bytes_sent"] == 11 and c["arrow.py_bytes_received"] == 13
    assert c["arrow.python_total_ms"] == 3
    assert c["arrow.python_boot_ms"] == 2 and c["arrow.python_init_ms"] == 1
    assert c["codegen.pipeline_ms"] == 9


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
    yield s
    s.stop()


def test_plan_walk_on_a_real_adaptive_plan(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    spark.range(0, 500, 1, 3).withColumn("k", F.col("id") % 7).write.parquet(path)

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    df = (spark.read.parquet(path).repartition(4, "k")
          .select("k", plus_one("id").alias("v")).groupBy("k").agg(F.sum("v").alias("s")))
    assert df.count() == 7  # runs a different plan than df's own
    rows = df.collect()
    assert sum(r.s for r in rows) == sum(range(1, 501))
    c = plan_counts(df._jdf.queryExecution().executedPlan())
    assert c["scan.rows"] == 500
    assert c["scan.bytes"] > 0
    assert c["exchange.count"] == 2
    assert c["exchange.shuffle_records"] >= 500
    assert c["arrow.py_bytes_sent"] > 0 and c["arrow.py_bytes_received"] > 0


# ---------------------------------------------------------------------------
# output digest
# ---------------------------------------------------------------------------


def _digest(df):
    from perfbench.probes import digest_exprs, digest_of

    return digest_of(df.agg(*digest_exprs(df.columns)).collect()[0])


def test_digest_ignores_row_order_and_partitioning_but_not_content(spark):
    rows = [(i, f"t{i}", [i, i + 1]) for i in range(200)]
    schema = "id long, t string, a array<int>"
    a = spark.createDataFrame(rows, schema)
    b = spark.createDataFrame(list(reversed(rows)), schema).repartition(5)
    assert _digest(a) == _digest(b)
    changed = rows[:-1] + [(199, "t199", [199, 201])]
    assert _digest(spark.createDataFrame(changed, schema)) != _digest(a)
    dup = rows + [rows[0]]
    assert _digest(spark.createDataFrame(dup, schema)) != _digest(a)
    # xor alone would cancel a row duplicated twice; the sum does not
    dup2 = rows + [rows[0], rows[0]]
    assert _digest(spark.createDataFrame(dup2, schema)).split(":")[1:] != _digest(a).split(":")[1:]


# ---------------------------------------------------------------------------
# status-store counts
# ---------------------------------------------------------------------------


def test_stage_counts_only_count_stages_after_the_mark():
    stages = [
        {"stage_id": 1, "tasks": 8, "run_ms": 5000, "median_ms": 10.0, "max_ms": 900.0},
        {"stage_id": 2, "tasks": 8, "run_ms": 800, "median_ms": 100.0, "max_ms": 300.0},
        {"stage_id": 3, "tasks": 2, "run_ms": 200, "median_ms": 60.0, "max_ms": 140.0},
        {"stage_id": 4, "tasks": 1, "run_ms": 50, "median_ms": 50.0, "max_ms": 50.0},
    ]
    c = stage_counts(stages, after=1)
    assert c["stage.executor_run_s"] == pytest.approx(1.05)
    # the longest task of each stage, one stage after another
    assert c["stage.critical_path_s"] == pytest.approx(0.49)
    # stages with fewer than 4 tasks have no skew figure
    assert c["stage.task_skew"] == pytest.approx(3.0)
    assert stage_counts(stages, after=4) == {"stage.executor_run_s": 0.0,
                                             "stage.critical_path_s": 0.0,
                                             "stage.task_skew": 1.0}


# ---------------------------------------------------------------------------
# /proc walk
# ---------------------------------------------------------------------------


def _fake_proc(root, pid, ppid, comm, hwm_kb, ticks=(0, 0, 0, 0)):
    d = root / str(pid)
    d.mkdir()
    # stat fields 3..13, then utime stime cutime cstime (fields 14-17)
    head = f"S {ppid} {pid} {pid} 0 -1 4194560 0 0 0 0"
    (d / "stat").write_text(f"{pid} ({comm}) {head} {' '.join(map(str, ticks))} 20 0\n")
    (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm_kb} kB\nVmRSS:\t1 kB\n")


def test_rss_walk_sums_every_descendant(tmp_path):
    _fake_proc(tmp_path, 10, 1, "java", 999_999)
    _fake_proc(tmp_path, 11, 10, "python3", 1024)
    _fake_proc(tmp_path, 12, 11, "python3", 2048)
    _fake_proc(tmp_path, 13, 10, "odd) name (x", 512)  # ')' inside the command name
    _fake_proc(tmp_path, 14, 1, "python3", 4096)       # not under the JVM
    (tmp_path / "self").mkdir()
    assert sorted(descendants(10, proc=str(tmp_path))) == [11, 12, 13]
    assert worker_peak_rss_mb(10, proc=str(tmp_path)) == pytest.approx(3584 / 1024)


def test_cpu_walk_sums_the_tree_including_reaped_children(tmp_path):
    _fake_proc(tmp_path, 10, 1, "java", 0, ticks=(100, 20, 5, 1))
    _fake_proc(tmp_path, 11, 10, "odd) name (x", 0, ticks=(7, 3, 0, 0))
    _fake_proc(tmp_path, 14, 1, "python3", 0, ticks=(1000, 0, 0, 0))
    hz = os.sysconf("SC_CLK_TCK")
    assert tree_cpu_s(10, proc=str(tmp_path)) == pytest.approx(136 / hz)


def test_jit_cpu_sums_only_the_jvm_compiler_threads(tmp_path):
    _fake_proc(tmp_path, 10, 1, "java", 0, ticks=(500, 50, 0, 0))
    tasks = tmp_path / "10" / "task"
    tasks.mkdir()
    for tid, comm, ticks in ((10, "java", (5, 1)), (11, "C2 CompilerThre", (40, 2)),
                             (12, "C1 CompilerThre", (9, 1)), (13, "Executor task l", (300, 9))):
        _fake_proc(tasks, tid, 1, comm, 0, ticks=(*ticks, 0, 0))
    assert jit_cpu_s(10, proc=str(tmp_path)) == pytest.approx(52 / os.sysconf("SC_CLK_TCK"))


@pytest.mark.skipif(not os.path.isdir("/proc/self"), reason="needs procfs")
def test_rss_walk_finds_a_live_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in descendants(os.getpid())
        assert worker_peak_rss_mb(os.getpid()) > 0
    finally:
        child.kill()
        child.wait(timeout=10)
