"""CPU seconds of one warm perfbench pass, split by where they are spent.

    python scripts/pass_cpu_split.py [--workload extract_mixed] [--seed 1] [--warm 2]

Starts a session the way ``perfbench/run.py`` does (``local[2]``, the same
JVM options), runs ``--warm`` passes of the workload over the seed's corpus
(the first one cold), then measures one more pass. Around that pass it reads
``/proc``:

- ``jvm.task_s``: the JVM's executor task threads (``Executor task launch
  worker``): scans, shuffles, codegen'd operators, Arrow transfer;
- ``jvm.planning_s``: the JVM threads that serve the Python driver's py4j
  calls (``Thread-N``): analysis, optimization and physical planning of
  every DataFrame the pass builds, and the actions it runs;
- ``jvm.other_s``: the rest of the JVM less its JIT compiler threads
  (GC, the scheduler, shuffle and block-manager threads, threads that
  ended during the pass);
- ``python.workers_s``: the JVM's descendants, the Python daemon and the
  workers it forked (their reaped children included);
- ``driver_s``: this process, the Python driver.

``jit_s`` (the JVM's compiler threads) is reported but left out of
``total_s``, as perfbench leaves it out of ``turns_per_cpu_s``. The five
parts sum to ``total_s``, the figure perfbench reads for the same pass.
The last line of standard output is one JSON object; the busiest JVM
threads of the pass go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(command name, the fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    head, _, rest = stat.rpartition(")")
    return head.split("(", 1)[1], rest.split()


def _own_ticks(fields: list[str]) -> int:
    """utime + stime (stat fields 14-15)."""
    return int(fields[11]) + int(fields[12])


def jvm_threads(jvm_pid: int) -> dict[int, tuple[str, int]]:
    """tid → (thread name, own CPU ticks) of every live JVM thread."""
    out = {}
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        st = _stat_fields(f"{task_dir}/{tid}/stat")
        if st is not None:
            out[int(tid)] = (st[0], _own_ticks(st[1]))
    return out


def snapshot(jvm_pid: int) -> dict:
    from perfbench.probes import _cpu_ticks, descendants

    return {
        "threads": jvm_threads(jvm_pid),
        "jvm": _own_ticks(_stat_fields(f"/proc/{jvm_pid}/stat")[1]),
        "workers": sum(_cpu_ticks("/proc", p) for p in descendants(jvm_pid)),
        "driver": _own_ticks(_stat_fields(f"/proc/{os.getpid()}/stat")[1]),
    }


def _kind(name: str) -> str:
    if "CompilerThre" in name:
        return "jit"
    if name.startswith("Executor task"):
        return "task"
    if name.startswith("Thread-"):
        return "planning"
    return "other"


def split(before: dict, after: dict) -> tuple[dict[str, float], list]:
    """Seconds per part between two snapshots, and the (seconds, tid,
    name) of every JVM thread that ran, busiest first."""
    per_thread = []
    parts = {"task": 0, "planning": 0, "jit": 0}
    for tid, (name, ticks) in after["threads"].items():
        d = ticks - before["threads"].get(tid, (name, 0))[1]
        if d:
            per_thread.append((d / TICK, tid, name))
        kind = _kind(name)
        if kind != "other":
            parts[kind] += d
    jvm = after["jvm"] - before["jvm"]
    out = {
        "jvm.task_s": parts["task"] / TICK,
        "jvm.planning_s": parts["planning"] / TICK,
        "jvm.other_s": (jvm - parts["task"] - parts["planning"] - parts["jit"]) / TICK,
        "python.workers_s": (after["workers"] - before["workers"]) / TICK,
        "driver_s": (after["driver"] - before["driver"]) / TICK,
    }
    out["total_s"] = sum(out.values())
    out["jit_s"] = parts["jit"] / TICK
    return out, sorted(per_thread, reverse=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="extract_mixed")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--warm", type=int, default=2,
                    help="passes before the measured one, the cold pass included")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import corpus
    from perfbench.probes import Tracer
    from perfbench.run import isolate, start_session, stop_jvm
    from perfbench.workloads import WORKLOADS, Ctx

    cache = os.path.join(ROOT, ".perfbench")
    tmp = isolate(cache)
    workload = WORKLOADS[args.workload]
    meta = corpus.ensure(cache, workload.name, workload.corpus_kind,
                         workload.turns, args.seed, workload.skew_factor)
    spark = start_session(tmp)
    work_dir = os.path.join(cache, "work", f"cpu-split-{os.getpid()}")
    try:
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        df = spark.read.parquet(meta["path"])
        ctx = Ctx(spark, df, df.count(), meta, Tracer("cpu-split", enabled=False), work_dir, {})
        for _ in range(args.warm):
            workload.run_pass(ctx)
        before = snapshot(jvm_pid)
        workload.run_pass(ctx)
        after = snapshot(jvm_pid)
    finally:
        stop_jvm(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    parts, threads = split(before, after)
    for s, tid, name in threads[:12]:
        print(f"# {s:7.2f} s  {tid:>7}  {name}", file=sys.stderr)
    print(json.dumps({"workload": workload.name, "seed": args.seed, "turns": ctx.turns,
                      **{k: round(v, 3) for k, v in parts.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
