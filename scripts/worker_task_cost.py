"""Fixed Python-worker CPU per task, and marginal CPU per row, of a PySpark
Arrow UDF.

    python scripts/worker_task_cost.py [--rows 10000 1000000] [--reps 3]

At ``local[2]`` it runs an identity Arrow UDF whose body imports the engine
package (as every engine UDF does when it unpickles in a worker) over 1, 4
and 16 partitions at each row count. Around each job it reads the CPU
seconds of the JVM's Python descendants (the daemon and the workers it
forked, their reaped children included) from ``/proc``, takes the median
over ``--reps`` jobs per configuration, and fits

    worker_cpu_s = base + fixed_s_per_task * tasks + marginal_us_per_row * rows

Two warm-up jobs run first, so each worker has already paid its first task
(interpreter start, first imports). The last line of standard output is one
JSON object with the fit and every configuration's median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARTITIONS = (1, 4, 16)


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (their reaped children included) of every live
    descendant of the JVM: in local mode, the Python daemon and its workers."""
    from perfbench.probes import _cpu_ticks, descendants

    ticks = sum(_cpu_ticks("/proc", p) for p in descendants(jvm_pid))
    return ticks / os.sysconf("SC_CLK_TCK")


def _identity(s):  # unannotated: a scalar Arrow UDF
    import pdf_extraction_ai_agent_spark  # noqa: F401 - what every engine UDF does

    return s


def _job(spark, udf, rows: int, partitions: int) -> None:
    from pyspark.sql import functions as F

    col = spark.range(0, rows, 1, partitions).select(F.col("id").cast("string").alias("s"))
    col.select(F.sum(F.length(udf("s")))).collect()


def _fit(points: list[tuple[int, int, float]]) -> tuple[float, float, float]:
    import numpy as np

    a = np.array([[1.0, t, r] for t, r, _ in points])
    b = np.array([c for _, _, c in points])
    base, fixed, marginal = np.linalg.lstsq(a, b, rcond=None)[0]
    return float(base), float(fixed), float(marginal)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, nargs="+", default=[10_000, 1_000_000])
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args(argv)

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from pdf_extraction_ai_agent_spark.session import get_spark

    spark = get_spark(app_name="worker_task_cost", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    udf = F.arrow_udf(_identity, "string")
    for _ in range(2):
        _job(spark, udf, 1_000, 4)

    configs, points = [], []
    for rows in args.rows:
        for parts in PARTITIONS:
            samples = []
            for _ in range(args.reps):
                c0 = python_worker_cpu_s(jvm_pid)
                _job(spark, udf, rows, parts)
                samples.append(python_worker_cpu_s(jvm_pid) - c0)
            med = statistics.median(samples)
            configs.append({"tasks": parts, "rows": rows, "worker_cpu_s": round(med, 3)})
            points.append((parts, rows, med))
            print(f"tasks={parts:>2} rows={rows:>7} worker_cpu_s={med:.3f} "
                  f"(reps {', '.join(f'{s:.2f}' for s in samples)})", flush=True)
    spark.stop()

    base, fixed, marginal = _fit(points)
    print(f"fixed CPU-s per task: {fixed:.3f}   marginal us per row: {marginal * 1e6:.2f}"
          f"   base CPU-s per job: {base:.3f}")
    print(json.dumps({
        "master": "local[2]",
        "fixed_cpu_s_per_task": round(fixed, 4),
        "marginal_us_per_row": round(marginal * 1e6, 3),
        "base_cpu_s_per_job": round(base, 4),
        "configs": configs,
    }))


if __name__ == "__main__":
    main()
