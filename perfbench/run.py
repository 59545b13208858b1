"""The repository's benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 1 --trace 0

Prints, as the last line of standard output, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1`` they
are the per-layer ones, and spans plus every probe reading are written to
``.perfbench/trace/``. See perfbench/README.md for what each workload and
metric means.

A run, at ``local[2]`` (half of this benchmark's 4-CPU reference host, which
leaves room for the JVM's own threads and the Python workers):

1. generate the seed's corpus on a cache miss (untimed, no Spark);
2. six session cycles, each starting a session and registering the input;
   the first launches the JVM, and ``setup_s`` is the median CPU seconds
   of the other five;
3. the first pass, with a fresh JVM and fresh Python workers
   (``cold_pass_cpu_s``);
4. warm passes for ``--seconds``, and at least the workload's
   ``measured_passes``; ``turns_per_cpu_s`` is the turns of the first
   ``measured_passes`` over their summed CPU seconds, so a fast or slow host
   does not change which JIT-warming passes the figure sees, and one figure
   spans ~20 s of a run, not a single pass: on the shared reference host a
   fixed pure-Python loop's CPU time moved by up to 2x from one second to
   the next (BENCHMARK.json sets ``run_seconds`` to 1, so a run measures
   exactly that many passes);
5. read the Python workers' peak RSS, run the correctness gate, stop.

A pass is measured alone: the workload's checks of it (and the job's no-op
rerun) run after its CPU, plan and status-store readings are taken.

Costs are CPU seconds of this process, the JVM and the Python workers, less
the JVM's JIT compiler threads (``probes.tree_cpu_s`` - ``probes.jit_cpu_s``):
on the shared reference host, wall time of the same pass moved by up to 60%
with other tenants' load, and JIT compilation still took 2-7 CPU seconds of
each of the first warm passes, falling from pass to pass. Wall-clock and
JIT figures are kept in the run record and the traced ledger.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 2
SESSION_CYCLES = 6


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def isolate(cache: str) -> str:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return tmp


def start_session(tmp: str, cores: int = CORES):
    from pdf_extraction_ai_agent_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores * 2, 8),
        extra_conf={
            # JVM pools sized as a true N-core executor would be
            "spark.driver.extraJavaOptions":
                f"-XX:ActiveProcessorCount={cores} -Djava.io.tmpdir={tmp}"
                # a fixed set of JIT compiler threads, for probes.jit_cpu_s
                " -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.driver.memory": "3g",
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM PySpark launched for it, and wait
    for the JVM to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits at end of stdin
        proc.wait(timeout=120)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def measure(workload, seed: int, seconds: float, trace: bool, cache: str, tmp: str) -> dict:
    from perfbench import corpus
    from perfbench.probes import (
        PlanListener,
        Tracer,
        jit_cpu_s,
        last_stage_id,
        read_stages,
        stage_counts,
        tree_cpu_s,
        worker_peak_rss_mb,
    )
    from perfbench.workloads import Ctx

    pid = os.getpid()
    tracer = Tracer(f"{workload.name}-s{seed}-{pid}", enabled=trace)
    meta = corpus.ensure(cache, workload.name, workload.corpus_kind,
                         workload.turns, seed, workload.skew_factor)
    _log(f"corpus {meta['path']} turns={meta['turns']} hash={meta['content_hash']}")

    work_dir = os.path.join(cache, "work", f"{workload.name}-{pid}")
    info: dict = {"corpus": meta}
    setups, setup_cpu, passes = [], [], []
    attempted = failed = 0
    digests: set = set()
    listener = None

    spark = jvm_pid = None

    def cpu_s() -> float:
        """CPU seconds of this process, the JVM and the Python workers so
        far, less the JVM's JIT compiler threads: JIT work moves with how
        far compilation has got, not with the work a pass does."""
        return tree_cpu_s(pid) - (jit_cpu_s(jvm_pid) if jvm_pid else 0.0)

    for cycle in range(SESSION_CYCLES):
        if spark is not None:
            spark.stop()
        t, c = time.monotonic(), cpu_s()
        with tracer.span("session:get_spark"):
            spark = start_session(tmp)
        if cycle == 0:
            info["jvm_start_s"] = time.monotonic() - t
            jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        with tracer.span("bench:register"):
            df = spark.read.parquet(meta["path"])
            turns = df.count()
        setups.append(time.monotonic() - t)
        setup_cpu.append(cpu_s() - c)
    ctx = Ctx(spark, df, turns, meta, tracer, work_dir, info)
    if trace:
        listener = PlanListener(spark)
    stage_mark = last_stage_id(spark)

    def run_pass(probe: bool) -> None:
        """One measured pass. Its CPU seconds, plan counts, status-store
        stages and spans cover the pass only; the workload's checks run
        after it, outside every measurement."""
        nonlocal attempted, failed, stage_mark
        attempted += ctx.turns
        tracer.enabled = probe
        if listener is not None:
            listener.reset()
            listener.active = probe
        c0, j0, t0 = cpu_s(), jit_cpu_s(jvm_pid), time.monotonic()
        try:
            r = workload.run_pass(ctx)
        except Exception:  # a pass that raises fails all of its turns
            _log("pass raised:\n" + traceback.format_exc())
            r = None
        wall, cpu, jit = time.monotonic() - t0, cpu_s() - c0, jit_cpu_s(jvm_pid) - j0
        tracer.enabled = False
        if listener is not None:
            listener.drain()
            listener.active = False
        stages = read_stages(spark, after=stage_mark)
        passes.append({"wall_s": wall, "cpu_s": cpu, "jit_s": jit, "probed": probe,
                       "stages": stage_counts(stages, stage_mark),
                       "plan": dict(listener.counts) if probe else None})
        stage_mark = max([stage_mark] + [s["stage_id"] for s in stages])
        if r is None:
            failed += ctx.turns
            return
        try:
            f, digest = workload.check(ctx, r.state)
        except Exception:  # a check that cannot run passes nothing
            _log("check raised:\n" + traceback.format_exc())
            f, digest = ctx.turns, None
        failed += f
        digests.add(digest)

    # the run's first pass: fresh JVM and Python workers, as every
    # spark-submit job starts
    run_pass(trace)
    info["warm_span_index"] = len(tracer.spans)
    deadline = time.monotonic() + seconds
    # a traced run splits the same minimum between probes off and on
    n, n_min = 0, max(workload.measured_passes, 2 if trace else 1)
    while time.monotonic() < deadline or n < n_min:
        # a traced run alternates probes off / on, so the difference of the
        # two medians is the tracing overhead
        run_pass(trace and n % 2 == 1)
        n += 1
    tracer.enabled = trace

    rss_mb = worker_peak_rss_mb(jvm_pid)

    t = time.monotonic()
    try:
        gate_failed = workload.gate(ctx)
    except Exception:  # a gate that cannot run passes nothing
        _log("gate raised:\n" + traceback.format_exc())
        gate_failed = ctx.turns
    info["gate_s"] = time.monotonic() - t
    failed += gate_failed
    if meta.get("output_digest") is None and len(digests) == 1 and None not in digests:
        corpus.record_digest(meta, next(iter(digests)))
    expected = meta.get("output_digest")
    digest_ok = len(digests) == 1 and (expected is None or expected in digests)
    if digests and not digest_ok:
        _log(f"output digests differ: {sorted(map(str, digests))} expected {expected}")
        failed = attempted

    info.update(setups=setups, setup_cpu_s=setup_cpu, passes=passes,
                digests=sorted(map(str, digests)), gate_failed=gate_failed)
    layers = None
    if trace:
        from perfbench.layers import layer_metrics

        layers = layer_metrics(workload, ctx, info, tracer)
        listener.close()
    stop_jvm(spark)
    shutil.rmtree(work_dir, ignore_errors=True)

    if trace:
        metrics = layers
    else:
        # the first cycle launches the JVM; the rest are in-JVM set-ups
        measured = passes[1:1 + workload.measured_passes]
        metrics = {
            "setup_s": statistics.median(setup_cpu[1:]),
            "cold_pass_cpu_s": passes[0]["cpu_s"],
            "turns_per_cpu_s": ctx.turns * len(measured) / sum(p["cpu_s"] for p in measured),
            "worker_peak_rss_mb": rss_mb,
        }
    _write_record(cache, workload.name, seed, trace, info, tracer, metrics)
    units = declared_units(trace)
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} are not "
                           "both measured and declared in BENCHMARK.json")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def _write_record(cache, name, seed, trace, info, tracer, metrics) -> None:
    from perfbench.probes import self_times

    out_dir = os.path.join(cache, "trace" if trace else "runs")
    os.makedirs(out_dir, exist_ok=True)
    rec = {"workload": name, "seed": seed, "trace": bool(trace), "metrics": metrics,
           "info": info}
    if trace:
        rec["spans"] = tracer.spans
        rec["self_s"] = self_times(tracer.spans)
    with open(os.path.join(out_dir, f"{name}-s{seed}.json"), "w") as f:
        json.dump(rec, f, indent=1, default=str)


def declared_units(trace: bool) -> dict[str, str]:
    """Metric name → unit, as BENCHMARK.json declares them for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    args = _parse(argv)
    cache = os.path.join(ROOT, ".perfbench")
    tmp = isolate(cache)
    try:
        import pdf_extraction_ai_agent_spark  # noqa: F401
    except ImportError as e:
        _log(f"the engine package is not importable from {ROOT}: {e}")
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    result = measure(WORKLOADS[args.workload], args.seed, args.seconds,
                     bool(args.trace), cache, tmp)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
