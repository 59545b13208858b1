"""Per-layer metrics of a traced run, measured from outside each layer.

- Plan and status-store counts of one probed warm pass (``run.py`` reads
  them through ``probes.PlanListener`` and ``probes.read_stages``).
- Span self time per layer, and ``pipeline.build_s``.
- Kernel replay: ``extract_turn_batch`` and ``extract_real_pdf_text`` timed
  off-Spark, best of ``REPLAY_REPS``, on fixed samples of the corpus and of
  a seeded real-PDF mix.
- Single-function Spark jobs over a persisted extraction output, each minus
  a scan-only baseline: ``with_turn_pos``, ``with_parsed_fields`` and the
  two LOB classifiers.
- ``plans.lineage`` figures from the job workload's per-group metrics.
- ``scaling_efficiency`` on ``extract_mixed``: passes over a quarter of the
  corpus in this session at ``local[2]`` and in a child process with its
  own JVM at ``local[1]``.

A metric that a workload does not exercise reads 0.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPLAY_ROWS = 2048
# turns of the real-PDF replay sample (~65 real PDF payloads)
REPLAY_REALPDF_TURNS = 450
REPLAY_REPS = 3
LAYER_JOB_REPS = 2
SCALING_REPS = 2


def _best(fn, reps: int) -> float:
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def _by_kind(pdf) -> dict[str, object]:
    """Rows of ``pdf`` per payload kind, as the kernel's own
    ``payload_kind`` column (one untimed call) assigns them."""
    from pdf_extraction_ai_agent_spark.operators.extract import extract_turn_batch

    kind = extract_turn_batch(pdf["text"], pdf["tool"], with_spans=False)["payload_kind"]
    return {k: pdf[kind == k] for k in ("plain", "html", "pdf", "pdf_real")}


def kernel_replay(corpus_path: str, seed: int) -> dict[str, float]:
    """Kernel microseconds per turn of each payload kind on the workload's
    corpus; real PDFs, which no workload corpus carries, come from a seeded
    sample of the golden suite's real-PDF mix."""
    import pandas as pd

    from pdf_extraction_ai_agent_spark.operators.extract import (
        extract_real_pdf_text,
        extract_turn_batch,
    )
    from pdf_extraction_ai_agent_spark.session import ARROW_MAX_RECORDS_PER_BATCH

    from .corpus import generate

    pdf = (pd.read_parquet(corpus_path, columns=["conv_id", "turn_idx", "ts", "text", "tool"])
           .sort_values(["conv_id", "turn_idx", "ts"], kind="mergesort")
           .reset_index(drop=True))
    real_mix = generate("realpdf", REPLAY_REALPDF_TURNS, seed, skew_factor=1)
    out: dict[str, float] = {}
    samples = _by_kind(pdf)
    samples["pdf_real"] = _by_kind(real_mix)["pdf_real"]
    for kind, rows in samples.items():
        s = rows.head(REPLAY_ROWS)
        t = _best(lambda: extract_turn_batch(s["text"], s["tool"]), REPLAY_REPS) if len(s) else 0.0
        out[f"extract.kernel_us_per_turn.{kind}"] = t / max(len(s), 1) * 1e6
    s = pdf.head(REPLAY_ROWS)
    with_spans = _best(lambda: extract_turn_batch(s["text"], s["tool"]), REPLAY_REPS)
    no_spans = _best(lambda: extract_turn_batch(s["text"], s["tool"], with_spans=False),
                     REPLAY_REPS)
    out["extract.spans_us_per_turn"] = (with_spans - no_spans) / len(s) * 1e6
    # the whole corpus through the kernel in Arrow-batch slices: the CPU a
    # pass spends in the kernel, to set against the pass's CPU seconds
    t = time.process_time()
    for i in range(0, len(pdf), ARROW_MAX_RECORDS_PER_BATCH):
        s = pdf.iloc[i:i + ARROW_MAX_RECORDS_PER_BATCH]
        extract_turn_batch(s["text"], s["tool"])
    out["extract.kernel_corpus_cpu_s"] = time.process_time() - t

    real = samples["pdf_real"].head(REPLAY_ROWS)["text"]
    encrypted = real.str.contains("/Encrypt", regex=False)
    for key, docs in (("pdftext.us_per_doc", real[~encrypted]),
                      ("pdftext.us_per_doc.encrypted", real[encrypted])):
        docs = list(docs)
        t = _best(lambda: [extract_real_pdf_text(d) for d in docs], REPLAY_REPS) if docs else 0.0
        out[key] = t / max(len(docs), 1) * 1e6
    return out


def single_layer_jobs(df) -> dict[str, float]:
    """Noop-sink job of one function over a persisted extraction output,
    minus the same sink over the bare persisted output."""
    from pyspark.sql import functions as F

    from pdf_extraction_ai_agent_spark.functions.fields import with_parsed_fields
    from pdf_extraction_ai_agent_spark.operators.classify import (
        classify_lob_c1,
        classify_lobs_c2,
    )
    from pdf_extraction_ai_agent_spark.operators.extract import with_extraction
    from pdf_extraction_ai_agent_spark.operators.ordering import with_turn_pos
    from pdf_extraction_ai_agent_spark.plans.pipeline import salted_repartition

    src = df.select("conv_id", "turn_idx", "ts", "text", "tool")
    base = with_extraction(salted_repartition(src, None)).drop("text", "tool").persist()
    try:
        base.count()

        def noop(d):
            return _best(lambda: d.write.format("noop").mode("overwrite").save(),
                         LAYER_JOB_REPS)

        scan = noop(base)
        text = F.col("extracted_text")
        return {
            "ordering.job_s": noop(with_turn_pos(base)) - scan,
            "fields.job_s": noop(with_parsed_fields(base, "extracted_text")) - scan,
            "classify.job_s": noop(base.withColumn("lob", classify_lob_c1(text))
                                   .withColumn("lobs", classify_lobs_c2(text))) - scan,
        }
    finally:
        base.unpersist()


def lineage_metrics(job_passes: list[dict]) -> dict[str, float]:
    """Medians over the job passes of the last session."""
    if not job_passes:
        return dict.fromkeys(LINEAGE_KEYS, 0.0)
    med = statistics.median
    groups = [p["group_s"] for p in job_passes]
    return {
        "lineage.prepass_s": med(p["prepass_s"] for p in job_passes),
        "lineage.group_s.median": med(med(g) for g in groups),
        "lineage.group_s.max": med(max(g) for g in groups),
        "lineage.group_skew": med(max(g) / med(g) for g in groups),
        "lineage.rerun_s": med(p["rerun_s"] for p in job_passes),
        "lineage.write_bytes": float(job_passes[-1]["write_bytes"]),
    }


LINEAGE_KEYS = ("lineage.prepass_s", "lineage.group_s.median", "lineage.group_s.max",
                "lineage.group_skew", "lineage.rerun_s", "lineage.write_bytes")


def self_time_metrics(spans: list[dict], first: int, n_passes: int) -> dict[str, float]:
    """Self seconds per probed pass of each layer (span name up to ':') over
    the spans from index ``first`` on; 'bench' is the harness's own share."""
    from .probes import self_times

    per_layer: dict[str, float] = {}
    for name, s in self_times(spans, first).items():
        layer = name.split(":")[0]
        per_layer[layer] = per_layer.get(layer, 0.0) + s
    build = sum(s["end"] - s["start"] for s in spans[first:]
                if s["name"] == "plans.pipeline:extract_pipeline")
    out = {f"self_s.{layer}": per_layer.get(layer, 0.0) / n_passes for layer in SELF_LAYERS}
    out["pipeline.build_s"] = build / n_passes
    return out


SELF_LAYERS = ("bench", "plans.pipeline", "plans.lineage", "spark.action")


def _turns_per_s(spark, path: str, reps: int) -> float:
    """Turns/s of the fastest of ``reps`` extraction passes over ``path``."""
    from perfbench.probes import Tracer
    from perfbench.workloads import Ctx, ExtractWorkload

    df = spark.read.parquet(path)
    ctx = Ctx(spark, df, df.count(), {}, Tracer("scaling", enabled=False), "", {})
    w = ExtractWorkload("scaling", turns=0)
    return ctx.turns / min(w.run_pass(ctx).seconds for _ in range(reps))


def scaling_efficiency(spark, corpus_path: str) -> float:
    """(turns/s at local[2] ÷ turns/s at local[1]) ÷ 2 on the corpus's
    first file (a quarter of it), the local[2] level in this warm session
    and the local[1] level in a child process with its own JVM."""
    subset = os.path.join(corpus_path, "part-00000.parquet")
    turns_per_s_2 = _turns_per_s(spark, subset, SCALING_REPS)
    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.run(
        [sys.executable, "-m", "perfbench.layers", subset, "1"],
        cwd=os.path.dirname(here), capture_output=True, text=True, timeout=120,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"scaling child failed:\n{proc.stderr[-2000:]}")
    turns_per_s_1 = json.loads(proc.stdout.strip().splitlines()[-1])["turns_per_s"]
    return turns_per_s_2 / turns_per_s_1 / 2


def layer_metrics(workload, ctx, info: dict, tracer) -> dict[str, float]:
    passes = info["passes"]
    cold = passes[0]
    plain = [p["wall_s"] for p in passes[1:] if not p["probed"]]
    probed = [p for p in passes[1:] if p["probed"]]
    m: dict[str, float] = {
        "session.start_s": info["jvm_start_s"],
        "wall.setup_s": statistics.median(info["setups"][1:]),
        "wall.cold_pass_s": cold["wall_s"],
        "wall.turns_per_s": ctx.turns / min(plain),
        "jvm.jit_cold_s": cold["jit_s"],
        "jvm.jit_warm_s": statistics.median(p["jit_s"] for p in passes[1:]),
        "arrow.python_boot_ms": float(cold["plan"]["arrow.python_boot_ms"]),
        "arrow.python_init_ms": float(cold["plan"]["arrow.python_init_ms"]),
    }
    for k, v in probed[0]["plan"].items():
        if k not in ("arrow.python_boot_ms", "arrow.python_init_ms"):
            m[k] = float(v)
    m.update(probed[0]["stages"])
    m.update(self_time_metrics(tracer.spans, info["warm_span_index"], len(probed)))
    m.update(kernel_replay(ctx.meta["path"], ctx.meta["seed"]))
    m.update(single_layer_jobs(ctx.df))
    m.update(lineage_metrics(info.get("job_passes", [])[1:]))
    m["scaling_efficiency"] = (scaling_efficiency(ctx.spark, ctx.meta["path"])
                               if workload.measures_scaling else 0.0)
    wm, pm = statistics.median(plain), statistics.median(p["wall_s"] for p in probed)
    m["trace.overhead_s"] = pm - wm
    m["trace.overhead_share"] = (pm - wm) / wm
    return m


def _scaling_child(path: str, cores: int) -> None:
    from perfbench.run import isolate, start_session, stop_jvm

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = isolate(os.path.join(root, ".perfbench"))
    spark = start_session(tmp, cores=cores)
    try:
        _turns_per_s(spark, path, 1)  # cold: worker spawn and imports
        print(json.dumps({"cores": cores,
                          "turns_per_s": _turns_per_s(spark, path, SCALING_REPS)}))
    finally:
        stop_jvm(spark)


if __name__ == "__main__":
    _scaling_child(sys.argv[1], int(sys.argv[2]))
