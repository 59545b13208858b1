"""The benchmark's workloads: what one pass runs and how it is gated.

Every workload runs passes over one seeded corpus. ``run_pass`` is the
measured pass and nothing else; ``check`` then verifies that pass
(returning its failed turns and output digest) outside the measurement, and
``gate`` checks the run once more at its end.

- ``extract_mixed``: the flagship read path, ``extract_pipeline`` defaults
  over ``distributed_transcripts``' payload mix (plain, labeled, HTML and
  pseudo-PDF turns, no real PDFs) into an order-insensitive digest of every
  output column. Like ``scripts/bench_extract_child.py``, it asks for
  ``2 x cores`` partitions before the extract stage, so both cores run it.
  The extract kernel, spans, Arrow transfer, the two-phase ordering, fields
  and classification show here; ``operators.pdftext`` and ``plans.lineage``
  do no work.
- ``job_heavyconv``: the ``jobs/run_extraction.py`` path called in-process
  with its defaults (``cached_max_conv_rows``, ``precompute_kdf_seed``,
  ``run_with_lineage(extract_pipeline(salt_buckets='auto', ...))``),
  writing partitioned parquet and lineage, over the same payload mix whose
  conversation 0 is a heavy key; the no-op rerun of the run group is part of
  its check. The write path, lineage, the pre-passes and the task holding
  the heavy key show here.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass


@dataclass
class PassResult:
    """A measured pass: its wall seconds and what ``check`` needs."""

    seconds: float
    state: object


@dataclass
class Ctx:
    """What a pass needs: the session, the registered input and the run's
    probes. ``df`` is the corpus as read from parquet."""

    spark: object
    df: object
    turns: int
    meta: dict
    tracer: object
    work_dir: str
    info: dict


class ExtractWorkload:
    # warm passes after the cold one that turns_per_cpu_s is taken over
    measured_passes = 3
    measures_scaling = True  # traced runs also time a local[1] child
    # partitions before the extract stage: 2 x the local[2] cores, as
    # scripts/bench_extract_child.py asks for
    PARTITIONS = 4

    def __init__(self, name: str, turns: int, skew_factor: int = 20):
        self.name = name
        self.corpus_kind = "mixed"
        self.turns = turns
        self.skew_factor = skew_factor

    def run_pass(self, ctx: Ctx) -> PassResult:
        from pyspark.sql import functions as F

        from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

        from .probes import digest_exprs

        t0 = time.monotonic()
        with ctx.tracer.span("bench:pass"):
            with ctx.tracer.span("plans.pipeline:extract_pipeline"):
                out = extract_pipeline(ctx.df, num_partitions=self.PARTITIONS)
            with ctx.tracer.span("spark.action:collect"):
                row = out.agg(
                    *digest_exprs(out.columns), F.count("error").alias("_err")
                ).collect()[0]
        return PassResult(time.monotonic() - t0, row)

    def check(self, ctx: Ctx, state) -> tuple[int, str]:
        """(failed turns, output digest) of a pass: error rows fail."""
        from .probes import digest_of

        return int(state["_err"]), digest_of(state)

    def gate(self, ctx: Ctx) -> int:
        """Per-turn equality with the oracle over every turn of a fixed
        sample of conversations; returns the turns that differ."""
        return oracle_mismatches(ctx.spark, ctx.df, ctx.info, stride=16)


def oracle_mismatches(spark, df, info: dict, stride: int) -> int:
    """Turns of the sampled conversations (every conversation whose conv_id
    hashes to 0 mod ``stride``) whose extracted text, needs_ocr,
    payload kind, parsed fields or turn_pos differ from
    ``oracle.extract_turn`` / ``parse_fields_oracle`` / a (turn_idx, ts)
    sort. A turn missing from the output counts as differing."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdf_extraction_ai_agent_spark.oracle import extract_turn, parse_fields_oracle
    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    sample = df.filter(F.pmod(F.xxhash64("conv_id"), F.lit(stride)) == 0)
    key = ["conv_id", "turn_idx", "ts"]
    got = extract_pipeline(sample).select(
        *key, "turn_pos", "extracted_text", "needs_ocr", "payload_kind",
        "claim_number", "name", "date", "confidence",
    ).toPandas()
    exp = sample.select(*key, "text", "tool").toPandas()
    exp = exp.sort_values(key, kind="mergesort").reset_index(drop=True)
    exp["turn_pos"] = exp.groupby("conv_id").cumcount() + 1
    m = exp.merge(got, on=key, how="left", suffixes=("", "_got"), indicator="matched")
    bad = 0
    for r in m.itertuples(index=False):
        if r.matched != "both":
            bad += 1
            continue
        o = extract_turn(r.text, r.tool)
        f = parse_fields_oracle(o["extracted_text"])
        ok = (
            r.extracted_text == o["extracted_text"]
            and bool(r.needs_ocr) == bool(o["needs_ocr"])
            and r.payload_kind == o["payload_kind"]
            and int(r.turn_pos_got) == int(r.turn_pos)
            and all((None if pd.isna(getattr(r, c)) else getattr(r, c)) == f[c]
                    for c in ("claim_number", "name", "date"))
            and abs(float(r.confidence) - float(f["confidence"])) < 1e-9
        )
        bad += not ok
    info["oracle_sample_turns"] = len(m)
    info["oracle_sample_convs"] = int(m["conv_id"].nunique())
    return bad


class JobWorkload:
    measured_passes = 1
    measures_scaling = False
    N_BUCKETS = 4
    BUCKET_GROUP_SIZE = 2
    RUN_GROUP = "bench"
    HEAVY_CONV = "conv-00000000"

    def __init__(self, name: str, turns: int, skew_factor: int):
        self.name = name
        self.corpus_kind = "mixed"
        self.turns = turns
        self.skew_factor = skew_factor
        self._n = 0

    def _job(self, ctx: Ctx, out: str, lineage: str) -> dict:
        """One run of the extraction job, as ``jobs/run_extraction.py``
        wires it with its defaults (``--salt-buckets auto``)."""
        from pdf_extraction_ai_agent_spark.plans.lineage import (
            cached_max_conv_rows,
            run_with_lineage,
        )
        from pdf_extraction_ai_agent_spark.plans.pipeline import (
            extract_pipeline,
            precompute_kdf_seed,
        )

        tr = ctx.tracer
        t0 = time.monotonic()
        with tr.span("plans.lineage:cached_max_conv_rows"):
            mx = cached_max_conv_rows(ctx.spark, ctx.df, lineage, run_group=self.RUN_GROUP)
        with tr.span("plans.pipeline:precompute_kdf_seed"):
            kdf_seed = precompute_kdf_seed(ctx.df)
        prepass = time.monotonic() - t0

        def build(part):
            with tr.span("plans.pipeline:extract_pipeline"):
                return extract_pipeline(part, salt_buckets="auto", max_conv_rows=mx,
                                        kdf_seed=kdf_seed or False)

        with tr.span("plans.lineage:run_with_lineage"):
            metrics = run_with_lineage(
                ctx.spark, ctx.df, build, out_path=out, lineage_path=lineage,
                run_group=self.RUN_GROUP, n_buckets=self.N_BUCKETS,
                bucket_group_size=self.BUCKET_GROUP_SIZE,
            )
        metrics["prepass_s"] = prepass
        return metrics

    def run_pass(self, ctx: Ctx) -> PassResult:
        """One job into a fresh directory; the no-op rerun and the checks
        follow in ``check``, outside the measured pass."""
        self._n += 1
        base = os.path.join(ctx.work_dir, f"job{self._n}")
        shutil.rmtree(base, ignore_errors=True)
        t0 = time.monotonic()
        with ctx.tracer.span("bench:pass"):
            first = self._job(ctx, *_job_dirs(base))
        return PassResult(time.monotonic() - t0, (base, first))

    def check(self, ctx: Ctx, state) -> tuple[int, str]:
        base, first = state
        out, lineage = _job_dirs(base)
        t0 = time.monotonic()
        rerun = self._job(ctx, out, lineage)
        rerun_s = time.monotonic() - t0
        failed, digest = self._check(ctx, out, lineage, rerun)
        ctx.info.setdefault("job_passes", []).append({
            "rerun_s": rerun_s, "prepass_s": first["prepass_s"],
            "group_s": [g["wall_ms"] / 1000.0 for g in first["groups"]],
            "write_bytes": _dir_bytes(out),
        })
        shutil.rmtree(base, ignore_errors=True)
        return failed, digest

    def _check(self, ctx: Ctx, out: str, lineage: str, rerun: dict) -> tuple[int, str]:
        """(failed turns, output digest) of one job pass. Error rows fail;
        every turn fails when a job invariant breaks: row loss or
        duplication, lineage not one row per bucket, a rerun that
        re-processed a bucket, or a heavy conversation whose turn_pos is not
        dense in (turn_idx, ts) order."""
        from pyspark.sql import functions as F

        from .probes import digest_exprs, digest_of

        spark, key = ctx.spark, ["conv_id", "turn_idx", "ts"]
        if "input_distinct_keys" not in ctx.info:
            ctx.info["input_distinct_keys"] = ctx.df.select(*key).distinct().count()
        committed = spark.read.parquet(out)
        row = committed.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(c) for c in key]).alias("nd"),
            F.count("error").alias("err"),
            *digest_exprs([c for c in committed.columns if c != "part_id"]),
        ).collect()[0]
        lin = spark.read.parquet(lineage).filter(F.col("run_group") == self.RUN_GROUP)
        lrow = lin.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct("part_id").alias("nd"),
            F.sum("n_rows").alias("rows"),
        ).collect()[0]
        heavy = (committed.filter(F.col("conv_id") == self.HEAVY_CONV)
                 .select("turn_idx", "ts", "turn_pos").toPandas()
                 .sort_values("turn_pos", kind="mergesort"))
        in_order = heavy.sort_values(["turn_idx", "ts"], kind="mergesort")
        checks = {
            "rows_committed": row["n"] == ctx.turns,
            "no_duplicates_dropped": row["nd"] == ctx.info["input_distinct_keys"],
            "lineage_one_row_per_bucket": lrow["n"] == lrow["nd"] == self.N_BUCKETS,
            "lineage_rows": lrow["rows"] == ctx.turns,
            "rerun_skips_all": rerun["skipped_buckets"] == self.N_BUCKETS and not rerun["groups"],
            "heavy_turn_pos_dense": list(heavy["turn_pos"]) == list(range(1, len(heavy) + 1)),
            "heavy_turn_pos_sorted": list(in_order.index) == list(heavy.index),
        }
        broken = [k for k, ok in checks.items() if not ok]
        if broken:
            ctx.info.setdefault("broken_invariants", []).extend(broken)
            return ctx.turns, digest_of(row)
        return int(row["err"]), digest_of(row)

    def gate(self, ctx: Ctx) -> int:
        """The oracle check of ``extract_mixed``, on this job's input."""
        return oracle_mismatches(ctx.spark, ctx.df, ctx.info, stride=16)


def _job_dirs(base: str) -> tuple[str, str]:
    """(output, lineage) directories of one job pass."""
    return os.path.join(base, "out"), os.path.join(base, "lineage")


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


WORKLOADS = {
    w.name: w
    for w in (
        ExtractWorkload("extract_mixed", turns=20000),
        JobWorkload("job_heavyconv", turns=6000, skew_factor=60),
    )
}
