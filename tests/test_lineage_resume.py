"""Idempotent resume via the per-partition lineage table (north rule)."""

import os

import pytest
from pyspark.sql import functions as F

from pdf_extraction_ai_agent_spark.plans.lineage import (
    LineageStore,
    run_with_lineage,
    with_part_id,
)


def _plan(df):
    return df.select("part_id", "conv_id", "turn_idx", F.length("text").alias("n_chars"))


def test_resume_skips_completed_partitions(spark, transcripts_df, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("lineage"))
    out, lin = os.path.join(base, "out"), os.path.join(base, "lineage")

    m1 = run_with_lineage(
        spark, transcripts_df, _plan, out, lin, run_group="g1", n_buckets=8, bucket_group_size=3
    )
    assert m1["skipped_buckets"] == 0
    n_expected = transcripts_df.count()
    assert spark.read.parquet(out).count() == n_expected

    # rerun: everything already committed → zero new groups
    m2 = run_with_lineage(
        spark, transcripts_df, _plan, out, lin, run_group="g1", n_buckets=8, bucket_group_size=3
    )
    assert m2["skipped_buckets"] == 8
    assert m2["groups"] == []
    assert spark.read.parquet(out).count() == n_expected  # idempotent

    # lineage metrics recorded per partition
    lineage_rows = spark.read.parquet(lin).collect()
    assert {r.part_id for r in lineage_rows} == set(range(8))
    assert all(r.turns_per_sec > 0 for r in lineage_rows)


def test_partial_failure_resume(spark, transcripts_df, tmp_path_factory):
    """Simulate a crash after the first bucket group: a rerun processes only
    the remaining buckets and the final output equals a clean run."""
    base = str(tmp_path_factory.mktemp("lineage2"))
    out, lin = os.path.join(base, "out"), os.path.join(base, "lineage")

    df = with_part_id(transcripts_df, n_buckets=4)
    # "crashed" run: only buckets {0,1} committed + lineage written
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    _plan(df.filter(F.col("part_id").isin([0, 1]))).write.mode("overwrite").partitionBy(
        "part_id"
    ).parquet(out)
    store = LineageStore(spark, lin)
    store.append(
        [
            {"run_group": "g2", "part_id": p, "n_rows": 0, "wall_ms": 1, "turns_per_sec": 1.0}
            for p in (0, 1)
        ]
    )

    m = run_with_lineage(
        spark, transcripts_df, _plan, out, lin, run_group="g2", n_buckets=4, bucket_group_size=2
    )
    assert m["skipped_buckets"] == 2
    assert spark.read.parquet(out).count() == transcripts_df.count()


def test_cached_max_conv_rows_stat_reuse(spark, transcripts_df, tmp_path_factory):
    """The auto-strategy pre-pass runs at most once per run_group/input
    snapshot: the first call scans and persists the stat to
    <lineage>_stats; a later call (resume) reads the cached value WITHOUT
    re-scanning — proven by handing it a different frame and still getting
    the first snapshot's number back."""
    from pdf_extraction_ai_agent_spark.plans.lineage import cached_max_conv_rows
    from pdf_extraction_ai_agent_spark.plans.pipeline import _max_conv_rows

    base = str(tmp_path_factory.mktemp("lineage3"))
    lin = os.path.join(base, "lineage")
    truth = _max_conv_rows(transcripts_df)
    assert truth > 0

    mx1 = cached_max_conv_rows(spark, transcripts_df, lin, run_group="g3")
    assert mx1 == truth
    assert spark.read.parquet(lin + "_stats").count() == 1

    # resume path: a poisoned input must NOT be scanned — cache wins
    poisoned = transcripts_df.limit(1)
    mx2 = cached_max_conv_rows(spark, poisoned, lin, run_group="g3")
    assert mx2 == truth

    # a different run_group (different snapshot) recomputes
    mx3 = cached_max_conv_rows(spark, poisoned, lin, run_group="g3b")
    assert mx3 == 1


def test_job_over_mixed_real_pdf_corpus(spark, tmp_path_factory):
    """ROADMAP 6 soak: the lineage-checkpointed job (auto salt strategy)
    over a corpus whose real-PDF turns span the full carrier matrix —
    classic, ObjStm, RC4/AESV2/AES-256 encrypted, CID and /Differences
    fonts. Every turn must extract (zero error rows — all carriers are
    in the dependency-free rung's scope), output rowcount == input, and
    the rerun must skip every bucket."""
    from pdf_extraction_ai_agent_spark.fixtures import generate_transcripts
    from pdf_extraction_ai_agent_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA
    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    pdf = generate_transcripts(n_convs=12, seed=7, skew=False, include_real_pdf=True)
    assert (pdf["text"].str.startswith("%PDF-1.")).sum() >= 3
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    base = str(tmp_path_factory.mktemp("job_mixed"))
    out, lin = os.path.join(base, "out"), os.path.join(base, "lineage")

    m = run_with_lineage(
        spark, df,
        lambda d: extract_pipeline(d, salt_buckets="auto"),
        out, lin, run_group="mix", n_buckets=4, bucket_group_size=2,
    )
    assert sum(g["rows"] for g in m["groups"]) == len(pdf)
    assert all(g["errors"] == 0 for g in m["groups"])
    m2 = run_with_lineage(
        spark, df,
        lambda d: extract_pipeline(d, salt_buckets="auto"),
        out, lin, run_group="mix", n_buckets=4, bucket_group_size=2,
    )
    assert m2["skipped_buckets"] == 4 and not m2["groups"]


def test_bookkeeping_frames_run_no_python_tasks(spark, tmp_path_factory):
    """LineageStore's locally built rows reach the JVM as a local relation.
    createDataFrame over a Python list is a PythonRDD: every action on it
    runs Python worker tasks, which pay a worker's per-task fixed cost."""
    from pyspark.sql.types import StructType

    from pdf_extraction_ai_agent_spark.plans.lineage import (
        LINEAGE_SCHEMA, _local_frame,
    )

    lin = os.path.join(str(tmp_path_factory.mktemp("lineage")), "lineage")
    store = LineageStore(spark, lin)
    frames = [
        store.completed_part_ids("g"),  # no table yet: an empty frame
        _local_frame(spark, [("g", 3, 7, 0, 12, 1.5)],
                     "run_group string, part_id int, n_rows long, n_errors long, "
                     "wall_ms long, turns_per_sec double"),
    ]
    for df in frames:
        assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    assert frames[0].collect() == []
    assert frames[1].schema.simpleString() == (
        "struct<run_group:string,part_id:int,n_rows:bigint,n_errors:bigint,"
        "wall_ms:bigint,turns_per_sec:double>"
    )
    assert [tuple(r) for r in frames[1].collect()] == [("g", 3, 7, 0, 12, 1.5)]

    store.append([{"run_group": "g", "part_id": 3, "n_rows": 7, "wall_ms": 12,
                   "turns_per_sec": 1.5}])
    # the appended table is exactly the declared lineage row
    assert spark.read.parquet(lin).schema.simpleString() == (
        StructType.fromDDL(LINEAGE_SCHEMA).simpleString()
    )
    store.put_stat("g", "max_conv_rows", 42.0)
    assert [r.part_id for r in store.completed_part_ids("g").collect()] == [3]
    assert store.get_stat("g", "max_conv_rows") == 42.0


def test_unreadable_lineage_raises_before_any_bucket(spark, transcripts_df, tmp_path_factory):
    """Only a missing lineage table reads as "nothing done". A lineage path
    that exists but does not hold parquet must raise before any bucket
    runs: treating it as empty would re-process every bucket and then
    fail at the lineage append."""
    base = str(tmp_path_factory.mktemp("lineage_bad"))
    out, lin = os.path.join(base, "out"), os.path.join(base, "lineage")
    for d in (lin, lin + "_stats"):
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.parquet"), "w") as f:
            f.write("not a parquet file\n")

    built = []

    def plan(df):
        built.append(df)
        return _plan(df)

    with pytest.raises(Exception, match="(?i)parquet"):
        run_with_lineage(spark, transcripts_df, plan, out, lin, run_group="bad",
                         n_buckets=4, bucket_group_size=2)
    assert built == [] and not os.path.exists(out)
    # a stats table in the same state raises too; a missing one, or a
    # directory a first write left without any data file, reads None
    with pytest.raises(Exception, match="(?i)parquet"):
        LineageStore(spark, lin).get_stat("bad", "max_conv_rows")
    assert LineageStore(spark, os.path.join(base, "absent")).get_stat("bad", "x") is None
    os.makedirs(os.path.join(base, "crashed_stats", "_temporary"))
    assert LineageStore(spark, os.path.join(base, "crashed")).get_stat("bad", "x") is None


def _load_extraction_job():
    """jobs/run_extraction.py as a module (jobs/ is not a package)."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "run_extraction", os.path.join(root, "jobs", "run_extraction.py")
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def test_job_rerun_runs_no_prepass(spark, transcripts_df, tmp_path_factory, monkeypatch, capsys):
    """jobs/run_extraction.py's main, run in-process twice: the first run
    derives the KDF seed once; the rerun finds every bucket committed and
    runs no pre-pass (neither the KDF seed nor the max-conversation stat)."""
    import json
    import sys

    from pdf_extraction_ai_agent_spark.plans import lineage, pipeline

    job = _load_extraction_job()
    calls = {"kdf": 0, "max_conv": 0}
    real_kdf, real_mx = pipeline.precompute_kdf_seed, lineage.cached_max_conv_rows

    def counting_kdf(*a, **kw):
        calls["kdf"] += 1
        return real_kdf(*a, **kw)

    def counting_mx(*a, **kw):
        calls["max_conv"] += 1
        return real_mx(*a, **kw)

    monkeypatch.setattr(pipeline, "precompute_kdf_seed", counting_kdf)
    monkeypatch.setattr(lineage, "cached_max_conv_rows", counting_mx)

    base = str(tmp_path_factory.mktemp("job_rerun"))
    inp = os.path.join(base, "in")
    transcripts_df.write.parquet(inp)
    argv = ["run_extraction.py", "--input", inp, "--output", os.path.join(base, "out"),
            "--lineage", os.path.join(base, "lineage"), "--buckets", "4",
            "--bucket-group-size", "2", "--run-group", "r"]
    monkeypatch.setattr(sys, "argv", argv)

    job.main()
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert calls == {"kdf": 1, "max_conv": 1}
    assert sum(g["rows"] for g in first["groups"]) == transcripts_df.count()

    job.main()
    rerun = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert calls == {"kdf": 1, "max_conv": 1}
    assert rerun["skipped_buckets"] == 4 and rerun["groups"] == []


def test_job_ocr_fixture_commits_ocr_text(spark, transcripts_df, tmp_path_factory, monkeypatch):
    """jobs/run_extraction.py's main, in-process, with --ocr fixture over a
    corpus holding scanned turns: each committed scan carries the OCR text
    and the spans scanned from it, and the lineage counts every input row
    with no error. The pseudo-PDF turns are left out: they carry no scan
    image, so fixture OCR reports their needs_ocr rows as errors."""
    import datetime
    import sys

    from pdf_extraction_ai_agent_spark import spec
    from pdf_extraction_ai_agent_spark.fixtures.scanned import write_scanned_pdf

    job = _load_extraction_job()
    scans = [
        (f"scan{i}", 0, "user",
         write_scanned_pdf([[f"CLAIM NO: AB-1234{i}", "REASON: FIRE DAMAGE"]]).decode("latin-1"),
         "pdf_upload", datetime.datetime(2026, 1, 1))
        for i in range(2)
    ]
    corpus = transcripts_df.filter(~F.col("text").startswith(spec.PDF_HEADER)).unionByName(
        spark.createDataFrame(scans, transcripts_df.schema)
    )
    base = str(tmp_path_factory.mktemp("job_ocr"))
    inp, out, lin = (os.path.join(base, d) for d in ("in", "out", "lineage"))
    corpus.write.parquet(inp)
    monkeypatch.setattr(sys, "argv", [
        "run_extraction.py", "--input", inp, "--output", out, "--lineage", lin,
        "--buckets", "4", "--bucket-group-size", "2", "--run-group", "r", "--ocr", "fixture",
    ])
    job.main()

    committed = spark.read.parquet(out).filter(F.col("conv_id").startswith("scan"))
    got = {r["conv_id"]: r for r in committed.collect()}
    for i in range(2):
        row = got[f"scan{i}"]
        assert row["needs_ocr"] and row["error"] is None
        assert row["extracted_text"] == f"CLAIM NO: AB-1234{i}\nREASON: FIRE DAMAGE"
        assert row["claim_number"] == f"AB-1234{i}"
        claim = next(s for s in row["spans"] if s["field"] == "claim_number")
        assert row["extracted_text"][claim["start"]:claim["end"]] == f"AB-1234{i}"
    lineage_rows = spark.read.parquet(lin).filter(F.col("run_group") == "r").collect()
    assert sum(r["n_rows"] for r in lineage_rows) == spark.read.parquet(inp).count()
    assert sum(r["n_errors"] for r in lineage_rows) == 0
