"""Cluster job entry point — the north rule's launch path:

    spark-submit --py-files pdf_extraction_ai_agent_spark.zip \\
        jobs/run_extraction.py \\
        --input <iceberg-table-or-parquet-path> \\
        --output <table-or-path> --lineage <table-or-path> \\
        [--format iceberg|parquet] [--buckets 4096] [--run-group r1] \\
        [--ocr off|auto|fixture|real]

Reads the transcript table, runs the extraction pipeline with per-partition
lineage checkpointing (idempotent resume: rerunning after a failure
processes only unfinished buckets), writes (conv_id, turn_idx, ts,
extracted_text, spans, needs_ocr, payload_kind, error, turn_pos,
claim_number, name, date, confidence, lob, lobs) partitioned by part_id.

The partitioning and ordering strategy come from the largest
conversation (extract_pipeline's ``salt_buckets='auto'``: conv_id alone
and one window unless a conversation outgrows a turn bucket): one
column-pruned pre-pass whose result is cached in the lineage stats table
per run-group, so resumes skip it.

Packaging: `python jobs/package.py` produces the zip for --py-files.
"""

from __future__ import annotations

import argparse
import json


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts: iceberg table name or parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--buckets", type=int, default=256,
                    help="lineage buckets = resume granularity; ~2-4× executor count")
    ap.add_argument("--bucket-group-size", type=int, default=8)
    ap.add_argument("--run-group", default="default")
    ap.add_argument("--ocr", default="off",
                    choices=["off", "auto", "fixture", "real"],
                    help="execute the OCR fallback on needs_ocr rows inside "
                         "the extract kernel (reference extract_text.py:18-24): "
                         "'real' = rasterize+tesseract (cluster image), "
                         "'fixture' = the dependency-free template matcher "
                         "for generated scans, 'auto' = real-when-installed "
                         "else fixture. Failures land in the per-row error "
                         "channel, never a job abort. Default off: rows keep "
                         "the needs_ocr flag for a downstream OCR pass")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from pdf_extraction_ai_agent_spark.plans.lineage import (
        LineageStore,
        cached_max_conv_rows,
        run_with_lineage,
    )
    from pdf_extraction_ai_agent_spark.plans.pipeline import (
        extract_pipeline,
        precompute_kdf_seed,
    )
    from pdf_extraction_ai_agent_spark.session import ENGINE_CONF

    # on a cluster, master/executors come from spark-submit; only the
    # engine's settings are set here
    spark = (
        SparkSession.builder.appName("transcript-extraction")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )

    if args.format == "iceberg":
        transcripts = spark.read.table(args.input)
    else:
        transcripts = spark.read.parquet(args.input)

    # the pre-passes scan the whole input: run them only when a bucket is
    # left (the committed part ids are at most --buckets rows)
    done = LineageStore(spark, args.lineage, fmt=args.format).completed_part_ids(
        args.run_group
    )
    bucket_left = bool(set(range(args.buckets)) - {r.part_id for r in done.collect()})

    mx = kdf_seed = None
    if bucket_left:
        mx = cached_max_conv_rows(
            spark, transcripts, args.lineage, run_group=args.run_group,
            fmt=args.format,
        )
        # AES-256 KDF pre-stage: derive the per-encrypt-dict Algorithm 2.B
        # hashes ONCE over the whole input and reuse the seed in every
        # bucket group (the per-group pipeline would otherwise re-run it)
        kdf_seed = precompute_kdf_seed(transcripts)

    metrics = run_with_lineage(
        spark,
        transcripts,
        lambda df: extract_pipeline(
            df, salt_buckets="auto", max_conv_rows=mx, kdf_seed=kdf_seed,
            ocr=None if args.ocr == "off" else args.ocr,
        ),
        out_path=args.output,
        lineage_path=args.lineage,
        run_group=args.run_group,
        n_buckets=args.buckets,
        bucket_group_size=args.bucket_group_size,
        fmt=args.format,
    )
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
