"""Cluster curation job — the corpus-cleaning sibling of run_extraction.py:

    spark-submit --py-files pdf_extraction_ai_agent_spark.zip \\
        jobs/run_curation.py \\
        --input <documents-table-or-parquet-path> \\
        --output <table-or-path> --lineage <table-or-path> \\
        [--format iceberg|parquet] [--buckets 256] [--run-group r1]

Reads a documents table (doc_id, text, …), runs the per-document curation
stage (C4 boilerplate filtering, Gopher quality flags, language ID, PII
scrubbing) plus the corpus-global exact-dedup drop list, and writes one
verdict row per document — (doc_id, …, c4_kept, gopher_pass,
is_exact_dup, kept, cleaned_text, scrubbed_text) — partitioned by
part_id with per-partition lineage and idempotent resume.

Stage split (see plans/curation_job.py): the global dedup pass is
computed AT MOST ONCE per run-group and cached next to the lineage table;
everything that runs per bucket group is map-only, so a rerun after any
failure re-processes only unfinished buckets and reuses the cached drop
list.

Packaging: `python jobs/package.py` produces the zip for --py-files.
"""

from __future__ import annotations

import argparse
import json


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="documents: iceberg table name or parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--buckets", type=int, default=256,
                    help="lineage buckets = resume granularity")
    ap.add_argument("--bucket-group-size", type=int, default=8)
    ap.add_argument("--run-group", default="default")
    ap.add_argument("--rules", default="c4,gopher,dedup",
                    help="comma list of verdicts gating the final kept "
                         "flag (c4, gopher, dedup); every verdict column "
                         "is emitted regardless")
    args = ap.parse_args()
    rules = tuple(r.strip() for r in args.rules.split(",") if r.strip())

    from pyspark.sql import SparkSession

    from pdf_extraction_ai_agent_spark.plans.curation_job import (
        cached_exact_dup_losers,
        curation_plan,
    )
    from pdf_extraction_ai_agent_spark.plans.lineage import run_with_lineage
    from pdf_extraction_ai_agent_spark.session import ENGINE_CONF

    spark = (
        SparkSession.builder.appName("corpus-curation")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )

    if args.format == "iceberg":
        docs = spark.read.table(args.input)
    else:
        docs = spark.read.parquet(args.input)

    losers = cached_exact_dup_losers(
        spark, docs, args.lineage, run_group=args.run_group, fmt=args.format
    )

    metrics = run_with_lineage(
        spark,
        docs,
        lambda df: curation_plan(df, losers, rules=rules),
        out_path=args.output,
        lineage_path=args.lineage,
        run_group=args.run_group,
        n_buckets=args.buckets,
        bucket_group_size=args.bucket_group_size,
        fmt=args.format,
        key_col="doc_id",
    )
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
