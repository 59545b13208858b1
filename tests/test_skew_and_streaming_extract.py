"""Skew handling of the salted pre-UDF repartition, and the extraction UDF
under Structured Streaming (available-now incremental extraction)."""

import os

from pyspark.sql import functions as F

from pdf_extraction_ai_agent_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA
from pdf_extraction_ai_agent_spark.operators.extract import with_extraction
from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline, salted_repartition


def test_salting_spreads_skewed_conversation(spark, transcripts_pdf):
    """The skew fixture (conv 0 has ~300 turns vs median ~4) must NOT
    serialize into one task: with salting, the hot conversation's turns
    land in many partitions; without, they collapse into one."""
    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    hot = "conv-00000000"

    salted = salted_repartition(df, num_partitions=8, salt_buckets=8)
    hot_parts = (
        salted.filter(F.col("conv_id") == hot)
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    unsalted = df.repartition(8, F.col("conv_id"))
    hot_parts_unsalted = (
        unsalted.filter(F.col("conv_id") == hot)
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert hot_parts_unsalted == 1
    assert hot_parts >= 4, f"salting spread hot conv over only {hot_parts} partitions"

    # and the ordering window still produces dense per-conv positions after
    # extraction on salted partitions (the two-pass safety argument)
    out = extract_pipeline(df, num_partitions=8)
    hot_rows = out.filter(F.col("conv_id") == hot).select("turn_pos").collect()
    positions = sorted(r.turn_pos for r in hot_rows)
    assert positions == list(range(1, len(positions) + 1))


def test_streaming_extraction_available_now(spark, transcripts_pdf, tmp_path_factory):
    """readStream → extract_turn_batch → parquet sink (Trigger.AvailableNow):
    the same UDF stage runs incrementally and matches the batch output."""
    base = str(tmp_path_factory.mktemp("stream_extract"))
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))

    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    df.write.parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    extracted = with_extraction(stream).drop("text", "tool")
    q = (
        extracted.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out)
    batch = with_extraction(df).drop("text", "tool")
    assert got.count() == batch.count()
    diff = (
        got.select("conv_id", "turn_idx", "ts", "extracted_text", "needs_ocr")
        .exceptAll(batch.select("conv_id", "turn_idx", "ts", "extracted_text", "needs_ocr"))
        .count()
    )
    assert diff == 0

    # rerun: checkpoint prevents reprocessing (exactly-once)
    q2 = (
        extracted.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == batch.count()
