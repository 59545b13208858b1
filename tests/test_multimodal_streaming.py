"""Multimodal binary plumbing + incremental (available-now) streaming."""

import hashlib
import os

from pyspark.sql import functions as F

from pdf_extraction_ai_agent_spark.operators.multimodal import (
    decode_stub,
    extract_media_meta,
    frame_sample_plan,
)
from pdf_extraction_ai_agent_spark.streaming.incremental import (
    run_available_now_stream,
    windowed_event_counts,
)


def test_media_meta_roundtrip(spark):
    payloads = [(1, b"fake-image-bytes", "image"), (2, b"fake-video-bytes" * 100, "video"),
                (3, b"", "audio")]
    df = spark.createDataFrame(payloads, "media_id long, payload binary, kind string")
    out = {r.media_id: r for r in extract_media_meta(df).collect()}
    assert out[1].payload_bytes == len(b"fake-image-bytes")
    assert out[1].digest == hashlib.md5(b"fake-image-bytes").hexdigest()
    assert out[1].frame_count == 1  # images are single-frame
    assert out[2].frame_count >= 1
    assert out[3].payload_bytes == 0
    # deterministic across invocations
    again = {r.media_id: r for r in extract_media_meta(df).collect()}
    assert all(out[k] == again[k] for k in out)


def test_frame_sample_plan(spark):
    meta = spark.createDataFrame(
        [(1, "video", 95), (2, "image", 1)], "media_id long, kind string, frame_count int"
    )
    rows = frame_sample_plan(meta, every_n=30).collect()
    v = sorted(r.frame_idx for r in rows if r.media_id == 1)
    assert v == [0, 30, 60, 90]
    assert [r.frame_idx for r in rows if r.media_id == 2] == [0]


def test_available_now_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream"))
    src = os.path.join(base, "src")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events.write.parquet(src)

    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    run_available_now_stream(spark, src, ckpt, out, schema, window="1 hour", watermark="2 hours")

    got = (
        spark.read.parquet(out)
        .groupBy("window_start", "event_type")
        .agg(F.sum("n_events").alias("n_events"))
    )
    exp = windowed_event_counts(events).select("window_start", "event_type", "n_events")

    # append mode only emits windows fully below the final watermark
    # (max_ts - 2h); trailing open windows stay in state — correct streaming
    # semantics, so compare only closed windows.
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    cutoff = F.lit(max_ts) - F.expr("INTERVAL 3 HOURS")
    exp_closed = exp.filter(F.col("window_start") <= cutoff)
    got_closed = got.filter(F.col("window_start") <= cutoff)
    diff = got_closed.exceptAll(exp_closed).count() + exp_closed.exceptAll(got_closed).count()
    assert diff == 0
    assert got.exceptAll(exp).count() == 0  # nothing beyond batch truth

    # rerun with the same checkpoint: no duplicate output (exactly-once)
    n_before = spark.read.parquet(out).count()
    run_available_now_stream(spark, src, ckpt, out, schema, window="1 hour", watermark="2 hours")
    assert spark.read.parquet(out).count() == n_before


def test_streaming_lsh_candidates_match_batch(spark, tmp_path_factory):
    """Stateful streaming dedup (applyInPandasWithState): candidates
    accumulated over TWO microbatches (maxFilesPerTrigger=1) must equal the
    batch lsh_candidates pair set on the same corpus — cross-batch pairs
    prove the per-bucket state carries between triggers."""
    from pdf_extraction_ai_agent_spark.operators import dedup
    from pdf_extraction_ai_agent_spark.streaming.dedup_stream import (
        streaming_lsh_candidates,
    )

    rows1 = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),
        (5, "completely different content about spark shuffle partitions and joins"),
    ]
    rows2 = [
        (3, "The quick brown fox jumps over the lazy dog near the river bank!"),
        (4, "the quick brown fox leaps over the lazy dog near the river bank"),
        (6, "totally unrelated text mentioning adaptive query execution and codegen"),
    ]
    base = tmp_path_factory.mktemp("dedup_stream")
    src = str(base / "src")
    schema = "doc_id long, text string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got: set = set()

    def sink(batch_df, _bid):
        got.update((r.doc_a, r.doc_b) for r in batch_df.collect())

    q = (
        streaming_lsh_candidates(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch_docs = spark.createDataFrame(rows1 + rows2, schema)
    expected = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidates(dedup.minhash_signatures(batch_docs)).collect()
    }
    assert got == expected
    # cross-microbatch pair must exist (1 arrived in batch 0, 3/4 in batch 1)
    assert any(a == 1 and b in (3, 4) for a, b in got)


def test_streaming_lsh_capped_bucket_poisons(spark, tmp_path_factory):
    """max_bucket mirrors batch semantics going forward: four identical docs
    share every band; with cap=2 the bucket poisons when doc 3 arrives, so
    batches from then on emit nothing — only the pre-cap pair (1,2) from
    microbatch 0 survives (append mode cannot retract it; documented)."""
    from pdf_extraction_ai_agent_spark.streaming.dedup_stream import (
        streaming_lsh_candidates,
    )

    text = "the quick brown fox jumps over the lazy dog near the river bank"
    base = tmp_path_factory.mktemp("dedup_stream_cap")
    src = str(base / "src")
    schema = "doc_id long, text string"
    spark.createDataFrame([(1, text), (2, text)], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame([(3, text), (4, text)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    got: set = set()

    def sink(batch_df, _bid):
        got.update((r.doc_a, r.doc_b) for r in batch_df.collect())

    q = (
        streaming_lsh_candidates(stream, max_bucket=2)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert got == {(1, 2)}, got


def test_streaming_embedding_lsh_matches_batch(spark, tmp_path_factory, sf_dir):
    """Sign-LSH embedding near-dup candidates, streamed over two
    microbatches, must equal the batch band-bucket candidate set on the
    same vectors (round-2 verdict item 8) — including cross-trigger pairs."""
    from pdf_extraction_ai_agent_spark.operators.similarity import (
        _band_explode,
        rh_signatures_exact,
    )
    from pdf_extraction_ai_agent_spark.streaming.dedup_stream import (
        streaming_embedding_lsh_candidates,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(80)
    base = tmp_path_factory.mktemp("emb_stream")
    src = str(base / "src")
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode("overwrite").parquet(src)
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    got: set = set()

    def sink(batch_df, _bid):
        got.update((r.doc_a, r.doc_b) for r in batch_df.collect())

    q = (
        streaming_embedding_lsh_candidates(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from pdf_extraction_ai_agent_spark.operators.similarity import (
        PROD_BAND_BITS, PROD_N_PLANES,
    )

    bands = _band_explode(
        rh_signatures_exact(spark.read.parquet(src), n_planes=PROD_N_PLANES),
        PROD_N_PLANES, PROD_BAND_BITS,
    )
    l = bands.select(F.col("vid").alias("doc_a"), "band_idx", "band_key")
    r = bands.select(F.col("vid").alias("doc_b"), "band_idx", "band_key")
    expected = {
        (x.doc_a, x.doc_b)
        for x in l.join(r, ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .collect()
    }
    assert got == expected
    # state must carry across triggers: at least one even-odd (cross-batch) pair
    assert any((a + b) % 2 == 1 for a, b in got)


def test_contaminated_spans_merge_semantics(spark):
    """Sequence-level decontamination: overlapping hit 3-grams merge into
    one maximal span; hits separated by ≥k words make separate spans;
    1-based inclusive word coordinates; clean docs emit nothing."""
    from pdf_extraction_ai_agent_spark.operators import curation

    # eval doc contributes grams of "aa bb cc dd" → hits in corpus docs
    eval_docs = spark.createDataFrame(
        [(100, "aa bb cc dd")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            # overlapping hits: "aa bb cc" @1 and "bb cc dd" @2 → one span 1..5
            (1, "aa bb cc dd zz"),
            # two disjoint hits: "aa bb cc" @1 and @7 (gap ≥ 3) → two spans
            (2, "aa bb cc xx yy zz aa bb cc"),
            # no hits
            (3, "nothing to see here at all"),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r.doc_id, r.start_word, r.end_word, r.total_words)
        for r in curation.contaminated_spans(docs, eval_docs).collect()
    )
    assert rows == [
        (1, 1, 4, 5),
        (2, 1, 3, 9),
        (2, 7, 9, 9),
    ], rows


def test_streaming_window_dedup_matches_batch(spark, tmp_path_factory):
    """Stateful streaming window-dedup: the union of kept chunks over TWO
    doc-ordered microbatches equals the batch window_exact_dedup keep set
    on the same corpus — a digest first seen in trigger 1 must suppress
    its re-occurrences arriving in trigger 2 (cross-batch state)."""
    from pdf_extraction_ai_agent_spark.operators import dedup
    from pdf_extraction_ai_agent_spark.streaming.dedup_stream import (
        streaming_window_dedup_chunks,
    )

    rows1 = [
        (1, "a b c x y z"),
        (2, "a b c q r s"),          # chunk 'a b c' already in doc 1
    ]
    rows2 = [
        (3, "q r s a b c"),          # both chunks are earlier docs'
        (4, "m n o m n o"),          # within-doc duplicate in one trigger
    ]
    base = tmp_path_factory.mktemp("win_dedup_stream")
    src = str(base / "src")
    schema = "doc_id long, text string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got: set = set()

    def sink(batch_df, _bid):
        got.update((r.doc_id, r.pos, r.chunk) for r in batch_df.collect())

    q = (
        streaming_window_dedup_chunks(stream, window_words=3)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch_docs = spark.createDataFrame(rows1 + rows2, schema)
    batch_out = dedup.window_exact_dedup(batch_docs, window_words=3)
    # independent expectation, computed in python
    import hashlib

    def md5l(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    seen = {}
    for doc_id, text in sorted(rows1 + rows2):
        words = " ".join(text.split()).split(" ")
        for pos in range((len(words) + 2) // 3):
            chunk = " ".join(words[pos * 3:pos * 3 + 3])
            h = md5l(chunk)
            if h not in seen:
                seen[h] = (doc_id, pos, chunk)
    want = set(seen.values())
    assert got == want
    # and the batch operator's clean_text agrees with the same keep set
    batch_clean = {r["doc_id"]: r["clean_text"] for r in batch_out.collect()}
    assert batch_clean[3] == "" and batch_clean[4] == "m n o"
