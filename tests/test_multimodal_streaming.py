"""Multimodal binary plumbing and sequence-level decontamination spans."""

import hashlib

from pdf_extraction_ai_agent_spark.operators.multimodal import extract_media_meta


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
