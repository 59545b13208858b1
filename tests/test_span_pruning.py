"""with_spans=False — manual column pruning through the UDF boundary
(r7): Catalyst prunes around a pandas UDF but cannot reach inside it, so
the kernel offers the prune explicitly (q91/q92 use it). The default
(spans on) remains the north-rule contract and is what every golden test
pins."""

import pandas as pd

from pdf_extraction_ai_agent_spark.fixtures.transcripts import (
    generate_transcripts,
)
from pdf_extraction_ai_agent_spark.operators.extract import (
    extract_result_type,
    extract_turn_batch,
)


def test_kernel_with_spans_false_matches_otherwise():
    pdf = generate_transcripts(n_convs=40, seed=11)
    full = extract_turn_batch(pdf["text"], pdf["tool"])
    pruned = extract_turn_batch(pdf["text"], pdf["tool"], with_spans=False)
    assert "spans" not in pruned.columns
    for col in ("extracted_text", "needs_ocr", "payload_kind", "error"):
        pd.testing.assert_series_equal(full[col], pruned[col])


def test_pipeline_with_spans_false_prunes_column_and_udf_work(spark):
    """The span-pruned operator q91/q92 run (with_spans=False)."""
    from pdf_extraction_ai_agent_spark.operators.extract import with_extraction

    df = spark.createDataFrame(
        [("c", i, "u", f"Claim C{i}\nreason: fire damage $12.50", "t", None)
         for i in range(30)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = with_extraction(df, with_spans=False)
    assert "spans" not in out.columns
    rows = out.collect()
    assert len(rows) == 30 and all(r["extracted_text"] for r in rows)
    # the default contract is unchanged
    assert "spans" in with_extraction(df).columns


_FIELD_COLS = ["claim_number", "name", "date", "confidence", "lob", "lobs"]


def test_kernel_with_fields_false_prunes_fields():
    pdf = generate_transcripts(n_convs=40, seed=11)
    full = extract_turn_batch(pdf["text"], pdf["tool"])
    pruned = extract_turn_batch(pdf["text"], pdf["tool"], with_fields=False)
    assert list(full.columns[-6:]) == _FIELD_COLS
    assert not set(_FIELD_COLS) & set(pruned.columns)
    for col in pruned.columns:
        pd.testing.assert_series_equal(full[col], pruned[col])
    assert [f.name for f in extract_result_type(True, True).fields][-6:] == _FIELD_COLS
    assert not set(_FIELD_COLS) & set(extract_result_type(True, False).names)


def test_pipeline_with_fields_false_prunes_kernel_output(spark):
    """with_extraction's default with_fields=False drops the fields and
    lob/lobs from the kernel's return type (no field of the Python node is
    named lob) and from the output; extract_pipeline parses them in the
    kernel and keeps lob/lobs last."""
    import re

    from pdf_extraction_ai_agent_spark.operators.extract import with_extraction
    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    df = spark.createDataFrame(
        [("c", i, "u", f"Claim C{i}\nauto collision $12.50", "t", None)
         for i in range(30)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    out = with_extraction(df)
    assert not set(_FIELD_COLS) & set(out.columns)
    assert not re.search(r"\blobs?\b", plan(out))
    assert len(out.collect()) == 30
    full = extract_pipeline(df)
    assert full.columns[-2:] == ["lob", "lobs"]
    # the kernel's struct carries them: its fields are read off the UDF
    assert re.search(r"\.lob AS lob#", plan(full))
    assert re.search(r"\.claim_number AS claim_number#", plan(full))
    assert {r["lob"] for r in full.collect()} == {"AUTO"}
