"""Pipeline-level OCR execution (r7): extract_pipeline(ocr=…) runs the
flag-guarded OCR fallback inside the job's pipeline and re-scans spans
from the final text — the reference's always-on fallback
(extract_text.py:18-24), opt-in here via jobs/run_extraction.py --ocr."""

from pyspark.sql import functions as F

from pdf_extraction_ai_agent_spark.fixtures.scanned import write_scanned_pdf


def _rows(spark):
    scan = write_scanned_pdf(
        [["CLAIM NO: AB-12345", "REASON: FIRE DAMAGE"]]
    ).decode("latin-1")
    rows = [
        ("c1", 1, "u", scan, "pdf_upload"),
        ("c1", 2, "u", "Claim no: CD-77777 filed.\nplain text body here", "t"),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.to_timestamp(F.lit("2026-01-01")))


def test_pipeline_ocr_fixture_replaces_text_and_respans(spark):
    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    df = _rows(spark)
    out = {
        r["turn_idx"]: r
        for r in extract_pipeline(df, ocr="fixture").collect()
    }
    scanned = out[1]
    assert scanned["needs_ocr"] is True
    assert scanned["extracted_text"] == "CLAIM NO: AB-12345\nREASON: FIRE DAMAGE"
    assert scanned["error"] is None
    # spans re-scanned from the FINAL (OCR) text
    fields = {s["field"]: s for s in scanned["spans"]}
    assert fields["claim_number"]["value"] == "AB-12345"
    assert scanned["extracted_text"][
        fields["claim_number"]["start"] : fields["claim_number"]["end"]
    ] == "AB-12345"
    # downstream field parse reads the OCR'd text too
    assert scanned["claim_number"] == "AB-12345"
    # the clean row is untouched relative to the flag-only pipeline
    base = {
        r["turn_idx"]: r
        for r in extract_pipeline(df).collect()
    }
    assert out[2] == base[2]


def test_pipeline_ocr_default_keeps_flag_only_contract(spark):
    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    df = _rows(spark)
    out = {
        r["turn_idx"]: r
        for r in extract_pipeline(df).select("turn_idx", "needs_ocr", "extracted_text").collect()
    }
    assert out[1]["needs_ocr"] is True
    assert out[1]["extracted_text"] == "--- PAGE 1 ---"  # no OCR executed


def test_pipeline_ocr_reclassifies_lob_from_final_text(spark):
    """lob/lobs describe the FINAL text: the marker-only pre-OCR text
    classifies UNKNOWN/['AUTO'], the OCR'd text WC/['WC']; the clean row
    keeps the kernel's classification."""
    from pdf_extraction_ai_agent_spark.oracle import (
        classify_lob_oracle,
        classify_lobs_oracle,
    )
    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    scan = write_scanned_pdf(
        [["CLAIM NO: AB-12345", "WORKERS COMPENSATION - LOST TIME"]]
    ).decode("latin-1")
    df = spark.createDataFrame(
        [("c1", 1, "u", scan, "pdf_upload"),
         ("c1", 2, "u", "Vehicle collision, claim CD-77777", "t")],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.to_timestamp(F.lit("2026-01-01")))

    out = {r["turn_idx"]: r for r in extract_pipeline(df, ocr="fixture").collect()}
    flag_only = {r["turn_idx"]: r for r in extract_pipeline(df).collect()}
    assert flag_only[1]["lob"] == "UNKNOWN" and flag_only[1]["lobs"] == ["AUTO"]
    scanned = out[1]
    assert scanned["extracted_text"] == (
        "CLAIM NO: AB-12345\nWORKERS COMPENSATION - LOST TIME"
    )
    assert scanned["lob"] == "WC" and scanned["lobs"] == ["WC"]
    assert scanned["lob"] == classify_lob_oracle(scanned["extracted_text"])
    assert scanned["lobs"] == classify_lobs_oracle(scanned["extracted_text"])
    assert out[2]["lob"] == "AUTO" and out[2]["lobs"] == ["AUTO"]
    assert out[2] == flag_only[2]
