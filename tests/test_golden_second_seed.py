"""Second-seed golden corpus through the FULL Spark pipeline — guards the
main golden suite against seed-specific luck (different payload mix,
duplicate-turn_idx draws, skew shape)."""

from pyspark.sql import functions as F

from pdf_extraction_ai_agent_spark.fixtures import generate_transcripts
from pdf_extraction_ai_agent_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA
from pdf_extraction_ai_agent_spark.oracle import extract_turn_frame
from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline


def test_second_seed_golden(spark):
    pdf = generate_transcripts(n_convs=25, seed=777, skew=True, skew_factor=6)
    golden = extract_turn_frame(pdf)
    golden = golden.sort_values(["conv_id", "turn_idx", "ts"], kind="mergesort")
    golden["turn_pos"] = golden.groupby("conv_id").cumcount() + 1

    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    got = (
        extract_pipeline(df)
        .select("conv_id", "turn_pos", "extracted_text", "needs_ocr", "payload_kind",
                F.size("spans").alias("n_spans"))
        .toPandas()
        .set_index(["conv_id", "turn_pos"])
        .sort_index()
    )
    exp = golden.set_index(["conv_id", "turn_pos"]).sort_index()
    assert len(got) == len(exp)
    merged = exp.join(got, lsuffix="_e", rsuffix="_g", how="inner")
    assert len(merged) == len(exp)
    assert (merged["extracted_text_e"] == merged["extracted_text_g"]).all()
    assert (merged["needs_ocr_e"] == merged["needs_ocr_g"]).all()
    assert (merged["payload_kind_e"] == merged["payload_kind_g"]).all()
    assert (merged["spans"].map(len) == merged["n_spans"]).all()
