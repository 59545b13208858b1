"""THE correctness gate (north rule): per-turn text equality between the
Spark engine and the vendored reference-semantics oracle, under stable turn
ordering — plus exact span equality (FIXTURES.md T2).

The oracle (row-at-a-time DOM/layout implementation) and the engine
(vectorized pandas/Arrow batch implementation) are written independently
against the same SPEC; this test joins them on (conv_id, turn_pos) — the
keyed version of the reference's positional compare (compare_models.py:49-59).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def engine_out(spark, transcripts_df):
    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    out = extract_pipeline(transcripts_df).cache()
    yield out
    # a cached frame substitutes into any later plan with the same shape
    # (the plan-shape tests build extract_pipeline(transcripts_df) too)
    out.unpersist()


def _golden_with_pos(golden_pdf):
    g = golden_pdf.sort_values(["conv_id", "turn_idx", "ts"], kind="mergesort").copy()
    g["turn_pos"] = g.groupby("conv_id").cumcount() + 1
    return g


def test_per_turn_text_equality(engine_out, golden_pdf):
    got = (
        engine_out.select("conv_id", "turn_pos", "extracted_text", "needs_ocr", "payload_kind")
        .toPandas()
        .set_index(["conv_id", "turn_pos"])
        .sort_index()
    )
    exp = _golden_with_pos(golden_pdf).set_index(["conv_id", "turn_pos"]).sort_index()
    assert len(got) == len(exp)
    merged = exp.join(got, lsuffix="_exp", rsuffix="_got", how="inner")
    assert len(merged) == len(exp)

    neq = merged[merged["extracted_text_exp"] != merged["extracted_text_got"]]
    if not neq.empty:
        key = neq.index[0]
        raise AssertionError(
            f"{len(neq)}/{len(merged)} turns mismatch; first at {key}:\n"
            f"--- expected ---\n{neq.iloc[0]['extracted_text_exp'][:2000]}\n"
            f"--- got ---\n{neq.iloc[0]['extracted_text_got'][:2000]}"
        )
    assert (merged["needs_ocr_exp"] == merged["needs_ocr_got"]).all()
    assert (merged["payload_kind_exp"] == merged["payload_kind_got"]).all()


def test_span_equality(engine_out, golden_pdf):
    got = (
        engine_out.select("conv_id", "turn_pos", "spans")
        .toPandas()
        .set_index(["conv_id", "turn_pos"])
        .sort_index()
    )
    exp = _golden_with_pos(golden_pdf).set_index(["conv_id", "turn_pos"]).sort_index()

    def norm(spans):
        if spans is None:
            return []
        return [(s["field"], int(s["start"]), int(s["end"]), s["value"]) for s in spans]

    n_spans = 0
    for key in exp.index:
        e = norm(exp.loc[key, "spans"])
        g = norm(got.loc[key, "spans"])
        assert e == g, f"span mismatch at {key}:\nexpected {e}\ngot      {g}"
        n_spans += len(e)
    assert n_spans > 100  # fixtures must actually exercise spans


def test_parsed_fields_match_oracle(engine_out, golden_pdf):
    """F2 native projections vs parse_fields.py:52-67 oracle."""
    from pdf_extraction_ai_agent_spark.oracle import parse_fields_oracle

    got = (
        engine_out.select("conv_id", "turn_pos", "extracted_text", "claim_number", "name",
                          "date", "confidence")
        .toPandas()
        .set_index(["conv_id", "turn_pos"])
        .sort_index()
    )
    exp_rows = got["extracted_text"].map(parse_fields_oracle)
    for key, exp in exp_rows.items():
        row = got.loc[key]
        for f in ["claim_number", "name", "date"]:
            g = row[f] if pd.notna(row[f]) else None
            assert g == exp[f], f"{f} mismatch at {key}: {g!r} != {exp[f]!r}"
        assert abs(row["confidence"] - exp["confidence"]) < 1e-9


def test_stable_ordering_under_duplicate_turn_idx(engine_out):
    """turn_pos must be dense 1..n per conversation even with duplicate
    turn_idx values (the (turn_idx, ts) tiebreak fixture)."""
    pos = (
        engine_out.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.max("turn_pos").alias("mx"),
             F.count_distinct("turn_pos").alias("nd"))
        .toPandas()
    )
    assert (pos["n"] == pos["mx"]).all()
    assert (pos["n"] == pos["nd"]).all()


def test_needs_ocr_fixture_present(golden_pdf):
    assert golden_pdf["needs_ocr"].sum() > 0
    assert set(golden_pdf["payload_kind"].unique()) == {"plain", "html", "pdf"}
