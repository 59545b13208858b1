"""The extract kernel runs as an Arrow UDF that builds its struct with
``arrow_column``: on Spark, for every (with_spans, with_lob) pair, the
output schema and every value must equal the kernel run off-Spark
(``extract_turn_batch``) row by row — NULL and empty texts, error-channel
rows and nulls included."""

import random

import pandas as pd
import pytest

from pdf_extraction_ai_agent_spark.fixtures.transcripts import (
    _html_payload,
    _labeled_payload,
    _pdf_payload,
    _real_pdf_payload,
)
from pdf_extraction_ai_agent_spark.operators.extract import (
    extract_result_type,
    extract_turn_batch,
    with_extraction,
)


def _rows():
    rng = random.Random(11)
    real = _real_pdf_payload(rng)
    return [
        (0, None, None),
        (1, "", "t"),
        # truncated real PDF: the tokenizer bails and no PDF library is
        # installed → the per-row error channel
        (2, real[:200], "pdf_upload"),
        (3, real, "pdf_upload"),
        (4, _html_payload(rng), "html_paste"),
        (5, _pdf_payload(rng), "pdf_upload"),
        (6, _pdf_payload(rng, near_empty=True), "pdf_upload"),
        (7, _labeled_payload(rng), "t"),
        (8, "Vehicle collision on I-95, claim AB-12345, amount $1,200.00", None),
    ]


def _expected(text, tool, with_spans, with_lob) -> dict:
    out = extract_turn_batch(
        pd.Series([text], dtype=object), pd.Series([tool], dtype=object),
        with_spans=with_spans, with_lob=with_lob,
    ).iloc[0].to_dict()
    if not isinstance(out["error"], str):  # pandas NaN/None → SQL NULL
        out["error"] = None
    out["needs_ocr"] = bool(out["needs_ocr"])
    return out


@pytest.mark.parametrize("with_spans", [True, False])
@pytest.mark.parametrize("with_lob", [True, False])
def test_arrow_return_matches_pandas_kernel(spark, with_spans, with_lob):
    rows = _rows()
    df = spark.createDataFrame(rows, "id int, text string, tool string").repartition(3)
    out = with_extraction(df, with_spans=with_spans, with_lob=with_lob)

    rtype = extract_result_type(with_spans, with_lob)
    assert out.schema.fields[3:] == rtype.fields

    got = {r["id"]: r.asDict(recursive=True) for r in out.collect()}
    assert sorted(got) == [r[0] for r in rows]
    for rid, text, tool in rows:
        exp = _expected(text, tool, with_spans, with_lob)
        assert {k: got[rid][k] for k in rtype.fieldNames()} == exp, rid
    # the rows the kernel must route: an error row, a real-PDF row with
    # text, a needs_ocr row, and (with spans) a row that carries spans
    assert got[2]["error"] and got[2]["payload_kind"] == "pdf_real"
    assert got[3]["error"] is None and got[3]["extracted_text"]
    assert got[6]["needs_ocr"] is True
    assert all(got[i]["error"] is None for i in (0, 1, 4, 5, 7, 8))
    if with_spans:
        assert got[8]["spans"]


def test_flagship_plan_has_one_scalar_arrow_udf(spark, transcripts_df):
    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    plan = extract_pipeline(transcripts_df, num_partitions=4)._jdf.queryExecution(
    ).executedPlan().toString()
    nodes = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(nodes) == 1
    # eval type 250: the scalar Arrow UDF, not the pandas UDF's 200
    assert nodes[0].rstrip().endswith(", 250")
