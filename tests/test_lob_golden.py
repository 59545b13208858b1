"""LOB classification (C1 ``lob``, C2 ``lobs``) against the oracle twin.

The engine classifies inside the extract kernel (operators.classify's
keyword scorer); the oracle (oracle.reference_extractor) is an independent
row-at-a-time C1/C2. The golden tests run the FULL pipeline with
``with_lob=True`` over both transcript fixture seeds and compare per turn;
the hand cases pin the semantics the reference implies: NULL/empty text,
the AUTO → GL → WC tiebreak, nested keywords, non-overlapping counts.
"""

import pytest
from pyspark.sql import functions as F

from pdf_extraction_ai_agent_spark import spec
from pdf_extraction_ai_agent_spark.fixtures import generate_transcripts
from pdf_extraction_ai_agent_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA
from pdf_extraction_ai_agent_spark.operators import classify
from pdf_extraction_ai_agent_spark.oracle import (
    classify_lob_oracle,
    classify_lobs_oracle,
    extract_turn_frame,
)
from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

GL = "GENERAL LIABILITY"

# (text, C1 lob, C2 lobs)
HAND_CASES = [
    (None, "UNKNOWN", ["AUTO"]),
    ("", "UNKNOWN", ["AUTO"]),
    ("no keywords here", "UNKNOWN", ["AUTO"]),
    # ties resolve in dict order AUTO → GL → WC
    ("auto gl wc", "AUTO", [GL]),
    ("gl wc", GL, ["AUTO"]),
    ("x gl wc x", GL, [GL, "WC"]),
    ("wc", "WC", ["AUTO"]),
    # nested keywords count separately: "AUTO LIABILITY" scores AUTO twice
    # (AUTO, AUTO LIABILITY) and GL once (LIABILITY), so it ties WC×2 and
    # wins on order — counting only the longest keyword would make WC win
    ("auto liability wc wc", "AUTO", ["WC"]),
    ("Workers Compensation and Employers Liability", "WC", ["AUTO"]),
    # C2 is padded-token membership, every LOB that hits, in fixed order
    ("the vehicle hit an employee at the premises", "AUTO", ["AUTO", GL, "WC"]),
    (" OSHA  lost time", "UNKNOWN", ["WC"]),
]


def _golden_with_pos(pdf):
    g = extract_turn_frame(pdf).sort_values(["conv_id", "turn_idx", "ts"], kind="mergesort")
    g["turn_pos"] = g.groupby("conv_id").cumcount() + 1
    return g.set_index(["conv_id", "turn_pos"]).sort_index()


@pytest.mark.parametrize(
    "seed,kw",
    [(42, dict(n_convs=30, skew=True, skew_factor=10)),
     (777, dict(n_convs=25, skew=True, skew_factor=6))],
)
def test_pipeline_lob_matches_oracle(spark, seed, kw):
    pdf = generate_transcripts(seed=seed, **kw)
    exp = _golden_with_pos(pdf)
    out = extract_pipeline(spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA), with_lob=True)
    # contract: lob/lobs close the output, after the field projections
    assert out.columns[-3:] == ["confidence", "lob", "lobs"]
    types = dict(out.dtypes)
    assert types["lob"] == "string" and types["lobs"] == "array<string>"
    got = (
        out.select("conv_id", "turn_pos", "extracted_text", "lob", "lobs")
        .toPandas()
        .set_index(["conv_id", "turn_pos"])
        .sort_index()
    )
    assert len(got) == len(exp) and got.index.equals(exp.index)
    assert (got["extracted_text"] == exp["extracted_text"]).all()
    exp_lob = exp["extracted_text"].map(classify_lob_oracle)
    exp_lobs = exp["extracted_text"].map(classify_lobs_oracle)
    for key in exp.index:
        assert got.loc[key, "lob"] == exp_lob[key], f"lob mismatch at {key}"
        assert list(got.loc[key, "lobs"]) == exp_lobs[key], f"lobs mismatch at {key}"
    # the fixtures must exercise every label and multi-label answers
    assert set(exp_lob) == {"AUTO", GL, "WC", "UNKNOWN"}
    assert exp_lobs.map(len).max() == 3


@pytest.mark.parametrize("text,lob,lobs", HAND_CASES)
def test_hand_cases_oracle_and_scorer(text, lob, lobs):
    assert classify_lob_oracle(text) == lob
    assert classify_lobs_oracle(text) == lobs
    assert classify.score_lobs([text]) == ([lob], [lobs])


def test_hand_cases_through_spark(spark):
    """The Column wrappers (q03/q35's path) and the kernel path
    (extract_pipeline) agree with the hand expectations."""
    rows = [(i, t) for i, (t, _, _) in enumerate(HAND_CASES)]
    df = spark.createDataFrame(rows, "i int, text string")
    got = {
        r["i"]: (r["lob"], list(r["lobs"]))
        for r in df.select(
            "i",
            classify.classify_lob_c1(F.col("text")).alias("lob"),
            classify.classify_lobs_c2(F.col("text")).alias("lobs"),
        ).collect()
    }
    assert got == {i: (lob, lobs) for i, (_, lob, lobs) in enumerate(HAND_CASES)}

    turns = spark.createDataFrame(
        [("c", i, "u", t, "t", None) for i, t in rows], TRANSCRIPT_SCHEMA
    )
    piped = {
        r["turn_idx"]: (r["lob"], list(r["lobs"]))
        for r in extract_pipeline(turns, with_fields=False, with_lob=True).collect()
    }
    # the kernel classifies the STRIPPED plain text; every hand case is
    # insensitive to surrounding whitespace
    assert piped == got


def test_overlapping_matches_not_double_counted(monkeypatch):
    """Counts are non-overlapping (engine str.count, oracle re.findall).
    No shipped keyword can overlap itself, so the table is patched: in 'AAAAABB', 'AAA' occurs once non-overlapping (three times
    overlapping) and 'B' twice — WC must win, not AUTO."""
    table = {"AUTO": ["AAA"], GL: ["Z"], "WC": ["B"]}
    for lob, kws in table.items():
        monkeypatch.setitem(spec.LOB_PATTERNS_C1, lob, kws)
    monkeypatch.setattr(
        classify, "_C1", tuple((lob, tuple(table[lob])) for lob in spec.LOB_C1_ORDER)
    )
    assert classify_lob_oracle("AAAAABB") == "WC"
    assert classify.score_lobs(["aaaaabb"])[0] == ["WC"]


def test_lob_from_name(spark):
    """C3 (excel_lob_consolidator.py:10-20): first matching rule wins."""
    names = ["Auto Liability", "workers comp 2023", "GL sheet", "General",
             "Property Schedule", "Summary", "auto_wc"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = [r[0] for r in df.select(classify.classify_lob_from_name(F.col("name"))).collect()]
    assert got == ["AUTO", "WC", "GL", "GL", "PROPERTY", "UNKNOWN", "AUTO"]
