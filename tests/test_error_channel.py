"""Per-row error channel: a poison document yields an `error` row (reference
cli.py:41-49 semantics), never a failed batch/job; healthy rows in the same
batch are unaffected."""

import pandas as pd

from pdf_extraction_ai_agent_spark.operators import extract as ex


def test_poison_row_isolated(monkeypatch):
    real = ex._extract_html_batch

    def poisoned(texts: list) -> list:
        if any("POISON" in t for t in texts):
            raise ValueError("decoder exploded")
        return real(texts)

    monkeypatch.setattr(ex, "_extract_html_batch", poisoned)

    texts = pd.Series([
        "<html>\n<body>\n<p>good content block that is long enough to keep</p>\n</body>\n</html>",
        "<html>\n<body>\n<p>POISON content block that is long enough to keep</p>\n</body>\n</html>",
        "plain text row untouched by the html branch",
    ])
    tools = pd.Series(["html_paste", "html_paste", ""])
    out = ex.extract_turn_batch(texts, tools)

    # healthy html row recovered by the per-row fallback
    assert pd.isna(out.iloc[0]["error"])
    assert "good content block" in out.iloc[0]["extracted_text"]
    # poison row: error recorded, empty text, batch did not raise
    assert "ValueError" in out.iloc[1]["error"]
    assert out.iloc[1]["extracted_text"] == ""
    # unrelated branch untouched
    assert pd.isna(out.iloc[2]["error"])
    assert out.iloc[2]["extracted_text"].startswith("plain text")


def test_no_error_on_clean_corpus(transcripts_pdf):
    out = ex.extract_turn_batch(transcripts_pdf["text"], transcripts_pdf["tool"])
    assert out["error"].isna().all()


def test_poison_real_pdf_isolated(monkeypatch):
    """Real PDFs go through one per-document loop: a poison PDF yields an
    error row, and the healthy PDF in the same batch keeps its text and
    needs_ocr flag."""

    def fake_real_pdf(payload):
        if "POISON" in payload:
            raise ValueError("xref exploded")
        return "healthy pdf text", True

    monkeypatch.setattr(ex, "extract_real_pdf_text", fake_real_pdf)
    texts = pd.Series(["%PDF-1.4 healthy", "%PDF-1.4 POISON", "plain row"])
    out = ex.extract_turn_batch(texts, pd.Series([None, None, None]))

    assert out["payload_kind"].tolist() == ["pdf_real", "pdf_real", "plain"]
    assert pd.isna(out.iloc[0]["error"])
    assert out.iloc[0]["extracted_text"] == "healthy pdf text"
    assert bool(out.iloc[0]["needs_ocr"]) is True
    assert out.iloc[1]["error"] == "ValueError: xref exploded"
    assert out.iloc[1]["extracted_text"] == ""
    assert bool(out.iloc[1]["needs_ocr"]) is False
    assert pd.isna(out.iloc[2]["error"])
    assert out.iloc[2]["extracted_text"] == "plain row"
