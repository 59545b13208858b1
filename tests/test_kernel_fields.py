"""The F2 fields (claim_number, name, date, confidence) as the extract
kernel parses them, against the reference oracle ``parse_fields_oracle``;
and the kernel's span scan against ``find_spans`` on the Unicode inputs
where lowered literal prefilters would be unsound.

Both sides run Python ``re``. The Catalyst ladders the flagship used to
run are Java regex, where ``(?i)``, ``\\s`` and ``\\d`` are ASCII-only and
no dateutil rung exists: they disagree with the oracle on the named
inputs below (functions/fields.py lists the divergences)."""

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from pdf_extraction_ai_agent_spark.operators.extract import (
    _spans_chunked,
    extract_turn_batch,
)
from pdf_extraction_ai_agent_spark.oracle import extract_turn, parse_fields_oracle
from pdf_extraction_ai_agent_spark.oracle.reference_extractor import find_spans

FIELDS = ["claim_number", "name", "date", "confidence"]

# Java regex reads each of these differently from Python re: a dotless ı
# that (?i) folds onto 'i', no-break spaces that \s matches, a month
# abbreviation only dateutil knows, an Arabic-Indic digit that \d matches
FIELD_INPUTS = [
    "Claım No: ABC12345",
    "Claim No:\xa0ABC12345",
    "Claimant:\xa0John Smith",
    "Loss date Sept 5, 2024",
    "Loss date ٣/14/2024",
]
# (?i) folds ı, İ and ſ onto ASCII letters; str.lower() does not
SPAN_INPUTS = [
    "Claım No: ABC12345",
    "CLAİM NO: ABC12345",
    "Reaſon: water damage",
    "Descrıption: hail",
]


def _kernel_fields(texts: list) -> list[tuple[str, dict]]:
    """(extracted text, fields) per text, from the off-Spark kernel."""
    out = extract_turn_batch(pd.Series(texts, dtype=object),
                             pd.Series([""] * len(texts), dtype=object))
    rows = []
    for _, r in out.iterrows():
        row = {f: (r[f] if isinstance(r[f], str) else None) for f in FIELDS[:3]}
        row["confidence"] = float(r["confidence"])
        rows.append((r["extracted_text"], row))
    return rows


@pytest.mark.parametrize("text", FIELD_INPUTS)
def test_named_field_inputs_match_oracle(text):
    ((extracted, got),) = _kernel_fields([text])
    exp = parse_fields_oracle(extracted)
    assert got == exp
    assert got["confidence"] > 0  # each input carries its field


@pytest.mark.parametrize("text", SPAN_INPUTS)
def test_named_span_inputs_match_oracle(text):
    assert _spans_chunked(text) == find_spans(text)
    assert find_spans(text)  # the oracle finds a span the ASCII gate skipped


def test_fold_traps_are_every_unlowered_ascii_fold():
    """The lowered literal gates are sound on text free of _FOLD_TRAPS:
    every non-ASCII character that re.IGNORECASE matches to an ASCII
    letter is one of them, or lowers to that letter itself."""
    import re
    import sys

    from pdf_extraction_ai_agent_spark.operators.extract import _FOLD_TRAPS

    letter = re.compile("(?i)[a-z]").fullmatch
    folds = [c for c in map(chr, range(0x80, sys.maxunicode + 1)) if letter(c)]
    assert sorted(c for c in folds if not c.lower().isascii()) == sorted(_FOLD_TRAPS)
    assert [c for c in folds if c.lower().isascii()] == ["\u212a"]  # Kelvin sign → 'k'


def test_off_spark_frame_carries_fields():
    texts = ["Claim No: AB-12345\nClaimant: Jane Doe, loss date 3/14/2024", "", "plain"]
    out = extract_turn_batch(pd.Series(texts, dtype=object), pd.Series(["", None, "t"]))
    assert list(out.columns[-6:]) == [*FIELDS, "lob", "lobs"]
    assert out.loc[0, FIELDS].tolist() == ["AB-12345", "Jane Doe", "2024-03-14", 1.0]
    assert out["claim_number"].iloc[1:].isna().all()
    assert out["confidence"].iloc[1:].tolist() == [0.0, 0.0]
    assert out["confidence"].dtype == "float64"


_FRAGMENTS = st.sampled_from([
    "Claim No:", "Claım No:", "CLAİM #", "claim", "Claim ID -", "ref:", "Reference",
    "Claimant:", "Insured -", "Name:", "NAME:", "John Smith", "Mary O'Neil", "José Díaz",
    "ABC12345", "AB-123/45", "wc-99", "Sept 5, 2024", "March 14, 2024", "Mar 3, 2024",
    "Feb 30, 2024", "3/14/2024", "٣/14/2024", "14-02-2024", "2024-03-14", "1/2/99",
    "Reaſon: hail", "Descrıption: fire", "cause - flood", "$1,200.00", "ſ", "ı", "İ",
])
_SEPARATORS = st.sampled_from([" ", "\xa0", "\u2009", "\u3000", " — ", "\n", "\n\n", ": ", ""])
_field_text = st.lists(st.tuples(_FRAGMENTS, _SEPARATORS), min_size=1, max_size=12).map(
    lambda parts: "".join(f + s for f, s in parts)
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_field_text, min_size=1, max_size=4))
def test_fields_and_spans_match_oracle(texts):
    for text, (extracted, got) in zip(texts, _kernel_fields(texts)):
        assert got == parse_fields_oracle(extracted), text
        spans = [(s["field"], s["start"], s["end"], s["value"]) for s in _spans_chunked(extracted)]
        exp = [(s["field"], s["start"], s["end"], s["value"]) for s in extract_turn(text, "")["spans"]]
        assert spans == exp, text
