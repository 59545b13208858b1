"""``extract.arrow_column`` builds the kernels' Arrow output from buffers
(``pa.array`` imports pandas in pyarrow 16). For every column kind the
kernels emit, its array must equal ``pa.array(values, type)``: strings
with nulls, empty, multi-byte and astral characters, empty batches,
all-null columns, empty and null lists, binary; and a lone surrogate must
raise as ``pa.Array.from_pandas`` does."""

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql.pandas.types import to_arrow_type

from pdf_extraction_ai_agent_spark.operators.classify import LOBS_TYPE
from pdf_extraction_ai_agent_spark.operators.extract import (
    SPAN_TYPE,
    arrow_column,
    extract_result_type,
)

_STR = st.one_of(
    st.none(),
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12),
    st.sampled_from(["", "é", "日本語", "😀 astral", "a\x00b", "ß‍"]),
)
_INT32 = st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1))
_SPAN = st.one_of(
    st.none(),
    st.fixed_dictionaries({"field": _STR, "start": _INT32, "end": _INT32, "value": _STR}),
)

# (arrow type, strategy of one value): every kind the extract kernel and
# the KDF pre-pass return, plus the large-offset variants
KINDS = {
    "string": (pa.string(), _STR),
    "large_string": (pa.large_string(), _STR),
    "binary": (pa.binary(), st.one_of(st.none(), st.binary(max_size=20))),
    "large_binary": (pa.large_binary(), st.one_of(st.none(), st.binary(max_size=20))),
    "bool": (pa.bool_(), st.one_of(st.none(), st.booleans())),
    "int32": (pa.int32(), _INT32),
    "lobs": (to_arrow_type(LOBS_TYPE), st.one_of(st.none(), st.lists(_STR, max_size=4))),
    "large_list": (pa.large_list(pa.string()), st.one_of(st.none(), st.lists(_STR, max_size=4))),
    "spans": (to_arrow_type(SPAN_TYPE), st.one_of(st.none(), st.lists(_SPAN, max_size=4))),
}


def _assert_equal(values, atype):
    got = arrow_column(values, atype)
    got.validate(full=True)
    exp = pa.array(values, atype)
    assert got.type == atype
    assert got.null_count == exp.null_count
    assert got.equals(exp), (got, exp)
    assert got.to_pylist() == exp.to_pylist()


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_column_equals_pa_array(kind):
    atype, value = KINDS[kind]

    @settings(max_examples=60, deadline=None)
    @given(st.lists(value, max_size=25))
    def check(values):
        _assert_equal(values, atype)

    check()


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_empty_and_all_null_columns(kind):
    atype, _ = KINDS[kind]
    _assert_equal([], atype)
    _assert_equal([None], atype)
    _assert_equal([None] * 9, atype)


def test_empty_and_null_lists_side_by_side():
    atype = to_arrow_type(SPAN_TYPE)
    span = {"field": "amount", "start": 3, "end": 9, "value": "$1.00"}
    _assert_equal([[], None, [span], [], [None, span], None], atype)
    _assert_equal([[], [], []], atype)
    _assert_equal([[], None, ["AUTO", None, ""], []], to_arrow_type(LOBS_TYPE))


def test_kernel_struct_equals_pa_array():
    """The whole return struct the extract UDF builds, column by column."""
    atype = to_arrow_type(extract_result_type(True, True))
    rows = [
        {"extracted_text": "Claim AB-1 $2.00", "spans": [
            {"field": "amount", "start": 11, "end": 16, "value": "$2.00"}],
         "needs_ocr": False, "payload_kind": "plain", "error": None,
         "lob": "UNKNOWN", "lobs": ["AUTO"]},
        {"extracted_text": "", "spans": [], "needs_ocr": True, "payload_kind": "pdf",
         "error": "ValueError: x", "lob": "WC", "lobs": ["AUTO", "WC"]},
    ]
    cols = {f.name: [r[f.name] for r in rows] for f in atype}
    got = pa.StructArray.from_arrays(
        [arrow_column(cols[f.name], f.type) for f in atype], fields=list(atype))
    assert got.equals(pa.array(rows, atype))


def test_lone_surrogate_raises_like_from_pandas():
    values = ["ok", "bad \ud800 half"]
    with pytest.raises(UnicodeEncodeError) as want:
        pa.Array.from_pandas(pd.Series(values, dtype=object), type=pa.string())
    with pytest.raises(UnicodeEncodeError) as got:
        arrow_column(values, pa.string())
    assert str(got.value) == str(want.value)
    # inside a nested span value too
    with pytest.raises(UnicodeEncodeError):
        arrow_column([[{"field": "name", "start": 0, "end": 1, "value": "\udfff"}]],
                     to_arrow_type(SPAN_TYPE))


def test_unsupported_type_raises():
    with pytest.raises(TypeError):
        arrow_column([1.5], pa.float64())
