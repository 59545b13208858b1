"""Property-based oracle↔engine equality (hypothesis) — stresses the
vectorized pandas kernels against the row-at-a-time oracle on randomized
payload structure, beyond the fixed-seed corpus.

Off-Spark (pure pandas kernel vs oracle): the Spark plumbing is covered by
the golden tests; these target the independent text-transform
implementations where divergence would actually arise.
"""

import pandas as pd
from hypothesis import given, settings, strategies as st

from pdf_extraction_ai_agent_spark.operators.extract import extract_turn_batch
from pdf_extraction_ai_agent_spark.oracle import extract_turn

# -- strategies ---------------------------------------------------------------

# ı, İ and ſ: re.IGNORECASE folds them onto ASCII letters, str.lower()
# does not — the span scan's lowered literal prefilters must not skip them
_words = st.lists(
    st.one_of(
        st.text(alphabet="abcdefghijklmnop HIJ0123456789$.,:#-/ıİſ", min_size=1, max_size=12)
        .map(lambda s: s.replace("\n", " ")),
        st.sampled_from(["Claım No:", "CLAİM NO:", "Reaſon:", "Descrıption:", "ABC12345"]),
    ),
    min_size=1, max_size=30,
)
_plain_par = _words.map(lambda ws: " ".join(ws))
_plain_text = st.lists(_plain_par, min_size=1, max_size=5).map(lambda ps: "\n\n".join(ps))

_link = st.tuples(st.text(alphabet="abcdef", min_size=1, max_size=8),
                  st.text(alphabet="ghijkl mn", min_size=1, max_size=20)).map(
    lambda t: f'<a href="/{t[0]}">{t[1]}</a>'
)
_inline = st.one_of(
    _plain_par,
    _link,
    _plain_par.map(lambda s: f"<b>{s}</b>"),
)
_block = st.one_of(
    st.tuples(st.sampled_from(["p", "div", "li", "h2", "footer", "nav"]),
              st.lists(_inline, min_size=0, max_size=4)).map(
        lambda t: f"<{t[0]}>{' '.join(t[1])}</{t[0]}>"
    ),
)
_html_text = st.lists(_block, min_size=1, max_size=8).map(
    lambda bs: "<html>\n<body>\n" + "\n".join(bs) + "\n</body>\n</html>"
)

_run = st.tuples(
    st.floats(min_value=0, max_value=600, allow_nan=False).map(lambda x: round(x, 1)),
    st.floats(min_value=0, max_value=800, allow_nan=False).map(lambda y: round(y, 1)),
    st.text(alphabet="abc XY12$.,:#-/", min_size=0, max_size=40),
)
_page = st.lists(_run, min_size=0, max_size=12)


def _pdf_payload(pages):
    lines = ["%PDF-SIM 1.0"]
    for i, runs in enumerate(pages, 1):
        lines.append(f"%%PAGE {i}")
        for x, y, t in runs:
            lines.append(f"BT {x:.1f} {y:.1f} Td ({t}) Tj ET")
    return "\n".join(lines)


_pdf_text = st.lists(_page, min_size=1, max_size=3).map(_pdf_payload)


def _assert_equal(text: str, tool: str):
    got = extract_turn_batch(pd.Series([text]), pd.Series([tool])).iloc[0]
    exp = extract_turn(text, tool)
    assert got["extracted_text"] == exp["extracted_text"], (
        f"text mismatch on {text!r}:\nexp={exp['extracted_text']!r}\n"
        f"got={got['extracted_text']!r}"
    )
    assert bool(got["needs_ocr"]) == exp["needs_ocr"]
    got_spans = [(s["field"], s["start"], s["end"], s["value"]) for s in got["spans"]]
    exp_spans = [(s["field"], s["start"], s["end"], s["value"]) for s in exp["spans"]]
    assert got_spans == exp_spans


@settings(max_examples=200, deadline=None)
@given(_plain_text)
def test_plain_property(text):
    _assert_equal(text, "")


@settings(max_examples=200, deadline=None)
@given(_html_text)
def test_html_property(html):
    _assert_equal(html, "html_paste")


@settings(max_examples=200, deadline=None)
@given(_pdf_text)
def test_pdf_property(pdf):
    _assert_equal(pdf, "pdf_upload")
