"""Twin differentials for the r7 HTML realism rules: spec.HTML_SKIP_TAGS
subtree drop and spec.HTML_CELL_SEP table linearization.  The engine
(per-document line model, operators/extract.py) and the oracle (DOM model,
oracle/reference_extractor.py) are independent implementations — these
tests pin their equality on the modeled domain."""

import pytest

from pdf_extraction_ai_agent_spark.operators.extract import _extract_html_batch
from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
    extract_html_main_content,
)


def _both(html: str) -> tuple[str, str]:
    eng = _extract_html_batch([html])[0]
    return eng, extract_html_main_content(html)


SKIP_CASES = [
    # one-line text-dense script would pass length/density — must drop
    "<html>\n<body>\n<script>var banner = 'WELCOME TO THE CLAIMS PORTAL "
    "PLEASE ENABLE COOKIES NOW';</script>\n<p>Claim C100 was approved for "
    "payment after the final review cycle.</p>\n</body>\n</html>",
    # multi-line style block (dotall span, removal leaves blank lines)
    "<html>\n<body>\n<style>\n.sidebar { width: 200px; }\n.footer { "
    "display:none; }\n</style>\n<p>Second paragraph with plenty of genuine "
    "content to keep.</p>\n</body>\n</html>",
    # noscript prose
    "<html>\n<body>\n<noscript>This portal requires JavaScript to display "
    "loss run details.</noscript>\n<p>Real content line long enough to "
    "clear the threshold.</p>\n</body>\n</html>",
    # template containing a nested block element
    "<html>\n<body>\n<template><p>Hidden draft row template with long "
    "placeholder text.</p></template>\n<p>Visible paragraph body that "
    "should be the only surviving block.</p>\n</body>\n</html>",
    # inline script INSIDE a content paragraph — surrounding text survives
    "<html>\n<body>\n<p>Inline <script>x=1;</script>script inside a "
    "paragraph stays content around it.</p>\n</body>\n</html>",
    # empty script with attributes (src=...) inside a div
    "<html>\n<body>\n<div><script src='/x.js'></script>Container text that "
    "remains after empty script removal.</div>\n</body>\n</html>",
    # script nested inside template: outer span wins
    "<html>\n<body>\n<template>junk <script>var x;</script> more junk that "
    "is long enough</template>\n<p>Only this paragraph is real page "
    "content to keep.</p>\n</body>\n</html>",
    # a tag name that folds onto 'script' only under Unicode case folding
    # is not a script element (HTMLParser lowers with str.lower()): its text
    # stays content, while the real <script> beside it is dropped
    "<html>\n<body>\n<script>var y = 2;</script>\n<div><scr\u0130pt>var x = "
    "1; hidden text that stays content</scr\u0130pt> after it</div>\n</body>\n</html>",
    "<html>\n<body>\n<script>var y = 2;</script>\n<div><SCR\u0130PT>var x = "
    "1; hidden text that stays content</SCR\u0130PT> after it</div>\n</body>\n</html>",
]


@pytest.mark.parametrize("html", SKIP_CASES)
def test_skip_tags_twins_agree(html):
    eng, ora = _both(html)
    assert eng == ora


def test_skip_tags_drop_the_payload():
    eng, ora = _both(SKIP_CASES[0])
    assert "COOKIES" not in eng and "COOKIES" not in ora
    assert "Claim C100" in eng


TABLE_CASES = [
    # single-line th/td table
    "<html>\n<body>\n<table><tr><th>Claim</th><th>Amount</th></tr><tr>"
    "<td>C-55</td><td>$1,200.00 total paid</td></tr></table>\n</body>\n"
    "</html>",
    # rows on separate lines — collapses to one block on both sides
    "<html>\n<body>\n<table>\n<tr><th>Claim number</th><th>Status</th></tr>"
    "\n<tr><td>C-9</td><td>open pending documents</td></tr>\n<tr><td>C-10"
    "</td><td></td></tr>\n</table>\n</body>\n</html>",
    # inline markup inside a cell
    "<html>\n<body>\n<table><tr><td>Cell with <b>bold</b> markup inside it "
    "for strip checks</td><td>x</td></tr></table>\n</body>\n</html>",
    # link-dense table is still dropped by the density rule
    '<html>\n<body>\n<table><tr><td><a href="/a">first link text</a></td>'
    '<td><a href="/b">second link text</a></td></tr></table>\n</body>\n'
    "</html>",
]


@pytest.mark.parametrize("html", TABLE_CASES)
def test_table_pipe_twins_agree(html):
    eng, ora = _both(html)
    assert eng == ora


def test_table_pipe_separator_content():
    eng, _ = _both(TABLE_CASES[0])
    assert eng == "Claim | Amount | C-55 | $1,200.00 total paid"


def test_link_dense_table_dropped():
    eng, ora = _both(TABLE_CASES[3])
    assert eng == "" and ora == ""


def test_generator_grammar_unaffected():
    # the flagship generator's grammar has no skip tags / tables: the new
    # rules must be a no-op there (prefilters keep it free as well)
    import random

    from pdf_extraction_ai_agent_spark.fixtures.transcripts import (
        _html_payload,
    )

    rng = random.Random(99)
    payloads = [_html_payload(rng) for _ in range(40)]
    for p in payloads:
        eng, ora = _both(p)
        assert eng == ora


BR_CASES = [
    # <br> is whitespace — words must not run together
    "<html>\n<body>\n<p>first claim line<br>second claim line of the "
    "record</p>\n</body>\n</html>",
    # XHTML self-closing + spaced forms
    "<html>\n<body>\n<p>alpha<br/>beta<br />gamma words to pass the "
    "length rule</p>\n</body>\n</html>",
    # br inside a link: the space counts as link text on both sides
    '<html>\n<body>\n<p>prefix words long enough here <a href="/x">tap'
    "<br>here</a> suffix tail</p>\n</body>\n</html>",
    # other inline tags still concatenate WITHOUT a separator
    "<html>\n<body>\n<p>in<i>l</i>ine stays joined with enough words to "
    "keep the block</p>\n</body>\n</html>",
]


@pytest.mark.parametrize("html", BR_CASES)
def test_br_is_space_twins_agree(html):
    eng, ora = _both(html)
    assert eng == ora


def test_br_semantics():
    eng, _ = _both(BR_CASES[0])
    assert "line second" in eng
    eng3, _ = _both(BR_CASES[3])
    assert "inline stays joined" in eng3
