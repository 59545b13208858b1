"""The lattice operator (texttables.lattice_cells_from_docs) is
row-identical to q45's DuckDB twin (entry_queries_ext6.lattice_cells_sql)
run over the same docs — including the duplicate-coordinate pooling of
the mutual-intersection counts, strict band containment, the (x, txt)
cell-text collation, and the page forward-fill (the page is the LAST
%%PAGE marker seen, also when markers go backwards)."""

from __future__ import annotations

import duckdb
import pandas as pd

from pdf_extraction_ai_agent_spark.entry_queries_ext6 import lattice_cells_sql
from pdf_extraction_ai_agent_spark.operators.texttables import lattice_cells_from_docs


def _doc(doc_id: int, body: str):
    return (doc_id, "%PDF-SIM 1.0\n%%PAGE 1\n" + body)


def _engine(spark, docs) -> set:
    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {tuple(r) for r in lattice_cells_from_docs(df).collect()}


def _oracle(docs) -> set:
    con = duckdb.connect()
    con.register("doc", pd.DataFrame(docs, columns=["doc_id", "text"]))
    return {tuple(r) for r in con.execute("WITH " + lattice_cells_sql()).fetchall()}


def test_lattice_kernel_matches_oracle_twin(spark):
    docs = [
        # regular 2x2 grid with jittered text
        _doc(1, "\n".join(
            [f"45 {y} m 495 {y} l S" for y in (258, 226, 194)]
            + [f"{x} 194 m {x} 258 l S" for x in (45, 270, 495)]
            + ["BT 50 240 Td (a) Tj ET", "BT 300 240 Td (b) Tj ET",
               "BT 60 200 Td (z) Tj ET", "BT 60 200 Td (a) Tj ET",
               "BT 299 201 Td (q) Tj ET"]
        )),
        # duplicate-y h-rules (count pooling), an unvalidated stray rule,
        # and a run outside every band
        _doc(2, "\n".join(
            ["45 258 m 200 258 l S", "250 258 m 495 258 l S",
             "45 194 m 495 194 l S", "45 100 m 495 100 l S",
             "45 194 m 45 258 l S", "495 194 m 495 258 l S",
             "BT 100 230 Td (mid) Tj ET", "BT 100 50 Td (below) Tj ET"]
        )),
        # no grid at all (rules that never cross)
        _doc(3, "45 258 m 495 258 l S\nBT 50 240 Td (x) Tj ET"),
        # multi-page: grid only on page 2
        (4, "%PDF-SIM 1.0\n%%PAGE 1\nBT 10 10 Td (p1) Tj ET\n%%PAGE 2\n"
            + "\n".join(
                [f"45 {y} m 495 {y} l S" for y in (258, 194)]
                + [f"{x} 194 m {x} 258 l S" for x in (45, 495)]
                + ["BT 50 240 Td (only) Tj ET", "BT 51 240 Td (cell) Tj ET"])),
    ]
    engine = _engine(spark, docs)
    assert engine == _oracle(docs)
    assert engine, "fixture produced no cells — test would be vacuous"
    # the duplicate-y pooling case must actually produce doc 2's band
    assert any(r[0] == 2 for r in engine)


def test_lattice_parse_edges_match_oracle_twin(spark):
    """Line-parse edges: page forward-fill (elements before the first
    %%PAGE dropped, repeated markers pooled, a marker that goes BACK to an
    earlier page), anchored-pattern rejection of near-miss lines, and
    number-format edges the regex admits."""
    grid_body = "\n".join(
        [f"45 {y} m 495 {y} l S" for y in (258, 226, 194)]
        + [f"{x} 194 m {x} 258 l S" for x in (45, 270, 495)]
    )
    docs = [
        # pre-page elements dropped; near-miss lines (trailing space, extra
        # token after the page number, missing ET) must parse as NOTHING
        (1, "BT 50 240 Td (dropme) Tj ET\n10 194 m 10 258 l S\n"
            "%%PAGE 1 extra\n%%PAGE 1\n" + grid_body
            + "\nBT 50 240 Td (kept) Tj ET \nBT 50 240 Td (kept) Tj ET"
            + "\nBT 60 200 Td (b) Tj\nBT 300. 240.5 Td (dot) Tj ET"),
        # repeated %%PAGE markers pool elements into one page grid; the
        # last marker goes backwards (2 → 1), so 'late' lands on page 1
        (2, "%%PAGE 1\n" + grid_body + "\n%%PAGE 2\nBT 1 1 Td (p2) Tj ET\n"
            "%%PAGE 1\nBT 60 200 Td (late) Tj ET"),
        # parens content with regex-special chars; empty text run
        (3, "%%PAGE 1\n" + grid_body
            + "\nBT 60 240 Td (a(b)c$^.*) Tj ET\nBT 70 240 Td () Tj ET"),
        # a number the regex admits but a double cannot parse: skipped
        (5, "%%PAGE 1\n" + grid_body
            + "\nBT 1..2 240 Td (bad) Tj ET\nBT 60 240 Td (good) Tj ET"),
        (4, ""),  # empty doc
    ]
    engine = _engine(spark, docs)
    oracle = _oracle(docs)
    assert engine == oracle
    assert engine, "fixture produced no cells — test would be vacuous"
    assert (2, 1, 1, 0, "late") in oracle
    assert (5, 1, 0, 0, "good") in engine
    assert not any(r[4] == "bad" for r in engine)


def test_lattice_kernel_matches_oracle_across_arrow_batches(spark):
    """4,000 docs with the Arrow batch far below the per-partition row
    count, so each python task sees many batches: output must still equal
    the DuckDB twin row-for-row."""
    body = (
        "\n".join(
            [f"45 {y} m 495 {y} l S" for y in (258, 226, 194)]
            + [f"{x} 194 m {x} 258 l S" for x in (45, 270, 495)]
        )
        + "\nBT 50 240 Td (a{i}) Tj ET\nBT 300 240 Td (b{i}) Tj ET"
        + "\nBT 60 200 Td (c{i}) Tj ET"
    )
    docs = [
        (i, "%PDF-SIM 1.0\n%%PAGE 1\n" + body.replace("{i}", str(i)))
        for i in range(4000)
    ]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "500")
    try:
        engine = _engine(spark, docs)
    finally:
        spark.conf.set(key, prev)
    assert engine == _oracle(docs)
    assert len(engine) == 4000 * 3  # 2x2 grid, three occupied cells per doc
