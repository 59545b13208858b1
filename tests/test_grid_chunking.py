"""X7 grid reconstruction, S9 pipe-text, X3 chunking, C4 router,
A6 page analysis, A9 counters."""

from pyspark.sql import functions as F

from pdf_extraction_ai_agent_spark.operators import aggregate, chunking, grid, pages


def test_cells_to_grid_with_merge(spark):
    cells = [
        (1, 1, 1, "Claim"), (1, 1, 2, "Paid"),
        (1, 2, 1, "A-1"), (1, 2, 2, "$10"),
        (1, 3, 1, "B-2"), (1, 3, 2, "part1"), (1, 3, 2, "part2"),  # merged cell
    ]
    df = spark.createDataFrame(cells, "table_id long, row_idx int, col_idx int, cell_text string")
    g = grid.cells_to_grid(df).collect()[0]
    assert g.headers == ["Claim", "Paid"]
    assert g.data == [["A-1", "$10"], ["B-2", "part1 part2"]]

    pt = grid.grid_to_pipe_text(grid.cells_to_grid(df)).collect()[0]
    assert pt.pipe_text == "SHEET: 1\nClaim | Paid\nA-1 | $10\nB-2 | part1 part2"


def test_chunk_text_overlap_and_snap(spark):
    # 3 lines of 40 chars; window 100 with overlap 20 → snap to newline
    line = "x" * 39
    text = "\n".join([line, line, line, line])
    df = spark.createDataFrame([(1, 0, text)], "conv_id long, turn_idx int, extracted_text string")
    out = chunking.chunk_text(df, max_chars=100, overlap_chars=20).orderBy("chunk_idx").collect()
    assert [r.chunk_idx for r in out] == list(range(len(out)))
    # full coverage: every char of the text appears in some chunk
    assert out[0].start == 0 and out[-1].end == len(text)
    # newline snap: first chunk ends at a newline boundary (pos 79), not 100
    assert out[0].end == 79
    # overlap: next chunk starts before previous end
    assert out[1].start == out[0].end - 20


def test_strategy_router(spark):
    df = spark.createDataFrame(
        [(1, 0.7, 0.25, 3.5), (5, 0.1, 0.0, 1.0), (40, 0.5, 0.1, 2.0)],
        "page_count int, border_ratio double, merged_ratio double, avg_spacing double",
    )
    out = df.select(
        chunking.complexity_score_col(
            F.col("page_count"), F.col("border_ratio"), F.col("merged_ratio"), F.col("avg_spacing")
        ).alias("score")
    ).withColumn("strategy", chunking.route_strategy_col(F.col("score"))).collect()
    assert out[0].score >= 7 and out[0].strategy == "claude_image"
    assert out[1].score <= 3 and out[1].strategy == "camelot_tabula"
    assert out[2].strategy in ("claude_text", "claude_image")


def test_page_analysis(spark):
    text = (
        "--- PAGE 1 ---\ncol1    col2    col3\nv1    v2    v3\n"
        "--- PAGE 2 ---\njust prose here\nmore prose"
    )
    df = spark.createDataFrame([(1, 0, text)], "conv_id long, turn_idx int, extracted_text string")
    p = pages.split_pages(df)
    out = aggregate.page_analysis(p).collect()[0]
    assert out.n_pages == 2
    assert out.total_tab_lines == 2
    assert 0 < out.tabular_ratio <= 1


def test_strategy_counters(spark):
    df = spark.createDataFrame(
        [("camelot", True), ("camelot", False), ("claude_text", True)],
        "strategy string, success boolean",
    )
    out = {r.strategy: r for r in aggregate.strategy_counters(df).collect()}
    assert out["camelot"].attempts == 2 and out["camelot"].successes == 1
    assert out["camelot"].success_rate == 0.5
    assert out["claude_text"].success_rate == 1.0


def test_layout_table_detection_semantics(spark):
    """Lattice-style detection on a hand-built pseudo-PDF: the x-aligned
    header+rows block is one table; scattered prose runs and a 2-line
    aligned block (< min_rows) are not."""
    from pdf_extraction_ai_agent_spark.operators.texttables import (
        detect_layout_tables, pdf_runs,
    )

    text = "\n".join([
        "%PDF-SIM 1.0",
        "%%PAGE 1",
        "BT 30 400 Td (Some prose title) Tj ET",
        "BT 55 380 Td (More prose text) Tj ET",
        # the table: 3 aligned lines at x = 50/200
        "BT 50 300 Td (H1) Tj ET", "BT 200 300 Td (H2) Tj ET",
        "BT 50 284 Td (a1) Tj ET", "BT 200 284 Td (a2) Tj ET",
        "BT 50 268 Td (b1) Tj ET", "BT 200 268 Td (b2) Tj ET",
        # a 2-line aligned block — below min_rows
        "BT 90 100 Td (x1) Tj ET", "BT 130 100 Td (x2) Tj ET",
        "BT 90 84 Td (y1) Tj ET", "BT 130 84 Td (y2) Tj ET",
        "%%PAGE 2",
        "BT 10 200 Td (lonely run) Tj ET",
    ])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = detect_layout_tables(pdf_runs(df)).collect()
    rows = {(r.table_idx, r.row_pos): (r.page, r.n_cells, r.row_text) for r in out}
    assert rows == {
        (0, 0): (1, 2, "H1|H2"),
        (0, 1): (1, 2, "a1|a2"),
        (0, 2): (1, 2, "b1|b2"),
    }


# pseudo-PDF whose drawn rulings define a 3x2 grid around unaligned text
_JITTERED_GRID_DOC = "\n".join([
    "%PDF-SIM 1.0",
    "%%PAGE 1",
    "BT 30 400 Td (Prose above the grid) Tj ET",
    # rulings: 4 h-lines (3 row bands) x 3 v-lines (2 col bands)
    "40 310 m 400 310 l S",
    "40 290 m 400 290 l S",
    "40 270 m 400 270 l S",
    "40 250 m 400 250 l S",
    "40 250 m 40 310 l S",
    "220 250 m 220 310 l S",
    "400 250 m 400 310 l S",
    # a diagonal stroke — must be ignored
    "10 10 m 500 500 l S",
    # text: per-row jitter, zero shared x between any two lines
    "BT 50 300 Td (Claim) Tj ET", "BT 230 300 Td (Paid) Tj ET",
    "BT 61 280 Td (W-1) Tj ET", "BT 247 280 Td (100.00) Tj ET",
    "BT 83 260 Td (W-2) Tj ET",
    "BT 305 260 Td (ex) Tj ET", "BT 255 260 Td (200.00) Tj ET",
    "BT 90 120 Td (Prose below) Tj ET",
])
_JITTERED_GRID_CELLS = {
    (0, 0): "Claim", (0, 1): "Paid",
    (1, 0): "W-1", (1, 1): "100.00",
    (2, 0): "W-2", (2, 1): "200.00 ex",  # two runs, x-ordered
}


def test_lattice_rulings_beat_alignment(spark):
    """The S11-completing case (round-2 verdict item 4): every row's text
    starts at DIFFERENT x positions, so x-alignment (q44's
    detect_layout_tables) finds no table at all — but the drawn h/v ruling
    segments define the 3×2 grid exactly, and lattice_cells_from_docs
    recovers every cell, including a two-run cell joined in x order."""
    from pdf_extraction_ai_agent_spark.operators.texttables import (
        detect_layout_tables, lattice_cells_from_docs, pdf_runs,
    )

    df = spark.createDataFrame([(7, _JITTERED_GRID_DOC)], "doc_id long, text string")

    # alignment-based detection: nothing (no two adjacent lines share 2 xs)
    assert detect_layout_tables(pdf_runs(df)).count() == 0

    got = {
        (r.row_idx, r.col_idx): r.cell_text
        for r in lattice_cells_from_docs(df).collect()
    }
    assert got == _JITTERED_GRID_CELLS


def test_lattice_on_real_pdf_bytes(spark):
    """The full S11 story on GENUINE PDF bytes with zero optional libs:
    a vendored real PDF (objects, page tree, xref; FlateDecode) carrying
    stroked ruling segments and per-row-jittered cell text; the
    dependency-free tokenizers recover positioned runs + rulings, and
    lattice_cells_from_docs extracts the 3×2 grid that x-alignment cannot.
    One call over a frame that mixes the real PDF, its twin encrypted
    under a user password from spec.KNOWN_USER_PASSWORDS, a pseudo-PDF doc
    and an unparseable %PDF- doc: each doc yields exactly its own cells
    (the encrypted twin the plaintext doc's), and the bad doc yields none
    rather than an error."""
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import (
        write_encrypted_pdf, write_minimal_pdf,
    )
    from pdf_extraction_ai_agent_spark.operators.texttables import (
        lattice_cells_from_docs,
    )

    page = [
        ("text", 30, 400, "Prose above the grid"),
        ("line", 40, 310, 400, 310), ("line", 40, 290, 400, 290),
        ("line", 40, 270, 400, 270), ("line", 40, 250, 400, 250),
        ("line", 40, 250, 40, 310), ("line", 220, 250, 220, 310),
        ("line", 400, 250, 400, 310),
        ("text", 50, 300, "Claim"), ("text", 230, 300, "Paid"),
        ("text", 61, 280, "W-1"), ("text", 247, 280, "100.00"),
        ("text", 83, 260, "W-2"), ("text", 255, 260, "200.00"),
        ("text", 90, 120, "Prose below"),
    ]
    pages = [page, "second page, just prose"]
    data = write_minimal_pdf(pages, compress=True)
    locked = write_encrypted_pdf(pages, user_pwd=b"wc-lossrun", revision=4)
    df = spark.createDataFrame(
        [
            (9, data.decode("latin-1")),
            (8, locked.decode("latin-1")),
            (7, _JITTERED_GRID_DOC),
            (5, "%PDF-1.4\nnot a pdf at all"),
        ],
        "doc_id long, text string",
    )
    got: dict = {}
    for r in lattice_cells_from_docs(df).collect():
        got.setdefault(r.doc_id, {})[(r.page, r.row_idx, r.col_idx)] = r.cell_text
    assert got[9] == {
        (1, 0, 0): "Claim", (1, 0, 1): "Paid",
        (1, 1, 0): "W-1", (1, 1, 1): "100.00",
        (1, 2, 0): "W-2", (1, 2, 1): "200.00",
    }
    assert got[8] == got[9]
    assert got[7] == {(1, ri, ci): t for (ri, ci), t in _JITTERED_GRID_CELLS.items()}
    assert set(got) == {7, 8, 9}


def test_layout_tables_match_oracle_twin(spark):
    """detect_layout_tables(pdf_runs(...)) equals q44's DuckDB twin
    (entry_queries_ext6.layout_tables_sql) over the same docs, including
    a %%PAGE marker that goes BACK to an earlier page: the rows after it
    belong to page 1 (the last marker seen), not page 2."""
    import duckdb
    import pandas as pd

    from pdf_extraction_ai_agent_spark.entry_queries_ext6 import layout_tables_sql
    from pdf_extraction_ai_agent_spark.operators.texttables import (
        detect_layout_tables, pdf_runs,
    )

    table = [
        "BT 50 300 Td (H1) Tj ET", "BT 200 300 Td (H2) Tj ET",
        "BT 50 284 Td (a1) Tj ET", "BT 200 284 Td (a2) Tj ET",
        "BT 50 268 Td (b1) Tj ET", "BT 200 268 Td (b2) Tj ET",
    ]
    docs = [
        (1, "\n".join(["%PDF-SIM 1.0", "%%PAGE 1", "BT 30 400 Td (title) Tj ET"]
                      + table)),
        (2, "\n".join(["%PDF-SIM 1.0", "%%PAGE 1", "BT 30 400 Td (intro) Tj ET",
                       "%%PAGE 2", "BT 30 400 Td (p2) Tj ET", "%%PAGE 1"]
                      + table)),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    engine = {tuple(r) for r in detect_layout_tables(pdf_runs(df)).collect()}
    con = duckdb.connect()
    con.register("doc", pd.DataFrame(docs, columns=["doc_id", "text"]))
    oracle = {tuple(r) for r in con.execute("WITH " + layout_tables_sql()).fetchall()}
    assert engine == oracle
    assert (2, 1, 0, 0, 2, "H1|H2") in oracle
    assert len(engine) == 6
