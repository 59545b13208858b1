"""Text-layout table DETECTION (stream mode) — the reference's Camelot/
Tabula fallback chain detects tables inside already-extracted text
(camelot_extractor.py:11-14, tabula_extractor.py:12-14: stream flavor =
whitespace-aligned columns, no ruling lines). The engine's q27/q31 paths
normalize tables that already arrive as grids; this operator finds the
grids inside raw text.

Detection contract (deterministic, SQL-twin-able):
- a line is TABULAR iff its trimmed text splits into ≥ 2 non-empty cells
  on the column delimiter (2+ spaces, tab, or pipe — the same delimiter
  family as the WC heuristic, wc_tabular.py);
- a TABLE is a maximal run of ≥ 2 consecutive tabular lines
  (gaps-and-islands);
- output: one row per table line with (table_idx, row_pos, n_cols,
  cells_pipe) — the first row of each table is its header candidate.

Plan shape: posexplode lines (narrow) → two windows over doc_id (the
islands rank + per-island count/position). Fully declarative — no UDF; at
scale both windows shuffle on doc_id only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import spec

CELL_SPLIT_PAT = r"\s{2,}|\t|\|"


def detect_text_tables(
    df: DataFrame,
    text_col: str = "extracted_text",
    doc_col: str = "doc_id",
    min_rows: int = 2,
) -> DataFrame:
    """(doc_id, table_idx, row_pos, n_cols, cells_pipe) per detected table
    line. table_idx is 0-based per document in line order; row_pos is
    0-based within the table."""
    lines = df.select(
        F.col(doc_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    )
    cells = F.filter(
        F.split(F.trim(F.col("line")), CELL_SPLIT_PAT), lambda x: x != ""
    )
    flagged = lines.select(
        "doc_id", "line_no", cells.alias("cells"), (F.size(cells) >= 2).alias("tabular")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("line_no")
    tab = (
        flagged.filter(F.col("tabular"))
        .withColumn("island", F.col("line_no") - F.row_number().over(w_doc))
    )
    w_isl = Window.partitionBy("doc_id", "island")
    w_isl_ord = w_isl.orderBy("line_no")
    sized = tab.withColumn("island_rows", F.count(F.lit(1)).over(w_isl)).filter(
        F.col("island_rows") >= min_rows
    )
    # table_idx: dense rank of the island within the doc, in line order
    w_doc_isl = Window.partitionBy("doc_id").orderBy("island")
    return sized.select(
        "doc_id",
        (F.dense_rank().over(w_doc_isl) - 1).alias("table_idx"),
        (F.row_number().over(w_isl_ord) - 1).alias("row_pos"),
        F.size("cells").alias("n_cols"),
        F.array_join("cells", "|").alias("cells_pipe"),
    )


# ---------------------------------------------------------------------------
# PDF layout-space table detection, two criteria over the spec pseudo-PDF
# grammar:
# - column x-alignment (q44, no line art): consecutive text lines whose
#   runs start at ≥ min_shared identical x positions form a table —
#   pdf_runs + detect_layout_tables, fully declarative (windows + one
#   equi-join on (doc, page, x));
# - drawn ruling lines (q45, Camelot's lattice flavor): h/v segment
#   intersections define the grid — lattice_cells_from_docs, one fused
#   per-doc python kernel that also reads real PDF bytes.
# ---------------------------------------------------------------------------


def pdf_runs(df: DataFrame, text_col: str = "text", doc_col: str = "doc_id") -> DataFrame:
    """Parse pseudo-PDF payloads (spec grammar) into layout runs:
    (doc_id, page, line_no, x, y, txt). Declarative: posexplode lines,
    regexp projections, page carried forward with a running last()."""
    lines = df.select(
        F.col(doc_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    )
    page_m = F.regexp_extract("line", spec.PDF_PAGE_RE, 1)
    parsed = lines.select(
        "doc_id", "line_no",
        F.when(page_m != "", page_m.cast("int")).alias("page_marker"),
        F.regexp_extract("line", spec.PDF_RUN_RE, 1).alias("xs"),
        F.regexp_extract("line", spec.PDF_RUN_RE, 2).alias("ys"),
        F.regexp_extract("line", spec.PDF_RUN_RE, 3).alias("txt"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        parsed.withColumn("page", F.last("page_marker", ignorenulls=True).over(w))
        .filter((F.col("xs") != "") & F.col("page").isNotNull())
        .select(
            "doc_id", "page", "line_no",
            F.col("xs").cast("double").alias("x"),
            F.col("ys").cast("double").alias("y"),
            "txt",
        )
    )


def _page_grid(rules, runs, min_cross):
    """One page's grid assembly, pure python over per-page lists.

    ``rules``: [(x1, y1, x2, y2)], ``runs``: [(x, y, txt)].  The q45
    DuckDB twin's semantics: h/v classification, mutual-intersection
    counts POOLED per coordinate value (duplicate-y rules add up, as its
    (doc, page, hy) GROUP BY does), bands between adjacent surviving
    coordinates, STRICT open-interval run containment, and cell text
    ordered by (x, utf-8 bytes of txt) — DuckDB's ``ORDER BY x, txt``
    collation.  Returns [(row_idx, col_idx, text)]."""
    h = [(y1, x1 if x1 < x2 else x2, x2 if x1 < x2 else x1)
         for x1, y1, x2, y2 in rules if y1 == y2 and x1 != x2]
    v = [(x1, y1 if y1 < y2 else y2, y2 if y1 < y2 else y1)
         for x1, y1, x2, y2 in rules if x1 == x2 and y1 != y2]
    if not h or not v:
        return []
    h_counts: dict = {}
    v_counts: dict = {}
    for hy, xlo, xhi in h:
        for vx, ylo, yhi in v:
            if ylo <= hy <= yhi and xlo <= vx <= xhi:
                h_counts[hy] = h_counts.get(hy, 0) + 1
                v_counts[vx] = v_counts.get(vx, 0) + 1
    good_h = sorted((yy for yy, c in h_counts.items() if c >= min_cross),
                    reverse=True)
    good_v = sorted(xx for xx, c in v_counts.items() if c >= min_cross)
    if len(good_h) < 2 or len(good_v) < 2:
        return []
    cells: dict = {}
    nh, nv = len(good_h) - 1, len(good_v) - 1
    for x, y, txt in runs:
        ri = ci = -1
        for i in range(nh):
            if good_h[i + 1] < y < good_h[i]:
                ri = i
                break
        if ri < 0:
            continue
        for j in range(nv):
            if good_v[j] < x < good_v[j + 1]:
                ci = j
                break
        if ci < 0:
            continue
        cells.setdefault((ri, ci), []).append((x, txt.encode("utf-8"), txt))
    out = []
    for (ri, ci), items in cells.items():
        items.sort(key=lambda it: (it[0], it[1]))
        out.append((ri, ci, " ".join(it[2] for it in items)))
    return out


def lattice_cells_from_docs(
    df: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    min_cross: int = 2,
) -> DataFrame:
    """Lattice-table extraction from drawn ruling lines (reference
    camelot_extractor.py:11-14, flavor="lattice"): docs → (doc_id, page,
    row_idx, col_idx, cell_text) per NON-EMPTY cell, in ONE python pass
    with no shuffle beyond whatever produced the doc frame (a doc carries
    all of its pages, so per-page grouping happens inside the kernel).
    The grid comes from h/v segment INTERSECTIONS, so text needs no column
    x-alignment — the case detect_layout_tables (q44) cannot handle.

    Model (one grid per page): h-lines (y1==y2) and v-lines (x1==x2)
    survive only if they cross ≥ min_cross perpendicular rules; row bands
    lie between adjacent surviving ys (descending), col bands between
    adjacent xs (ascending); a run lands in the cell whose open interval
    contains its (x, y); cell text = runs ordered by (x, txt) joined with
    ' ' (``_page_grid``).

    Each doc's pages come from one of two parses, chosen by its text with
    extract.py's dispatch rule:
    - REAL PDF bytes (``%PDF-`` but not spec.PDF_HEADER, latin-1 string
      payloads): pdftext.tokenize_pdf_runs / tokenize_pdf_rulings with
      extract.py's password book (spec.KNOWN_USER_PASSWORDS), pages
      numbered from 1. A doc either tokenizer cannot parse yields no cells
      (the extract error channel is where parse failures surface).
    - everything else, as pseudo-PDF lines: split on \n; the ^-anchored
      PDF_PAGE_RE / PDF_RUN_RE / PDF_RULE_RE; runs/rules before the first
      %%PAGE marker are dropped; the page is the LAST marker seen, so a
      repeated marker pools its elements into one page grid. Numeric
      strings that [0-9.]+ admits but a double cannot parse ("1..2") are
      skipped, as the DuckDB twin's TRY_CAST skips them. startswith
      prefilters are sound because every pattern is ^-anchored.
    Equality with the q45 DuckDB twin (entry_queries_ext6.lattice_cells_sql)
    is pinned by tests/test_lattice_kernel_equivalence.py."""
    import re

    import pandas as pd

    pat_page = re.compile(spec.PDF_PAGE_RE)
    pat_run = re.compile(spec.PDF_RUN_RE)
    pat_rule = re.compile(spec.PDF_RULE_RE)
    rule_heads = set("0123456789.")

    def pseudo_pages(text: str) -> dict:
        page = None
        pages: dict = {}
        for line in text.split("\n"):
            if not line:
                continue
            c0 = line[0]
            if c0 == "%":
                m = pat_page.match(line)
                if m:
                    page = int(m.group(1))
                    if page not in pages:
                        pages[page] = ([], [])
                continue
            if page is None:
                continue
            if c0 == "B":
                m = pat_run.match(line)
                if m:
                    try:
                        xv, yv = float(m.group(1)), float(m.group(2))
                    except ValueError:
                        continue
                    pages[page][1].append((xv, yv, m.group(3)))
            elif c0 in rule_heads:
                m = pat_rule.match(line)
                if m:
                    try:
                        seg = tuple(float(m.group(g)) for g in range(1, 5))
                    except ValueError:
                        continue
                    pages[page][0].append(seg)
        return pages

    def real_pages(text: str) -> dict:
        from .pdftext import tokenize_pdf_rulings, tokenize_pdf_runs

        data = text.encode("latin-1", errors="ignore")
        runs = tokenize_pdf_runs(data, passwords=spec.KNOWN_USER_PASSWORDS)
        rules = tokenize_pdf_rulings(data, passwords=spec.KNOWN_USER_PASSWORDS)
        if runs is None or rules is None:
            return {}
        return dict(enumerate(zip(rules, runs), start=1))

    def kernel(batches):
        for pdf in batches:
            o_doc: list[int] = []
            o_page: list[int] = []
            o_row: list[int] = []
            o_col: list[int] = []
            o_text: list[str] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["_text"]):
                doc_id = int(doc_id)
                text = str(text)
                if text.startswith("%PDF-") and not text.startswith(spec.PDF_HEADER):
                    pages = real_pages(text)
                else:
                    pages = pseudo_pages(text)
                for p, (rules, runs) in pages.items():
                    for ri, ci, cell in _page_grid(rules, runs, min_cross):
                        o_doc.append(doc_id)
                        o_page.append(p)
                        o_row.append(ri)
                        o_col.append(ci)
                        o_text.append(cell)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(o_doc, dtype="int64"),
                    "page": pd.Series(o_page, dtype="int32"),
                    "row_idx": pd.Series(o_row, dtype="int32"),
                    "col_idx": pd.Series(o_col, dtype="int32"),
                    "cell_text": pd.Series(o_text, dtype=object),
                }
            )

    return df.select(
        F.col(doc_col).alias("doc_id"), F.col(text_col).alias("_text")
    ).mapInPandas(
        kernel,
        schema="doc_id long, page int, row_idx int, col_idx int, cell_text string",
    )


def lattice_cells_to_padded_rows(cells: DataFrame) -> DataFrame:
    """(doc_id, page, row_idx, cells: array<string>) from lattice cell
    output, PADDED to the table's full width: cells are keyed by col_idx
    (map) and missing columns become '' — positional compaction of only
    the non-empty cells would silently shift later columns on any row with
    a blank cell and misalign header-resolved field indices.

    Plan: ONE aggregate to (doc_id, page, row_idx, cmap, per-row max
    col_idx), then the page-wide pad width is a window max over that small
    aggregated frame (max-of-per-row-max ≡ max over all cells). The
    earlier shape computed the width with a SECOND aggregate over the raw
    cells frame and joined it back — two different grouping keys meant two
    different exchanges, no ReusedExchange, and the entire upstream lattice
    parse subtree (ruling intersections + band joins) re-executed per
    branch. The plan is now linear: the parse runs once."""
    w_page = Window.partitionBy("doc_id", "page")
    # r8: key the exchange to (doc_id, page) up front — that clustering
    # satisfies BOTH the row aggregate (subset of its grouping key; the
    # collect-map agg gains nothing from map-side partials anyway) and the
    # pad-width window, so the plan needs ONE shuffle here instead of two
    # (hash(doc,page,row) for the agg, then hash(doc,page) for the window).
    n = cells.sparkSession.sparkContext.defaultParallelism
    return (
        cells.repartition(n, F.col("doc_id"), F.col("page"))
        .groupBy("doc_id", "page", "row_idx")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("col_idx", "cell_text"))
            ).alias("cmap"),
            F.max("col_idx").alias("row_mx"),
        )
        .withColumn("mx", F.max("row_mx").over(w_page))
        .select(
            "doc_id", "page", "row_idx",
            F.transform(
                F.sequence(F.lit(0), F.col("mx")),
                lambda i: F.coalesce(F.element_at(F.col("cmap"), i), F.lit("")),
            ).alias("cells"),
        )
    )


def detect_layout_tables(
    runs: DataFrame,
    y_tol: float = spec.PDF_Y_TOL,
    min_rows: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """(doc_id, page, table_idx, row_pos, n_cells, row_text) — maximal
    blocks of ≥ min_rows consecutive y-lines where each adjacent pair
    shares ≥ min_shared exact run x-positions (the lattice-alignment
    criterion). Lines are the same y-clusters the extractor renders
    (descending y, break when the gap exceeds y_tol); row_text is the
    x-ordered runs joined with '|'.

    Plan: one window to form lines, one narrow self-join on
    (doc, page, x) restricted to adjacent line ids for the alignment
    count, and island windows for the blocks — shuffles only on
    (doc_id[, page]) keys.
    """
    # line_no makes the order TOTAL: bit-identical runs (duplicate source
    # rows) otherwise tie, and engines that evaluate lag and cumsum in
    # separate window passes may order ties differently — the brk flag then
    # lands on a different physical row and a line splits across clusters
    w_seq = Window.partitionBy("doc_id", "page").orderBy(
        F.col("y").desc(), F.col("x").asc(), F.col("txt").asc(), F.col("line_no").asc()
    )
    clustered = (
        runs.withColumn("prev_y", F.lag("y").over(w_seq))
        .withColumn(
            "brk",
            F.when(
                F.col("prev_y").isNull() | ((F.col("prev_y") - F.col("y")) > y_tol), 1
            ).otherwise(0),
        )
        .withColumn(
            "line_id",
            F.sum("brk").over(w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
    )
    lines = clustered.groupBy("doc_id", "page", "line_id").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("x"), F.col("txt").alias("t")))
                ),
                lambda s: s["t"],
            ),
            "|",
        ).alias("row_text"),
        F.collect_set("x").alias("xs"),
    )
    lx = lines.select(
        "doc_id", "page", F.col("line_id").alias("lid"), F.explode("xs").alias("x")
    )
    rx = lx.select(
        "doc_id", "page", (F.col("lid") - 1).alias("lid"), F.col("x")
    )
    aligned = (
        lx.join(rx, ["doc_id", "page", "lid", "x"])
        .groupBy("doc_id", "page", "lid")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("doc_id", "page", "lid", F.lit(True).alias("aligned_next"))
    )
    w_line = Window.partitionBy("doc_id", "page").orderBy("line_id")
    flagged = (
        lines.join(aligned, on=[lines.doc_id == aligned.doc_id,
                                lines.page == aligned.page,
                                lines.line_id == aligned.lid], how="left")
        .select(lines["*"], F.coalesce("aligned_next", F.lit(False)).alias("aligned_next"))
        .withColumn("aligned_prev", F.coalesce(F.lag("aligned_next").over(w_line), F.lit(False)))
    )
    blocks = (
        flagged.filter(F.col("aligned_next") | F.col("aligned_prev"))
        .withColumn(
            "new_block", F.when(F.col("aligned_prev"), 0).otherwise(1)
        )
        .withColumn(
            "block",
            F.sum("new_block").over(w_line.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
    )
    w_blk = Window.partitionBy("doc_id", "page", "block")
    w_blk_ord = w_blk.orderBy("line_id")
    w_page_blk = Window.partitionBy("doc_id", "page").orderBy("block")
    return (
        blocks.withColumn("blk_rows", F.count(F.lit(1)).over(w_blk))
        .filter(F.col("blk_rows") >= min_rows)
        .select(
            "doc_id",
            F.col("page").cast("int").alias("page"),
            (F.dense_rank().over(w_page_blk) - 1).alias("table_idx"),
            (F.row_number().over(w_blk_ord) - 1).alias("row_pos"),
            F.col("n_cells").cast("int").alias("n_cells"),
            "row_text",
        )
    )
