"""Query pack 7: the native .xlsx multi-sheet source (S8).

q41 builds a deterministic 3-sheet workbook from the ``nation`` table (one
LOB sheet per ``n_nationkey % 3``), ships it as a binary payload through the
stdlib xlsx source (sources/excel.py), and emits the aligned rows; the
DuckDB oracle recomputes the same rows from ``nation`` directly — gating the
write→zip→parse→explode round trip end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.excel import excel_sheet_rows, write_minimal_xlsx

_LOBS = ["AUTO", "WC", "GL"]
_HEADER = ["Account", "Policy", "Nation Key"]


def workbook_bytes_from_nation(rows: list[tuple[int, str]]) -> bytes:
    """Deterministic multi-sheet workbook: sheet per LOB, header + one row
    per nation (ordered by key). ``rows`` = [(n_nationkey, n_name), ...]."""
    sheets = []
    for li, lob in enumerate(_LOBS):
        data = [_HEADER] + [
            [name, f"P-{key}", str(key)]
            for key, name in sorted(rows)
            if key % 3 == li
        ]
        sheets.append((lob, data))
    return write_minimal_xlsx(sheets)


def q41_excel_sheets(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rows = [(int(r.n_nationkey), str(r.n_name)) for r in
            nation.select("n_nationkey", "n_name").collect()]  # 25 rows: fixture build
    payload = workbook_bytes_from_nation(rows)
    wb = spark.createDataFrame([("wb.xlsx", bytearray(payload))],
                               "file_name string, content binary")
    out = excel_sheet_rows(wb)
    return out.select(
        "file_name", "sheet_pos", "sheet_name", "row_pos",
        F.element_at("cells", 1).alias("account"),
        F.element_at("cells", 2).alias("policy"),
        F.element_at("cells", 3).alias("nation_key"),
    )


_Q41_SQL = """
WITH data AS (
  SELECT CAST(n_nationkey % 3 AS INTEGER) AS sheet_pos,
         (['AUTO', 'WC', 'GL'])[(n_nationkey % 3) + 1] AS sheet_name,
         CAST(ROW_NUMBER() OVER (PARTITION BY n_nationkey % 3 ORDER BY n_nationkey)
              AS INTEGER) AS row_pos,
         n_name AS account,
         'P-' || CAST(n_nationkey AS VARCHAR) AS policy,
         CAST(n_nationkey AS VARCHAR) AS nation_key
  FROM nation
),
hdr AS (
  SELECT DISTINCT sheet_pos, sheet_name, CAST(0 AS INTEGER) AS row_pos,
         'Account' AS account, 'Policy' AS policy, 'Nation Key' AS nation_key
  FROM data
)
SELECT 'wb.xlsx' AS file_name, * FROM hdr
UNION ALL
SELECT 'wb.xlsx' AS file_name, * FROM data
"""


# ---------------------------------------------------------------------------
# q42 — text-layout table detection (Camelot/Tabula stream-mode fallback)
# ---------------------------------------------------------------------------


def q42_detect_text_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prose+table documents built from lineitem; the detector must find
    the embedded whitespace-aligned table and skip the lone tabular line
    (min 2 consecutive rows)."""
    from .entry_queries import _spread
    from .operators.texttables import detect_text_tables

    li = _spread(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(F.col("l_linenumber") <= 3),
        "l_orderkey",
    )
    row_line = F.concat(
        F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber"),
        F.lit("    "), F.date_format("l_shipdate", "yyyy-MM-dd"),
        F.lit("    "), F.col("l_extendedprice").cast("decimal(18,2)").cast("string"),
    )
    doc = li.groupBy(F.col("l_orderkey").alias("doc_id")).agg(
        F.concat(
            F.lit("Report for order.\nSummary follows below.\n"
                  "Item    Ship Date    Amount\n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("l_linenumber", row_line.alias("l")))),
                    lambda s: s["l"],
                ),
                "\n",
            ),
            F.lit("\nNotes: reviewed by desk.\nRef    "),
            F.col("l_orderkey").cast("string"),
        ).alias("extracted_text")
    )
    return detect_text_tables(doc)


def _q42_sql(doc_cte: str | None = None) -> str:
    """``doc_cte`` overrides the fixture CTE (must yield (doc_id,
    extracted_text)) — used by the randomized differential test."""
    if doc_cte is None:
        doc_cte = """
  SELECT l_orderkey AS doc_id,
         'Report for order.' || chr(10) || 'Summary follows below.' || chr(10) ||
         'Item    Ship Date    Amount' || chr(10) ||
         string_agg(line, chr(10) ORDER BY l_linenumber, line) ||
         chr(10) || 'Notes: reviewed by desk.' || chr(10) || 'Ref    ' ||
         CAST(l_orderkey AS VARCHAR) AS extracted_text
  FROM (
    SELECT l_orderkey, l_linenumber,
           'L' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) ||
           '    ' || strftime(l_shipdate, '%Y-%m-%d') ||
           '    ' || CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS line
    FROM lineitem WHERE l_linenumber <= 3
  )
  GROUP BY l_orderkey
"""
    return rf"""
WITH doc AS ({doc_cte}),
lines AS (
  SELECT doc_id, u.i - 1 AS line_no,
         list_filter(regexp_split_to_array(trim(ls[CAST(u.i AS INTEGER)]), '\s{{2,}}|\t|\|'),
                     x -> x <> '') AS cells
  FROM (SELECT doc_id, string_split(extracted_text, chr(10)) AS ls FROM doc) t,
       LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) u
),
tab AS (
  SELECT doc_id, line_no, cells,
         line_no - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY line_no) AS island
  FROM lines WHERE len(cells) >= 2
),
sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY doc_id, island) AS island_rows
  FROM tab
)
SELECT doc_id,
       CAST(DENSE_RANK() OVER (PARTITION BY doc_id ORDER BY island) - 1 AS INTEGER) AS table_idx,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, island ORDER BY line_no) - 1 AS INTEGER) AS row_pos,
       CAST(len(cells) AS INTEGER) AS n_cols,
       array_to_string(cells, '|') AS cells_pipe
FROM sized WHERE island_rows >= 2
"""


# ---------------------------------------------------------------------------
# q43 — multi-way dim-join rollup (claims-cost by region/carrier-nation):
# the analytic reporting shape over the full dim chain (lineitem ⋈ orders ⋈
# customer ⋈ nation ⋈ region), exact DECIMAL sums, broadcast dims
# ---------------------------------------------------------------------------


def q43_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("c_custkey"), F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
    )
    fact = li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
    return (
        fact.join(F.broadcast(dims), fact.o_custkey == dims.c_custkey)
        .groupBy("region", "nation")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").alias("total_price"),
            # sum the FULL-scale (scale-4) products — downscaling per row is
            # not portable (DuckDB decimal casts truncate, Spark rounds
            # HALF_UP); the scale-4 sum is exact in both engines
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double").alias("revenue"),
        )
    )


_Q43_SQL = """
SELECT r_name AS region, n_name AS nation,
       COUNT(*) AS n_lines,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
       CAST(SUM(
             CAST(l_extendedprice AS DECIMAL(18,2)) *
             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
           ) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q44 — layout-space (lattice-style) table detection: pseudo-PDF docs with
# prose + an x-aligned table; detection = column x-alignment across
# consecutive y-lines (texttables.detect_layout_tables over pdf_runs)
# ---------------------------------------------------------------------------


def q44_layout_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.texttables import detect_layout_tables, pdf_runs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(F.col("l_linenumber") <= 3)
    y = 250 - F.col("l_linenumber") * 16
    row_lines = F.concat(
        F.lit("BT 50 "), y, F.lit(" Td (W"), F.col("l_orderkey"), F.lit("0"),
        F.col("l_linenumber"), F.lit(") Tj ET\nBT 200 "), y, F.lit(" Td ("),
        F.date_format("l_shipdate", "MM/dd/yyyy"), F.lit(") Tj ET\nBT 350 "), y,
        F.lit(" Td ("), F.col("l_extendedprice").cast("decimal(18,2)").cast("string"),
        F.lit(") Tj ET"),
    )
    doc = li.groupBy(F.col("l_orderkey").alias("doc_id")).agg(
        F.concat(
            F.lit("%PDF-SIM 1.0\n%%PAGE 1\n"
                  "BT 37 300 Td (Loss Run Report) Tj ET\n"
                  "BT 41 280 Td (Prepared for review) Tj ET\n"
                  "BT 50 250 Td (Claim) Tj ET\nBT 200 250 Td (Date) Tj ET\n"
                  "BT 350 250 Td (Paid) Tj ET\n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("l_linenumber", row_lines.alias("l")))),
                    lambda s: s["l"],
                ),
                "\n",
            ),
            F.lit("\nBT 60 40 Td (End of report) Tj ET"),
        ).alias("text")
    )
    return detect_layout_tables(pdf_runs(doc))


def _q44_sql() -> str:
    return r"""
WITH doc AS (
  SELECT l_orderkey AS doc_id,
         '%PDF-SIM 1.0' || chr(10) || '%%PAGE 1' || chr(10) ||
         'BT 37 300 Td (Loss Run Report) Tj ET' || chr(10) ||
         'BT 41 280 Td (Prepared for review) Tj ET' || chr(10) ||
         'BT 50 250 Td (Claim) Tj ET' || chr(10) ||
         'BT 200 250 Td (Date) Tj ET' || chr(10) ||
         'BT 350 250 Td (Paid) Tj ET' || chr(10) ||
         string_agg(lines, chr(10) ORDER BY l_linenumber, lines) ||
         chr(10) || 'BT 60 40 Td (End of report) Tj ET' AS text
  FROM (
    SELECT l_orderkey, l_linenumber,
           'BT 50 ' || y || ' Td (W' || CAST(l_orderkey AS VARCHAR) || '0' ||
             CAST(l_linenumber AS VARCHAR) || ') Tj ET' || chr(10) ||
           'BT 200 ' || y || ' Td (' || strftime(l_shipdate, '%m/%d/%Y') || ') Tj ET' || chr(10) ||
           'BT 350 ' || y || ' Td (' || CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) || ') Tj ET' AS lines
    FROM (SELECT *, CAST(250 - l_linenumber * 16 AS VARCHAR) AS y
          FROM lineitem WHERE l_linenumber <= 3)
  )
  GROUP BY l_orderkey
),
""" + layout_tables_sql()


def layout_tables_sql() -> str:
    """The q44 oracle's detection chain over a relation ``doc(doc_id,
    text)`` of pseudo-PDF docs: CTEs from ``rawlines`` to the final
    SELECT, the DuckDB twin of ``detect_layout_tables(pdf_runs(doc))``.
    Prefix it with ``WITH doc AS (…),`` or with ``WITH`` over a
    registered ``doc`` relation."""
    return r"""rawlines AS (
  SELECT doc_id, u.i AS line_no, ls[CAST(u.i AS INTEGER)] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM doc) t,
       LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) u
),
parsed AS (
  SELECT doc_id, line_no,
         NULLIF(regexp_extract(line, '^%%PAGE (\d+)$', 1), '') AS page_marker,
         regexp_extract(line, '^BT ([0-9.]+) ([0-9.]+) Td \((.*)\) Tj ET$', 1) AS xs,
         regexp_extract(line, '^BT ([0-9.]+) ([0-9.]+) Td \((.*)\) Tj ET$', 2) AS ys,
         regexp_extract(line, '^BT ([0-9.]+) ([0-9.]+) Td \((.*)\) Tj ET$', 3) AS txt
  FROM rawlines
),
runs AS (
  SELECT doc_id, line_no,
         CAST(LAST_VALUE(CAST(page_marker AS INTEGER) IGNORE NULLS) OVER
              (PARTITION BY doc_id ORDER BY line_no
               ROWS UNBOUNDED PRECEDING) AS INTEGER) AS page,
         TRY_CAST(NULLIF(xs, '') AS DOUBLE) AS x,
         TRY_CAST(NULLIF(ys, '') AS DOUBLE) AS y, txt
  FROM parsed
  QUALIFY xs <> '' AND page IS NOT NULL
),
clustered AS (
  SELECT *, CASE WHEN prev_y IS NULL OR (prev_y - y) > 2.0 THEN 1 ELSE 0 END AS brk
  FROM (
    SELECT *, LAG(y) OVER w AS prev_y
    FROM runs
    WINDOW w AS (PARTITION BY doc_id, page ORDER BY y DESC, x ASC, txt ASC, line_no ASC)
  )
),
numbered AS (
  SELECT *, SUM(brk) OVER (PARTITION BY doc_id, page
                           ORDER BY y DESC, x ASC, txt ASC, line_no ASC
                           ROWS UNBOUNDED PRECEDING) AS line_id
  FROM clustered
),
lines_ AS (
  SELECT doc_id, page, line_id,
         COUNT(*) AS n_cells,
         string_agg(txt, '|' ORDER BY x, txt) AS row_text,
         list(DISTINCT x) AS xs
  FROM numbered
  GROUP BY doc_id, page, line_id
),
aligned AS (
  SELECT l.doc_id, l.page, l.line_id,
         len(list_intersect(l.xs, r.xs)) >= 2 AS aligned_next
  FROM lines_ l JOIN lines_ r
    ON l.doc_id = r.doc_id AND l.page = r.page AND r.line_id = l.line_id + 1
),
flagged AS (
  SELECT li.doc_id, li.page, li.line_id, li.n_cells, li.row_text,
         COALESCE(a.aligned_next, FALSE) AS aligned_next,
         COALESCE(LAG(COALESCE(a.aligned_next, FALSE)) OVER
                  (PARTITION BY li.doc_id, li.page ORDER BY li.line_id), FALSE) AS aligned_prev
  FROM lines_ li LEFT JOIN aligned a
    ON li.doc_id = a.doc_id AND li.page = a.page AND li.line_id = a.line_id
),
blocks AS (
  SELECT *, SUM(CASE WHEN aligned_prev THEN 0 ELSE 1 END) OVER
            (PARTITION BY doc_id, page ORDER BY line_id
             ROWS UNBOUNDED PRECEDING) AS block
  FROM flagged
  WHERE aligned_next OR aligned_prev
),
sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY doc_id, page, block) AS blk_rows
  FROM blocks
)
SELECT doc_id,
       CAST(page AS INTEGER) AS page,
       CAST(DENSE_RANK() OVER (PARTITION BY doc_id, page ORDER BY block) - 1 AS INTEGER) AS table_idx,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, page, block ORDER BY line_id) - 1 AS INTEGER) AS row_pos,
       CAST(n_cells AS INTEGER) AS n_cells,
       row_text
FROM sized WHERE blk_rows >= 3
"""


# ---------------------------------------------------------------------------
# q45 — ruling-line lattice tables (completes S11, round-2 verdict item 4):
# pseudo-PDF docs whose table text is deliberately NOT x-aligned (per-row
# jitter), so q44's alignment criterion cannot find the grid — but the
# drawn h/v ruling segments define it exactly
# (texttables.lattice_cells_from_docs; DuckDB twin lattice_cells_sql).
# ---------------------------------------------------------------------------

# fixed grid geometry: 5 h-rules (4 row bands), 4 v-rules (3 col bands)
_Q45_HS = [258, 242, 226, 210, 194]
_Q45_VS = [45, 195, 345, 495]
_Q45_RULES = "\n".join(
    [f"45 {y} m 495 {y} l S" for y in _Q45_HS]
    + [f"{x} 194 m {x} 258 l S" for x in _Q45_VS]
)


def q45_lattice_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .entry_queries import _spread
    from .operators.texttables import lattice_cells_from_docs

    li = _spread(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(F.col("l_linenumber") <= 3),
        "l_orderkey",
    )
    ln = F.col("l_linenumber")
    y = (250 - ln * 16).cast("string")
    # deterministic per-row x jitter — kills column x-alignment on purpose
    x_claim = (50 + (ln * 13) % 29).cast("string")
    x_date = (200 + (ln * 7) % 23).cast("string")
    x_price = (350 + (ln * 11) % 31).cast("string")
    row_lines = F.concat(
        F.lit("BT "), x_claim, F.lit(" "), y, F.lit(" Td (W"),
        F.col("l_orderkey").cast("string"), F.lit("0"), ln.cast("string"),
        F.lit(") Tj ET\nBT "), x_date, F.lit(" "), y, F.lit(" Td ("),
        F.date_format("l_shipdate", "MM/dd/yyyy"), F.lit(") Tj ET\nBT "),
        x_price, F.lit(" "), y, F.lit(" Td ("),
        F.col("l_extendedprice").cast("decimal(18,2)").cast("string"),
        F.lit(") Tj ET"),
    )
    doc = li.groupBy(F.col("l_orderkey").alias("doc_id")).agg(
        F.concat(
            F.lit("%PDF-SIM 1.0\n%%PAGE 1\n"
                  "BT 37 300 Td (Loss Run Report) Tj ET\n"
                  + _Q45_RULES + "\n"
                  "BT 50 250 Td (Claim) Tj ET\nBT 200 250 Td (Date) Tj ET\n"
                  "BT 350 250 Td (Paid) Tj ET\n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("l_linenumber", row_lines.alias("l")))),
                    lambda s: s["l"],
                ),
                "\n",
            ),
            F.lit("\nBT 60 40 Td (End of report) Tj ET"),
        ).alias("text")
    )
    # Fully fused (r8): doc build → ONE python pass doing line parse AND
    # per-page grid assembly (a doc carries all its pages, so no shuffle
    # beyond the doc groupBy). The round-start plan re-ran the doc-build +
    # posexplode + regexes FIVE times (10 source scans) and cascaded 4
    # sort-merge joins + 2 windows — see plans/r08/q45_* before/after;
    # parity with the DuckDB twin (lattice_cells_sql) over edge-case docs
    # is pinned by tests/test_lattice_kernel_equivalence.py.
    return lattice_cells_from_docs(doc)


def _q45_sql() -> str:
    rules_sql = _Q45_RULES.replace("\n", "' || chr(10) || '")
    return rf"""
WITH doc AS (
  SELECT l_orderkey AS doc_id,
         '%PDF-SIM 1.0' || chr(10) || '%%PAGE 1' || chr(10) ||
         'BT 37 300 Td (Loss Run Report) Tj ET' || chr(10) ||
         '{rules_sql}' || chr(10) ||
         'BT 50 250 Td (Claim) Tj ET' || chr(10) ||
         'BT 200 250 Td (Date) Tj ET' || chr(10) ||
         'BT 350 250 Td (Paid) Tj ET' || chr(10) ||
         string_agg(lines, chr(10) ORDER BY l_linenumber, lines) ||
         chr(10) || 'BT 60 40 Td (End of report) Tj ET' AS text
  FROM (
    SELECT l_orderkey, l_linenumber,
           'BT ' || CAST(50 + (l_linenumber * 13) % 29 AS VARCHAR) || ' ' || y ||
             ' Td (W' || CAST(l_orderkey AS VARCHAR) || '0' ||
             CAST(l_linenumber AS VARCHAR) || ') Tj ET' || chr(10) ||
           'BT ' || CAST(200 + (l_linenumber * 7) % 23 AS VARCHAR) || ' ' || y ||
             ' Td (' || strftime(l_shipdate, '%m/%d/%Y') || ') Tj ET' || chr(10) ||
           'BT ' || CAST(350 + (l_linenumber * 11) % 31 AS VARCHAR) || ' ' || y ||
             ' Td (' || CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) || ') Tj ET' AS lines
    FROM (SELECT *, CAST(250 - l_linenumber * 16 AS VARCHAR) AS y
          FROM lineitem WHERE l_linenumber <= 3)
  )
  GROUP BY l_orderkey
),
""" + lattice_cells_sql()


def lattice_cells_sql() -> str:
    """The q45 oracle's lattice chain over a relation ``doc(doc_id, text)``
    of pseudo-PDF docs: CTEs from ``rawlines`` to the final SELECT, the
    DuckDB twin of ``texttables.lattice_cells_from_docs``. Prefix it with
    ``WITH doc AS (…),`` or with ``WITH`` over a registered ``doc``
    relation."""
    return r"""rawlines AS (
  SELECT doc_id, u.i AS line_no, ls[CAST(u.i AS INTEGER)] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM doc) t,
       LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) u
),
paged AS (
  SELECT doc_id, line_no, line,
         CAST(LAST_VALUE(CAST(NULLIF(regexp_extract(line, '^%%PAGE (\d+)$', 1), '') AS INTEGER) IGNORE NULLS) OVER
              (PARTITION BY doc_id ORDER BY line_no ROWS UNBOUNDED PRECEDING) AS INTEGER) AS page
  FROM rawlines
),
runs AS (
  -- TRY_CAST(NULLIF(…)): the WHERE guards the cast logically, but the
  -- optimizer may evaluate the projection before the filter (seen at
  -- sf0.1 inside the larger q46 pipeline: CAST('' AS DOUBLE) threw on
  -- non-matching lines) — identical values on every surviving row
  SELECT doc_id, page, line_no,
         TRY_CAST(NULLIF(regexp_extract(line, '^BT ([0-9.]+) ([0-9.]+) Td \((.*)\) Tj ET$', 1), '') AS DOUBLE) AS x,
         TRY_CAST(NULLIF(regexp_extract(line, '^BT ([0-9.]+) ([0-9.]+) Td \((.*)\) Tj ET$', 2), '') AS DOUBLE) AS y,
         regexp_extract(line, '^BT ([0-9.]+) ([0-9.]+) Td \((.*)\) Tj ET$', 3) AS txt
  FROM paged
  WHERE regexp_extract(line, '^BT ([0-9.]+) ([0-9.]+) Td \((.*)\) Tj ET$', 1) <> ''
    AND page IS NOT NULL
),
rules AS (
  SELECT doc_id, page,
         TRY_CAST(NULLIF(regexp_extract(line, '^([0-9.]+) ([0-9.]+) m ([0-9.]+) ([0-9.]+) l S$', 1), '') AS DOUBLE) AS x1,
         TRY_CAST(NULLIF(regexp_extract(line, '^([0-9.]+) ([0-9.]+) m ([0-9.]+) ([0-9.]+) l S$', 2), '') AS DOUBLE) AS y1,
         TRY_CAST(NULLIF(regexp_extract(line, '^([0-9.]+) ([0-9.]+) m ([0-9.]+) ([0-9.]+) l S$', 3), '') AS DOUBLE) AS x2,
         TRY_CAST(NULLIF(regexp_extract(line, '^([0-9.]+) ([0-9.]+) m ([0-9.]+) ([0-9.]+) l S$', 4), '') AS DOUBLE) AS y2
  FROM paged
  WHERE regexp_extract(line, '^([0-9.]+) ([0-9.]+) m ([0-9.]+) ([0-9.]+) l S$', 1) <> ''
    AND page IS NOT NULL
),
h AS (
  SELECT doc_id, page, y1 AS hy, LEAST(x1, x2) AS hx_lo, GREATEST(x1, x2) AS hx_hi
  FROM rules WHERE y1 = y2 AND x1 <> x2
),
v AS (
  SELECT doc_id, page, x1 AS vx, LEAST(y1, y2) AS vy_lo, GREATEST(y1, y2) AS vy_hi
  FROM rules WHERE x1 = x2 AND y1 <> y2
),
cross_ AS (
  SELECT h.doc_id, h.page, h.hy, v.vx
  FROM h JOIN v ON h.doc_id = v.doc_id AND h.page = v.page
  WHERE h.hy BETWEEN v.vy_lo AND v.vy_hi AND v.vx BETWEEN h.hx_lo AND h.hx_hi
),
good_h AS (
  SELECT doc_id, page, hy FROM (
    SELECT doc_id, page, hy, COUNT(*) AS n FROM cross_ GROUP BY 1, 2, 3
  ) WHERE n >= 2
),
good_v AS (
  SELECT doc_id, page, vx FROM (
    SELECT doc_id, page, vx, COUNT(*) AS n FROM cross_ GROUP BY 1, 2, 3
  ) WHERE n >= 2
),
row_bands AS (
  SELECT doc_id, page,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, page ORDER BY hy DESC) - 1 AS INTEGER) AS row_idx,
         hy AS y_hi, y_lo
  FROM (SELECT doc_id, page, hy,
               LEAD(hy) OVER (PARTITION BY doc_id, page ORDER BY hy DESC) AS y_lo
        FROM good_h)
  WHERE y_lo IS NOT NULL
),
col_bands AS (
  SELECT doc_id, page,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, page ORDER BY vx ASC) - 1 AS INTEGER) AS col_idx,
         vx AS x_lo, x_hi
  FROM (SELECT doc_id, page, vx,
               LEAD(vx) OVER (PARTITION BY doc_id, page ORDER BY vx ASC) AS x_hi
        FROM good_v)
  WHERE x_hi IS NOT NULL
)
SELECT r.doc_id, CAST(r.page AS INTEGER) AS page, rb.row_idx, cb.col_idx,
       string_agg(r.txt, ' ' ORDER BY r.x, r.txt) AS cell_text
FROM runs r
JOIN row_bands rb ON r.doc_id = rb.doc_id AND r.page = rb.page
               AND r.y > rb.y_lo AND r.y < rb.y_hi
JOIN col_bands cb ON r.doc_id = cb.doc_id AND r.page = cb.page
               AND r.x > cb.x_lo AND r.x < cb.x_hi
GROUP BY 1, 2, 3, 4
"""


# ---------------------------------------------------------------------------
# q46 — lattice cells → typed claim rows (the X5/F12 composition the lattice
# grid feeds): header row resolved by the F12 candidate-alignment operator
# (normalize.find_col_idx_col), dates through the U1 ladder, money through
# the U4 DECIMAL coercion. End-to-end: ruling geometry → grid → schema.
# ---------------------------------------------------------------------------


def _q45_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q45_lattice_tables(spark, sf_dir)


def q46_lattice_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.dates import normalize_date_col
    from .functions.money import money_coerce_col
    from .operators.normalize import find_col_idx_col

    from pyspark.sql import Window

    from .operators.texttables import lattice_cells_to_padded_rows

    rows = lattice_cells_to_padded_rows(_q45_cells(spark, sf_dir))
    # Header attach via a window over the SAME (doc_id, page) partitioning
    # the pad-width window uses — not a headers/data split + self-join,
    # which branched the padded-rows subtree into two legs whose pushed
    # row_idx filters made the exchanges non-identical and re-executed the
    # whole lattice parse per leg (VERDICT r4 What's-wrong 1). The
    # headers-null filter replicates the old inner join exactly: a page
    # whose header band caught no runs drops its data rows.
    w_hdr = (
        Window.partitionBy("doc_id", "page")
        .orderBy("row_idx")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # r8: resolve the header indices ON THE HEADER ROW (once per page,
    # inside the same window that used to carry the whole headers array)
    # and ship three small ints to the data rows — the find_col_idx_col
    # candidate scans are interpreted array HOFs, and evaluating them per
    # DATA row (4x the header rows) was ~1s of the q46 marginal at sf0.1.
    # Gating is unchanged: hidx is non-null exactly when row_idx==0 exists
    # for the page (the old headers-isNotNull filter).
    hdr_struct = F.when(
        F.col("row_idx") == 0,
        F.struct(
            find_col_idx_col(F.col("cells"), ["claim", "claim number"]).alias("i_claim"),
            find_col_idx_col(F.col("cells"), ["date", "loss date"]).alias("i_date"),
            find_col_idx_col(F.col("cells"), ["paid", "total paid"]).alias("i_paid"),
        ),
    )
    j = (
        rows.withColumn("hidx", F.first(hdr_struct, ignorenulls=True).over(w_hdr))
        .filter((F.col("row_idx") > 0) & F.col("hidx").isNotNull())
    )
    i_claim = F.col("hidx.i_claim")
    i_date = F.col("hidx.i_date")
    i_paid = F.col("hidx.i_paid")

    def cell(idx):
        v = F.when(idx.isNotNull() & (idx <= F.size("cells")),
                   F.trim(F.element_at(F.col("cells"), idx)))
        return F.coalesce(v, F.lit(""))

    raw_date = cell(i_date)
    return j.select(
        "doc_id",
        "row_idx",
        cell(i_claim).alias("claim_no"),
        # X5 passthrough semantics: normalized yyyy-MM-dd or the raw cell
        F.coalesce(normalize_date_col(F.nullif(raw_date, F.lit(""))), raw_date).alias("loss_date"),
        money_coerce_col(cell(i_paid)).cast("double").alias("paid"),
    )


def _q46_sql() -> str:
    # find_col_idx_col twin: exact lowercase match in candidate order, then
    # first header CONTAINING any candidate (1-based; NULL when absent)
    def idx_sql(cands: list[str]) -> str:
        exact = ", ".join(f"NULLIF(list_position(lh, '{c}'), 0)" for c in cands)
        contains = " OR ".join(f"contains(lh[CAST(i AS INTEGER)], '{c}')" for c in cands)
        return (
            f"COALESCE({exact}, "
            f"(list_filter(range(1, len(lh) + 1), i -> {contains}))[1])"
        )

    def cell_sql(idx: str) -> str:
        return (
            f"COALESCE(CASE WHEN {idx} IS NOT NULL AND {idx} <= len(cells) "
            f"THEN trim(cells[CAST({idx} AS INTEGER)]) END, '')"
        )

    c_claim, c_date, c_paid = (cell_sql(f"i_{f}") for f in ("claim", "date", "paid"))
    money = (
        "CASE WHEN REPLACE(REPLACE(REPLACE(CASE WHEN c LIKE '(%' AND c LIKE '%)' "
        "THEN substr(c, 2, len(c) - 2) ELSE c END, '$', ''), ',', ''), ' ', '') IN ('', '-') THEN 0.0 "
        "ELSE COALESCE(TRY_CAST(REPLACE(REPLACE(REPLACE(CASE WHEN c LIKE '(%' AND c LIKE '%)' "
        "THEN substr(c, 2, len(c) - 2) ELSE c END, '$', ''), ',', ''), ' ', '') AS DECIMAL(18,2)) "
        "* (CASE WHEN c LIKE '(%' AND c LIKE '%)' THEN -1 ELSE 1 END), 0.0) END"
    )
    return f"""
WITH cells_src AS ({_q45_sql()}),
mx AS (SELECT doc_id, page, MAX(col_idx) AS mx FROM cells_src GROUP BY 1, 2),
rows_ AS (
  SELECT r.doc_id, r.page, r.row_idx,
         list_transform(range(0, m.mx + 1),
                        i -> coalesce(map_extract(cmap, CAST(i AS INTEGER))[1], '')) AS cells
  FROM (
    SELECT doc_id, page, row_idx,
           map_from_entries(list(struct_pack(k := col_idx, v := cell_text))) AS cmap
    FROM cells_src GROUP BY 1, 2, 3
  ) r JOIN mx m ON r.doc_id = m.doc_id AND r.page = m.page
),
hdr AS (
  SELECT doc_id, page, list_transform(cells, h -> lower(trim(h))) AS lh
  FROM rows_ WHERE row_idx = 0
),
joined AS (
  SELECT d.doc_id, d.row_idx, d.cells,
         CAST({idx_sql(["claim", "claim number"])} AS INTEGER) AS i_claim,
         CAST({idx_sql(["date", "loss date"])} AS INTEGER) AS i_date,
         CAST({idx_sql(["paid", "total paid"])} AS INTEGER) AS i_paid
  FROM (SELECT * FROM rows_ WHERE row_idx > 0) d
  JOIN hdr h ON d.doc_id = h.doc_id AND d.page = h.page
)
SELECT doc_id, row_idx,
       {c_claim} AS claim_no,
       (SELECT COALESCE(strftime(try_strptime(rd, '%m/%d/%Y'), '%Y-%m-%d'), rd)
        FROM (SELECT {c_date} AS rd)) AS loss_date,
       CAST((SELECT {money} FROM (SELECT {c_paid} AS c)) AS DOUBLE) AS paid
FROM joined
"""
