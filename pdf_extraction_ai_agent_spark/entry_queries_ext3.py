"""Query pack 4: grid reconstruction (X7/S9), overlapping chunking (X3),
page analysis (A6), strategy counters (A9/C4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .entry_queries import _t
from .entry_queries_ext2 import _paged_docs_spark, _PAGED_SQL
from .operators import aggregate, chunking, grid, pages


# ---------------------------------------------------------------------------
# q31 — X7 cells→grid + S9 pipe-text (tables from lineitem cells)
# ---------------------------------------------------------------------------


def q31_grid_pipe_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 4)
    data_cells = li.select(
        F.col("l_orderkey").alias("table_id"),
        (F.col("l_linenumber") + 1).alias("row_idx"),
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("col_idx"),
                         F.concat(F.lit("NW-"), F.col("l_orderkey"), F.lit("-"),
                                  F.col("l_linenumber")).alias("cell_text")),
                F.struct(F.lit(2).alias("col_idx"),
                         F.col("l_extendedprice").cast("decimal(18,2)").cast("string").alias("cell_text")),
            )
        ).alias("c"),
    ).select("table_id", "row_idx", "c.col_idx", "c.cell_text")
    header_cells = li.select(F.col("l_orderkey").alias("table_id")).distinct().select(
        "table_id",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("row_idx"), F.lit(1).alias("col_idx"), F.lit("Claim").alias("cell_text")),
                F.struct(F.lit(1).alias("row_idx"), F.lit(2).alias("col_idx"), F.lit("Paid").alias("cell_text")),
            )
        ).alias("c"),
    ).select("table_id", "c.row_idx", "c.col_idx", "c.cell_text")
    cells = header_cells.unionByName(data_cells)
    return grid.grid_to_pipe_text(grid.cells_to_grid(cells))


_Q31_SQL = """
WITH rows_ AS (
  SELECT l_orderkey AS table_id, l_linenumber + 1 AS row_idx,
         'NW-' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
         || ' | ' || CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS line
  FROM lineitem WHERE l_linenumber <= 4
),
-- duplicate (row,col) cells merge with ' ' in text order; our synthetic
-- cells collide only via duplicate l_linenumber, handled by line-merging:
merged AS (
  SELECT table_id, row_idx,
         string_agg(cl1, ' ' ORDER BY cl1) || ' | ' || string_agg(cl2, ' ' ORDER BY cl2) AS line
  FROM (
    SELECT l_orderkey AS table_id, l_linenumber + 1 AS row_idx,
           'NW-' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS cl1,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS cl2
    FROM lineitem WHERE l_linenumber <= 4
  )
  GROUP BY table_id, row_idx
)
SELECT table_id AS sheet,
       'SHEET: ' || CAST(table_id AS VARCHAR) || chr(10) || 'Claim | Paid' || chr(10) ||
       string_agg(line, chr(10) ORDER BY row_idx) AS pipe_text
FROM merged
GROUP BY table_id
"""


# ---------------------------------------------------------------------------
# q32 — X3 overlapping chunking (newline-free corpus → closed-form oracle)
# ---------------------------------------------------------------------------

_CHUNK_MAX, _CHUNK_OVR = 120, 30  # stride 90


def q32_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    docs = d.select(F.col("doc_id"), F.col("text").alias("extracted_text"))
    out = chunking.chunk_text(docs, keep_cols=["doc_id"],
                              max_chars=_CHUNK_MAX, overlap_chars=_CHUNK_OVR)
    return out.select("doc_id", "chunk_idx", "start", "end", F.length("chunk").alias("chunk_len"))


_Q32_SQL = f"""
WITH d AS (SELECT doc_id, length(text) AS n FROM documents WHERE length(text) > 0),
idx AS (
  SELECT doc_id, n, CAST(i AS INTEGER) AS chunk_idx
  FROM d, LATERAL (SELECT unnest(range(0, 10000)) AS i) u
  WHERE i * {_CHUNK_MAX - _CHUNK_OVR} < n
    AND (i = 0 OR (i - 1) * {_CHUNK_MAX - _CHUNK_OVR} + {_CHUNK_MAX} < n)
)
SELECT doc_id, chunk_idx,
       chunk_idx * {_CHUNK_MAX - _CHUNK_OVR} AS start,
       LEAST(chunk_idx * {_CHUNK_MAX - _CHUNK_OVR} + {_CHUNK_MAX}, n) AS "end",
       LEAST(chunk_idx * {_CHUNK_MAX - _CHUNK_OVR} + {_CHUNK_MAX}, n)
         - chunk_idx * {_CHUNK_MAX - _CHUNK_OVR} AS chunk_len
FROM idx
"""


# ---------------------------------------------------------------------------
# q33 — A6 page analysis over marker-split pages
# ---------------------------------------------------------------------------


def q33_page_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = pages.split_pages(_paged_docs_spark(spark, sf_dir), keep_cols=["doc_id"])
    return aggregate.page_analysis(p, doc_col="doc_id")


_Q33_SQL = rf"""
WITH docs AS ({_PAGED_SQL}),
split AS (
  SELECT doc_id,
         regexp_extract_all(extracted_text, '(?m)^--- PAGE\s+(\d+)\s+---$', 1) AS nums,
         regexp_split_to_array(extracted_text, '(?m)^--- PAGE\s+\d+\s+---\n?') AS bodies
  FROM docs
),
p AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(bodies[i + 1], '^\s+', ''), '\s+$', '') AS page_text
  FROM split, LATERAL (SELECT unnest(range(1, len(nums) + 1)) AS i) u
),
stats AS (
  SELECT doc_id AS doc,
         length(page_text) AS chars,
         len(string_split(page_text, chr(10))) AS lines,
         len(regexp_extract_all(page_text, '(?m)^.*\S {{2,}}\S.*$')) AS tab_lines
  FROM p
)
SELECT doc, COUNT(*) AS n_pages,
       ROUND(AVG(chars), 2) AS avg_chars,
       ROUND(AVG(lines), 2) AS avg_lines,
       CAST(SUM(tab_lines) AS BIGINT) AS total_tab_lines,
       ROUND(CAST(SUM(tab_lines) AS DOUBLE) / GREATEST(SUM(lines), 1), 6) AS tabular_ratio,
       (CAST(SUM(tab_lines) AS DOUBLE) / GREATEST(SUM(lines), 1)) > 0.3 AS looks_tabular
FROM stats
GROUP BY doc
"""


# ---------------------------------------------------------------------------
# q34 — A9/C4 strategy counters over routed documents
# ---------------------------------------------------------------------------


def q34_strategy_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    routed = o.select(
        chunking.route_strategy_col(
            chunking.complexity_score_col(
                (F.col("o_orderkey") % 40).cast("int"),
                (F.col("o_custkey") % 100).cast("double") / 100.0,
                (F.col("o_orderkey") % 10).cast("double") / 30.0,
                (F.col("o_custkey") % 5).cast("double"),
            )
        ).alias("strategy"),
        (F.col("o_orderkey") % 9 != 0).alias("success"),
    )
    return aggregate.strategy_counters(routed)


_Q34_SQL = """
WITH scored AS (
  SELECT LEAST(CAST(CEIL((o_orderkey % 40) / 10.0) AS INTEGER), 3)
         + (CASE WHEN (o_custkey % 100) / 100.0 > 0.6 THEN 3
                 WHEN (o_custkey % 100) / 100.0 > 0.3 THEN 2
                 WHEN (o_custkey % 100) / 100.0 > 0.05 THEN 1 ELSE 0 END)
         + (CASE WHEN (o_orderkey % 10) / 30.0 > 0.2 THEN 2
                 WHEN (o_orderkey % 10) / 30.0 > 0.05 THEN 1 ELSE 0 END)
         + (CASE WHEN (o_custkey % 5) > 3.0 THEN 2
                 WHEN (o_custkey % 5) > 1.5 THEN 1 ELSE 0 END) AS score,
         (o_orderkey % 9 != 0) AS success
  FROM orders
),
routed AS (
  SELECT CASE WHEN score <= 3 THEN 'camelot_tabula'
              WHEN score <= 6 THEN 'claude_text'
              ELSE 'claude_image' END AS strategy, success
  FROM scored
)
SELECT strategy, COUNT(*) AS attempts,
       COUNT(CASE WHEN success THEN 1 END) AS successes,
       ROUND(CAST(COUNT(CASE WHEN success THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS success_rate
FROM routed
GROUP BY strategy
"""


# ---------------------------------------------------------------------------
# q35 — C2 multi-LOB membership classification (array output, joined)
# ---------------------------------------------------------------------------


def q35_classify_lobs_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .entry_queries import _LOB_SENT_BY_PRIORITY
    from .operators.classify import classify_lobs_c2

    o = _t(spark, sf_dir, "orders")
    out = None
    for k, v in _LOB_SENT_BY_PRIORITY.items():
        cond = F.col("o_orderpriority") == k
        out = F.when(cond, F.lit(v)) if out is None else out.when(cond, F.lit(v))
    docs = o.select(F.col("o_orderkey").alias("doc_key"), out.alias("text"))
    return docs.select(
        "doc_key",
        F.array_join(classify_lobs_c2(F.col("text")), "|").alias("lobs"),
    )


def _q35_sql() -> str:
    from . import spec
    from .entry_queries import _LOB_SENT_BY_PRIORITY

    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _LOB_SENT_BY_PRIORITY.items())

    def hit(lob: str) -> str:
        toks = " OR ".join(
            "contains(up, '" + t.replace("'", "''") + "')" for t in spec.LOB_HITS_C2[lob]
        )
        return f"({toks})"

    return f"""
WITH docs AS (
  SELECT o_orderkey AS doc_key, upper(CASE o_orderpriority {whens} END) AS up FROM orders
),
hits AS (
  SELECT doc_key,
         COALESCE(array_to_string(list_filter([
           CASE WHEN {hit('AUTO')} THEN 'AUTO' END,
           CASE WHEN {hit('GENERAL LIABILITY')} THEN 'GENERAL LIABILITY' END,
           CASE WHEN {hit('WC')} THEN 'WC' END
         ], x -> x IS NOT NULL), '|'), '') AS joined
  FROM docs
)
SELECT doc_key, CASE WHEN joined = '' THEN 'AUTO' ELSE joined END AS lobs
FROM hits
"""
