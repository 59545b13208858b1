"""Query pack 3: carrier extraction, page split, chunk merge, table
normalization, WC tabular parse, accuracy scoring, recipient join —
operators from SURVEY §2 families F9/F10, X2, A7, F12/X5, X6, A5/W2, J3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .entry_queries import _t
from .operators import carrier, chunkmerge, normalize, pages, registry, wc_tabular
from .operators.aggregate import field_accuracy
from .operators.ordering import positional_pairing


# ---------------------------------------------------------------------------
# q24 — F9 carrier from text
# ---------------------------------------------------------------------------


def q24_carrier_from_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    txt = F.concat(
        F.lit("Carrier: "), F.initcap(F.col("n_name")), F.lit(" Shield Insurance\nClaim follows."),
    )
    docs = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("c_custkey").alias("doc_key"), txt.alias("text")
    )
    return docs.select("doc_key", carrier.carrier_from_text(F.col("text")).alias("carrier"))


_Q24_SQL = r"""
WITH docs AS (
  SELECT c_custkey AS doc_key,
         'Carrier: ' ||
         (upper(substring(n_name, 1, 1)) || lower(substring(n_name, 2))) ||
         ' Shield Insurance' || chr(10) || 'Claim follows.' AS text
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT doc_key,
       CASE WHEN length(trim(regexp_extract(text,
              '(?i)\b(?:carrier|company|insurer|provider)\s*[:\-]\s*([A-Za-z0-9 &''.\-/]+)', 1))) > 2
            THEN trim(regexp_extract(text,
              '(?i)\b(?:carrier|company|insurer|provider)\s*[:\-]\s*([A-Za-z0-9 &''.\-/]+)', 1))
       END AS carrier
FROM docs
"""


# ---------------------------------------------------------------------------
# q25 — X2 page split on markers
# ---------------------------------------------------------------------------


def _paged_docs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    text = F.concat(
        F.lit("--- PAGE 1 ---\n"), F.substring("text", 1, 80),
        F.lit("\n--- PAGE 2 ---\n"), F.substring("text", 81, 80),
    )
    return d.select(F.col("doc_id"), text.alias("extracted_text"))


_PAGED_SQL = """
SELECT doc_id,
       '--- PAGE 1 ---' || chr(10) || substring(text, 1, 80) ||
       chr(10) || '--- PAGE 2 ---' || chr(10) || substring(text, 81, 80) AS extracted_text
FROM documents
"""


def q25_split_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _paged_docs_spark(spark, sf_dir)
    return pages.split_pages(docs, keep_cols=["doc_id"])


_Q25_SQL = rf"""
WITH docs AS ({_PAGED_SQL}),
split AS (
  SELECT doc_id,
         regexp_extract_all(extracted_text, '(?m)^--- PAGE\s+(\d+)\s+---$', 1) AS nums,
         regexp_split_to_array(extracted_text, '(?m)^--- PAGE\s+\d+\s+---\n?') AS bodies
  FROM docs
)
SELECT doc_id,
       CAST(nums[i] AS INTEGER) AS page_no,
       regexp_replace(regexp_replace(bodies[i + 1], '^\s+', ''), '\s+$', '') AS page_text
FROM split, LATERAL (SELECT unnest(range(1, len(nums) + 1)) AS i) u
"""


# ---------------------------------------------------------------------------
# q26 — A7 chunk merge (first non-empty envelope + concatenated claims)
# ---------------------------------------------------------------------------


def q26_merge_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    chunks = li.select(
        F.col("l_orderkey").alias("doc_id"),
        F.col("l_linenumber").alias("chunk_idx"),
        F.when(F.col("l_linenumber") % 3 == 0, F.date_format("l_shipdate", "yyyy-MM-dd"))
        .otherwise(F.lit("")).alias("evaluation_date"),
        F.when(F.col("l_returnflag") == "R", F.lit("Returns Mutual")).otherwise(F.lit("")).alias("carrier"),
        F.array(F.concat(F.lit("CL-"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber"))).alias("claims"),
    )
    merged = chunkmerge.merge_chunks(chunks)
    return merged.select(
        "doc_id", "evaluation_date", "carrier",
        F.array_join("claims", "|").alias("claims_joined"),
        F.size("claims").alias("n_claims"),
    )


_Q26_SQL = """
WITH chunks AS (
  SELECT l_orderkey AS doc_id, l_linenumber AS chunk_idx,
         CASE WHEN l_linenumber % 3 = 0 THEN strftime(l_shipdate, '%Y-%m-%d') ELSE '' END AS evaluation_date,
         CASE WHEN l_returnflag = 'R' THEN 'Returns Mutual' ELSE '' END AS carrier,
         'CL-' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS claim
  FROM lineitem
)
SELECT doc_id,
       COALESCE((list(evaluation_date ORDER BY chunk_idx, evaluation_date) FILTER (WHERE evaluation_date <> ''))[1], '') AS evaluation_date,
       COALESCE((list(carrier ORDER BY chunk_idx, carrier) FILTER (WHERE carrier <> ''))[1], '') AS carrier,
       string_agg(claim, '|' ORDER BY chunk_idx, claim) AS claims_joined,
       COUNT(*) AS n_claims
FROM chunks
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q27 — F12/X5 header alignment + table normalization
# ---------------------------------------------------------------------------


def q27_normalize_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    row = F.array(
        F.concat(F.lit("NW-"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")),
        F.date_format("l_shipdate", "MM/dd/yyyy"),
        F.col("l_extendedprice").cast("decimal(18,2)").cast("string"),
    )
    # headers vary per doc to exercise exact-vs-substring alignment
    headers = F.when(
        F.col("doc_id") % 2 == 0,
        F.array(F.lit("Claim Number"), F.lit("Loss Date"), F.lit("Paid Loss")),
    ).otherwise(F.array(F.lit("Ref"), F.lit("The DOL Col"), F.lit("Total Paid Amount")))
    per_doc = (
        li.withColumn("doc_id", F.col("l_orderkey"))
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("l_linenumber"), row.alias("r")))),
                lambda s: s["r"],
            ).alias("data")
        )
    )
    tables_df = per_doc.select(
        "doc_id",
        F.lit("Evaluation Date: 01/15/2024\nCarrier: Keystone Insurance Co").alias("pdf_text"),
        F.array(F.struct(headers.alias("headers"), F.col("data").alias("data"))).alias("tables"),
    )
    out = normalize.normalize_tables(tables_df, "AUTO")
    return out.select("doc_id", "row_pos", "evaluation_date", "carrier",
                      "claim_number", "loss_date", "paid_loss", "reserve", "alae")


_Q27_SQL = """
WITH rows_ AS (
  SELECT l_orderkey AS doc_id,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber,
                                     'NW-' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR),
                                     strftime(l_shipdate, '%m/%d/%Y'),
                                     CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)) - 1 AS row_pos,
         'NW-' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS claim_number,
         strftime(l_shipdate, '%m/%d/%Y') AS raw_date,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS paid_loss
  FROM lineitem
)
SELECT doc_id, row_pos,
       '2024-01-15' AS evaluation_date,
       'Keystone Insurance Co' AS carrier,
       claim_number,
       strftime(try_strptime(raw_date, '%m/%d/%Y'), '%Y-%m-%d') AS loss_date,
       paid_loss,
       '' AS reserve,
       '' AS alae
FROM rows_
"""


# ---------------------------------------------------------------------------
# q28 — X6 WC tabular heuristic
# ---------------------------------------------------------------------------


def _q28_sql(doc_cte: str | None = None) -> str:
    """DuckDB twin of wc_tabular._extract_wc over the q28 fixture. The
    greedy per-part elif cascade is replicated exactly: the claim column is
    taken by the FIRST claim-token part, the date by the first date-token
    part not consumed by the claim branch, and each money column by the
    LAST matching free part (the Python assignments are unguarded). SQL is
    generated from the same _HEADER_MAP constants as the Spark kernel.

    ``doc_cte`` overrides the fixture document CTE (must yield
    (doc_id, extracted_text)) — used by the randomized differential test
    to replay the cascade over arbitrary corpora."""
    from .operators.wc_tabular import _HEADER_MAP

    def likes(col: str, keys: list[str]) -> str:
        return " OR ".join(f"{col} LIKE '%{k}%'" for k in keys)

    hits = " + ".join(
        "(CASE WHEN " + likes("lnl", keys) + " THEN 1 ELSE 0 END)"
        for keys in _HEADER_MAP.values()
    )
    # branch order == the Python elif chain (wc_tabular.py:108-117)
    moneycat = f"""CASE
      WHEN {likes('pl', _HEADER_MAP['indemnity_paid'])} OR pl LIKE '%indemnity%' THEN 'ip'
      WHEN {likes('pl', _HEADER_MAP['medical_paid'])} OR pl LIKE '%medical%' THEN 'mp'
      WHEN {likes('pl', _HEADER_MAP['indemnity_reserve'])} THEN 'ir'
      WHEN {likes('pl', _HEADER_MAP['medical_reserve'])} THEN 'mr'
      WHEN pl LIKE '%alae%' OR {likes('pl', _HEADER_MAP['alae'])} THEN 'al'
      END"""
    money_pat = r"[-$]?\d{1,3}(?:,\d{3})*(?:\.\d+)?|[-$]?\d+(?:\.\d+)?"
    claim_pat = r"\b\d{5,}\b|[A-Za-z]\d{4,}"
    date_pat = r"\b\d{1,2}[\-/]\d{1,2}[\-/]\d{2,4}\b"
    carrier_pats = [
        r"(?i)\b(?:carrier|company|insurer|provider)\s*[:\-]\s*([A-Za-z0-9 &''.\-/]+)",
        r"(?i)\b([A-Z][A-Za-z0-9 &''.\-/]+(?:Insurance|Ins|Corp|Corporation|Company|Co|LLC|Inc))\b",
        r"(?i)\b(?:Policy\s*holder|Insured)\s*[:\-]\s*([A-Za-z0-9 &''.\-/]+)",
    ]
    carrier = ",\n      ".join(
        f"CASE WHEN length(trim(regexp_extract(extracted_text, '{p}', 1))) > 2"
        f" THEN trim(regexp_extract(extracted_text, '{p}', 1)) END"
        for p in carrier_pats
    )

    def moneycol(cat: str) -> str:
        # the LAST matching part's money (part_no is unique per line). A
        # MAX over {'k': part_no, 'v': money} structs computes the same
        # value but held GBs of aggregate state at sf0.1.
        return (
            "COALESCE(arg_max(money, part_no)"
            f" FILTER (WHERE free AND moneycat = '{cat}'), '')"
        )

    if doc_cte is None:
        doc_cte = """
  SELECT l_orderkey AS doc_id,
         'Evaluation Date: 06-30-2024' || chr(10) || 'Carrier: Keystone Mutual' || chr(10) ||
         'Claim Number    Loss Date    Indemnity Paid    Medical Paid' || chr(10) ||
         string_agg(line, chr(10) ORDER BY l_linenumber, line) AS extracted_text
  FROM (
    SELECT l_orderkey, l_linenumber,
           'W' || CAST(l_orderkey AS VARCHAR) || '0' || CAST(l_linenumber AS VARCHAR) ||
           '    ' || strftime(l_shipdate, '%m/%d/%Y') ||
           '    indemnity ' || CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) ||
           '    medical ' || CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS line
    FROM lineitem WHERE l_linenumber <= 3
  )
  GROUP BY l_orderkey
"""
    return f"""
WITH doc AS ({doc_cte}),
hdr AS (
  SELECT doc_id, extracted_text,
    COALESCE(
      NULLIF(trim(regexp_extract(extracted_text,
        '(?i)Evaluation\\s*Date\\s*[:\\-]\\s*([0-9]{{1,2}}[\\-/][0-9]{{1,2}}[\\-/][0-9]{{2,4}})', 1)), ''),
      NULLIF(trim(regexp_extract(extracted_text,
        '(?i)As\\s*of\\s*Date\\s*[:\\-]\\s*([A-Za-z]{{3,9}}\\s+[0-9]{{1,2}},\\s*[0-9]{{4}})', 1)), ''),
      '') AS evaluation_date,
    COALESCE(
      {carrier},
      '') AS carrier
  FROM doc
),
lines AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY idx) AS line_no,
         ln
  FROM (
    SELECT doc_id, u.i AS idx,
           regexp_replace(regexp_replace(ls[CAST(u.i AS INTEGER)], '^\\s+', ''), '\\s+$', '') AS ln
    FROM (SELECT doc_id, string_split(extracted_text, chr(10)) AS ls FROM hdr) t,
         LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) u
  )
  WHERE ln <> ''
),
hdrline AS (
  SELECT doc_id, MIN(line_no) AS header_no
  FROM (SELECT doc_id, line_no, lower(ln) AS lnl FROM lines)
  WHERE ({hits}) >= 2
  GROUP BY doc_id
),
parts AS (
  SELECT doc_id, line_no, u.i AS part_no,
         ps[CAST(u.i AS INTEGER)] AS p, lower(ps[CAST(u.i AS INTEGER)]) AS pl
  FROM (
    SELECT l.doc_id, l.line_no,
           list_filter(list_transform(regexp_split_to_array(l.ln, '\\s{{2,}}|\\t|\\|'),
                                      x -> trim(x)), x -> x <> '') AS ps
    FROM lines l JOIN hdrline h ON l.doc_id = h.doc_id AND l.line_no > h.header_no
  ) t,
  LATERAL (SELECT unnest(range(1, len(ps) + 1)) AS i) u
  WHERE len(ps) >= 3
),
flag AS (
  SELECT *, regexp_matches(p, '{claim_pat}') AS is_claim,
         regexp_matches(p, '{date_pat}') AS is_date,
         {moneycat} AS moneycat,
         CASE WHEN regexp_matches(p, '{money_pat}')
              THEN regexp_extract(p, '{money_pat}') ELSE p END AS money
  FROM parts
),
sel AS (
  SELECT *, MIN(CASE WHEN is_claim THEN part_no END)
              OVER (PARTITION BY doc_id, line_no) AS claim_idx
  FROM flag
),
sel2 AS (
  SELECT *, MIN(CASE WHEN is_date AND part_no IS DISTINCT FROM claim_idx THEN part_no END)
              OVER (PARTITION BY doc_id, line_no) AS date_idx,
         (part_no IS DISTINCT FROM claim_idx) AS _free_c
  FROM sel
),
rowvals AS (
  SELECT doc_id, line_no,
    COALESCE(MAX(CASE WHEN part_no = claim_idx THEN p END), '') AS claim_number,
    COALESCE(MAX(CASE WHEN part_no = date_idx THEN p END), '') AS loss_date,
    {moneycol('ip')} AS "Indemnity_paid_loss",
    {moneycol('mp')} AS "Medical_paid_loss",
    {moneycol('ir')} AS "Indemnity_reserve",
    {moneycol('mr')} AS "Medical_reserve",
    {moneycol('al')} AS "ALAE"
  FROM (SELECT *, (_free_c AND part_no IS DISTINCT FROM date_idx) AS free FROM sel2)
  GROUP BY doc_id, line_no
)
SELECT k.doc_id, h.evaluation_date, h.carrier,
       CAST(ROW_NUMBER() OVER (PARTITION BY k.doc_id ORDER BY k.line_no) - 1 AS INTEGER) AS claim_pos,
       k.claim_number, k.loss_date,
       k."Indemnity_paid_loss", k."Medical_paid_loss", k."Indemnity_reserve",
       k."Medical_reserve", k."ALAE"
FROM (SELECT * FROM rowvals WHERE claim_number <> '') k
JOIN hdr h ON k.doc_id = h.doc_id
"""


def q28_wc_tabular(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 3)
    line = F.concat(
        F.lit("W"), F.col("l_orderkey"), F.lit("0"), F.col("l_linenumber"),
        F.lit("    "), F.date_format("l_shipdate", "MM/dd/yyyy"),
        F.lit("    indemnity "), F.col("l_extendedprice").cast("decimal(18,2)").cast("string"),
        F.lit("    medical "), F.col("l_quantity").cast("decimal(18,2)").cast("string"),
    )
    doc = (
        li.groupBy(F.col("l_orderkey").alias("doc_id"))
        .agg(
            F.concat(
                F.lit("Evaluation Date: 06-30-2024\nCarrier: Keystone Mutual\n"
                      "Claim Number    Loss Date    Indemnity Paid    Medical Paid\n"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("l_linenumber", line.alias("l")))),
                        lambda s: s["l"],
                    ),
                    "\n",
                ),
            ).alias("extracted_text")
        )
    )
    return wc_tabular.wc_claims(doc, keep_cols=["doc_id"])


# ---------------------------------------------------------------------------
# q29 — A5/W2 positional accuracy scoring
# ---------------------------------------------------------------------------


def q29_field_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    truth = o.select(
        F.col("o_orderkey").alias("doc"),
        F.col("o_orderkey").alias("k"),
        F.concat(F.lit("NW-"), F.col("o_orderkey")).alias("claim_t"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_t"),
    )
    # predictions: claim wrong for every 10th doc, date wrong for every 7th
    preds = o.select(
        F.col("o_orderkey").alias("doc"),
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("WRONG"))
        .otherwise(F.concat(F.lit("NW-"), F.col("o_orderkey"))).alias("claim_p"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("1900-01-01"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("date_p"),
    )
    paired = positional_pairing(preds, truth, "doc", ["k"])
    return field_accuracy(
        paired, [("claim_acc", "claim_p", "claim_t"), ("date_acc", "date_p", "date_t")]
    )


_Q29_SQL = """
SELECT ROUND(AVG(CASE WHEN o_orderkey % 10 = 0 THEN 0 ELSE 1 END), 3) AS claim_acc,
       ROUND(AVG(CASE WHEN o_orderkey % 7 = 0 THEN 0 ELSE 1 END), 3) AS date_acc
FROM orders
"""


# ---------------------------------------------------------------------------
# q30 — J3 LOB→recipient broadcast join + folder-path scheme
# ---------------------------------------------------------------------------


def q30_recipients(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    reg = n.select(
        F.col("n_name").alias("account"),
        F.element_at(F.array(F.lit("AUTO"), F.lit("WC"), F.lit("GL"), F.lit("PROPERTY")),
                     (F.col("n_nationkey") % 4 + 1).cast("int")).alias("lob"),
        F.lpad((F.col("n_nationkey") * 7 % 10000).cast("string"), 4, "0").alias("policy_number"),
        F.lit("21-09-2024").alias("effective_date"),
    )
    emails = spark.createDataFrame(
        [("AUTO", "auto@x.com"), ("WC", "wc@x.com"), ("GL", "gl@x.com")],
        "lob string, email string",
    )
    out = registry.with_recipients(registry.folder_path(reg), emails)
    return out.select("account", "lob", "policy_number", "folder_path", "email")


_Q30_SQL = """
WITH reg AS (
  SELECT n_name AS account,
         (['AUTO','WC','GL','PROPERTY'])[(n_nationkey % 4) + 1] AS lob,
         lpad(CAST(n_nationkey * 7 % 10000 AS VARCHAR), 4, '0') AS policy_number,
         '21-09-2024' AS effective_date
  FROM nation
),
emails(lob, email) AS (VALUES ('AUTO','auto@x.com'), ('WC','wc@x.com'), ('GL','gl@x.com'))
SELECT account, reg.lob, policy_number,
       account || '/' || reg.lob || '/' || policy_number || '-21092024' AS folder_path,
       emails.email
FROM reg LEFT JOIN emails ON upper(reg.lob) = upper(emails.lob)
"""
