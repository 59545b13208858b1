"""Driver-facing query pack: paired (Spark DataFrame query, DuckDB oracle
SQL) per implemented operator from SURVEY.md §2.

Inputs are the driver's parquet tables (region nation customer supplier part
orders lineitem events documents embeddings). Where an operator needs
claim-shaped text, both sides synthesize IDENTICAL text deterministically
from `orders`/`lineitem` (same template as the reference's sample generator,
scripts/generate_samples.py:195-202) — so the regex/normalization operators
are exercised for real and the DuckDB SQL is a genuinely independent oracle.

Column-name / value-hash contract: every computed column is aliased the same
on both sides; money uses DECIMAL(18,2) (order-independent exact sums);
ratios are doubles rounded identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import spec
from .functions.dates import normalize_date_col
from .functions.fields import (
    claim_number_col,
    confidence_col,
    date_col,
    name_col,
)
from .functions.money import money_coerce_col
from .operators.classify import classify_lob_c1
from .operators.records import split_records

# ---------------------------------------------------------------------------
# shared synthesized inputs
# ---------------------------------------------------------------------------

_NAME_POOL = ["Alex Morgan", "Jamie Lee", "Robin Banks", "Casey Stone"]
_REASON_BY_PRIORITY = {
    "1-URGENT": "Auto collision",
    "2-HIGH": "Fire damage",
    "3-MEDIUM": "Water damage",
    "4-NOT SPECIFIED": "Theft",
    "5-LOW": "Slip and fall",
}
# LOB-keyword sentence per order priority (exercises C1 occurrence counting;
# tokens from spec.LOB_PATTERNS_C1)
_LOB_SENT_BY_PRIORITY = {
    "1-URGENT": "COMMERCIAL AUTO policy with VEHICLE damage, AUTO LIABILITY noted.",
    "2-HIGH": "GENERAL LIABILITY occurrence on PREMISES, CGL COVERAGE A BUSINESS LIABILITY.",
    "3-MEDIUM": "WORKERS COMPENSATION report, WORK COMP indemnity, EMPLOYER LIABILITY.",
    "4-NOT SPECIFIED": "Routine correspondence with no line of business keywords.",
    "5-LOW": "VEHICLE and TRUCK fleet AUTO schedule; GL PROPERTY rider attached.",
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One driver table, as scanned (every query pack reads through this)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-spread a narrow scan across all cores. The driver tables ship
    as ONE parquet row group, so Spark plans ONE input split and every
    operator above the scan runs on a single core until the first exchange.

    The query packs spread a scan before heavy per-row work: a Python
    kernel (Arrow UDF, ``mapInPandas``) or regex / higher-order-function
    work over a text column. A scan whose consumer only hashes ids, takes
    lengths, or does q16's small-vector top-k reads unspread: there the
    extra exchange costs more than the parallelism returns. Keyed
    repartition avoids the local sort a round-robin ``repartition(n)``
    pays (SPARK-23207), and keying on the downstream groupBy/window key
    means the exchange REPLACES the one the aggregation would plan.
    Scale-adaptive: a scan that already has >= defaultParallelism splits
    (the real-cluster case) is returned untouched."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *[F.col(k) for k in keys])


def _sqlq(pattern: str) -> str:
    """Escape a regex for embedding in a single-quoted SQL literal."""
    return pattern.replace("'", "''")


def _reason_case_spark(col):
    out = None
    for k, v in _REASON_BY_PRIORITY.items():
        cond = F.when(col == k, F.lit(v))
        out = cond if out is None else out.when(col == k, F.lit(v))
    return out.otherwise(F.lit("Liability claim"))


def _reason_case_sql(col: str) -> str:
    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _REASON_BY_PRIORITY.items())
    return f"CASE {col} {whens} ELSE 'Liability claim' END"


def _name_case_spark(key_col):
    out = None
    for i, n in enumerate(_NAME_POOL):
        cond = key_col % 4 == i
        out = F.when(cond, F.lit(n)) if out is None else out.when(cond, F.lit(n))
    return out


def _name_case_sql(key_col: str) -> str:
    whens = " ".join(f"WHEN {i} THEN '{n}'" for i, n in enumerate(_NAME_POOL))
    return f"CASE ({key_col} % 4) {whens} END"


def _claim_text_spark(o: DataFrame) -> DataFrame:
    """Per-order claim narrative (generate_samples.py template 1 + Claimant
    line), identical to _CLAIM_TEXT_SQL."""
    amt = F.col("o_totalprice").cast("decimal(18,2)").cast("string")
    txt = F.concat(
        F.lit("Claim# NW-"), F.col("o_orderkey").cast("string"),
        F.lit(" noted with amount $"), amt,
        F.lit(". Reason: "), _reason_case_spark(F.col("o_orderpriority")),
        F.lit(". Date of loss: "), F.date_format("o_orderdate", "MM/dd/yyyy"),
        F.lit(".\nClaimant: "), _name_case_spark(F.col("o_custkey")),
    )
    return o.select(F.col("o_orderkey").alias("doc_key"), txt.alias("text"))


_CLAIM_TEXT_SQL = f"""
SELECT o_orderkey AS doc_key,
       'Claim# NW-' || CAST(o_orderkey AS VARCHAR)
       || ' noted with amount $' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
       || '. Reason: ' || {_reason_case_sql('o_orderpriority')}
       || '. Date of loss: ' || strftime(o_orderdate, '%m/%d/%Y')
       || '.' || chr(10) || 'Claimant: ' || {_name_case_sql('o_custkey')}
       AS text
FROM orders
"""


# ---------------------------------------------------------------------------
# q01 — F1/F2/U1/U8: parse_fields over claim narratives
# ---------------------------------------------------------------------------


def q01_parse_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _claim_text_spark(_spread(_t(spark, sf_dir, "orders"), "o_orderkey"))
    text = F.col("text")
    return docs.select(
        "doc_key",
        claim_number_col(text).alias("claim_number"),
        name_col(text).alias("claimant_name"),
        date_col(text).alias("loss_date"),
        confidence_col(
            claim_number_col(text), name_col(text), date_col(text)
        ).alias("confidence"),
    )


_DUCK_DATE_LADDER = (
    "strftime(try_strptime(trim({v}), ['%m/%d/%Y','%m-%d-%Y','%d/%m/%Y','%d-%m-%Y',"
    "'%m/%d/%y','%m-%d-%y','%B %d, %Y','%b %d, %Y','%Y-%m-%d','%Y/%m/%d']), '%Y-%m-%d')"
)


def _q01_sql() -> str:
    claim = (
        "COALESCE("
        f"NULLIF(regexp_extract(text, '{_sqlq(spec.CLAIM_PATTERNS[0])}', 1), ''), "
        f"NULLIF(regexp_extract(text, '{_sqlq(spec.CLAIM_PATTERNS[1])}', 1), ''))"
    )
    name = f"NULLIF(regexp_extract(text, '{_sqlq(spec.NAME_PATTERNS[0])}', 1), '')"
    raw_date = (
        "COALESCE("
        + ", ".join(
            f"NULLIF(regexp_extract(text, '{_sqlq(p)}', 1), '')" for p in spec.DATE_PATTERNS
        )
        + ")"
    )
    date = _DUCK_DATE_LADDER.format(v=raw_date)
    return f"""
WITH docs AS ({_CLAIM_TEXT_SQL})
SELECT doc_key,
       {claim} AS claim_number,
       {name} AS claimant_name,
       {date} AS loss_date,
       ROUND((CASE WHEN {claim} IS NOT NULL THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN {name} IS NOT NULL THEN 0.3 ELSE 0.0 END)
           + (CASE WHEN {date} IS NOT NULL THEN 0.3 ELSE 0.0 END), 2) AS confidence
FROM docs
"""


# ---------------------------------------------------------------------------
# q02 — X1/F3/F4: blank-line record split over multi-claim documents
# ---------------------------------------------------------------------------


def _multi_claim_docs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _spread(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    # reason keyed by linenumber for variety
    line = F.concat(
        F.lit("Claim# NW-"), F.col("l_orderkey").cast("string"), F.lit("-"),
        F.col("l_linenumber").cast("string"),
        F.lit(" noted with amount $"),
        F.col("l_extendedprice").cast("decimal(18,2)").cast("string"),
        F.lit(". Reason: "),
        F.element_at(
            F.array(*[F.lit(r) for r in _REASON_BY_PRIORITY.values()]),
            (F.col("l_linenumber") % 5 + 1).cast("int"),
        ),
        F.lit(". Date of loss: "), F.date_format("l_shipdate", "MM/dd/yyyy"), F.lit("."),
    )
    per_line = li.select(F.col("l_orderkey").alias("doc_key"), F.col("l_linenumber"), line.alias("line"))
    return per_line.groupBy("doc_key").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("l_linenumber", "line"))),
                lambda x: x["line"],
            ),
            "\n\n",
        ).alias("extracted_text")
    )


_MULTI_DOC_SQL = """
SELECT doc_key,
       string_agg(line, chr(10) || chr(10) ORDER BY l_linenumber, line) AS extracted_text
FROM (
  SELECT l_orderkey AS doc_key, l_linenumber,
         'Claim# NW-' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
         || ' noted with amount $' || CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)
         || '. Reason: ' || (['Auto collision','Fire damage','Water damage','Theft','Slip and fall'])[(l_linenumber % 5) + 1]
         || '. Date of loss: ' || strftime(l_shipdate, '%m/%d/%Y') || '.' AS line
  FROM lineitem
)
GROUP BY doc_key
"""


def q02_record_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _multi_claim_docs_spark(spark, sf_dir)
    return split_records(docs, keep_cols=["doc_key"]).select(
        "doc_key",
        F.col("record_pos").cast("long").alias("record_pos"),
        "claim_number", "amount", "reason",
        F.col("date").alias("loss_date"),
    )


def _q02_sql() -> str:
    date = "COALESCE(" + ", ".join(
        _DUCK_DATE_LADDER.format(v=f"NULLIF(regexp_extract(chunk, '{_sqlq(p)}', 1), '')")
        for p in spec.DATE_PATTERNS
    ) + ")"
    return rf"""
WITH docs AS ({_MULTI_DOC_SQL}),
chunks AS (
  SELECT doc_key, u.rec['record_pos'] AS record_pos, u.rec['chunk'] AS chunk
  FROM (SELECT doc_key, regexp_split_to_array(trim(extracted_text), '\n\s*\n+') AS parts FROM docs),
       LATERAL (SELECT unnest(list_transform(parts, (x, i) -> {{'record_pos': i - 1, 'chunk': x}})) AS rec) u
),
parsed AS (
  SELECT doc_key, record_pos,
         NULLIF(regexp_extract(chunk, '{_sqlq(spec.CLAIM_NO_PAT)}', 1), '') AS claim_number,
         CASE WHEN NULLIF(regexp_extract(chunk, '{_sqlq(spec.AMOUNT_PAT)}', 1), '') IS NOT NULL
              THEN '$' || regexp_extract(chunk, '{_sqlq(spec.AMOUNT_PAT)}', 1) END AS amount,
         NULLIF(trim(regexp_extract(chunk, '{_sqlq(spec.REASON_PAT)}', 1)), '') AS reason,
         {date} AS loss_date
  FROM chunks
)
SELECT * FROM parsed
WHERE COALESCE(claim_number, amount, reason, loss_date) IS NOT NULL
"""


# ---------------------------------------------------------------------------
# q03 — C1 keyword-count argmax classification
# ---------------------------------------------------------------------------


def _lob_text_spark(o: DataFrame) -> DataFrame:
    out = None
    for k, v in _LOB_SENT_BY_PRIORITY.items():
        cond = F.col("o_orderpriority") == k
        out = F.when(cond, F.lit(v)) if out is None else out.when(cond, F.lit(v))
    return o.select(F.col("o_orderkey").alias("doc_key"), out.alias("text"))


def _lob_text_sql() -> str:
    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _LOB_SENT_BY_PRIORITY.items())
    return f"SELECT o_orderkey AS doc_key, CASE o_orderpriority {whens} END AS text FROM orders"


def q03_classify_lob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _lob_text_spark(_spread(_t(spark, sf_dir, "orders"), "o_orderkey"))
    return docs.select("doc_key", classify_lob_c1(F.col("text")).alias("lob"))


def _q03_sql() -> str:
    def score(lob: str) -> str:
        terms = [
            f"(length(up) - length(replace(up, '{kw}', ''))) / {len(kw)}"
            for kw in spec.LOB_PATTERNS_C1[lob]
        ]
        return " + ".join(terms)

    return f"""
WITH docs AS ({_lob_text_sql()}),
scored AS (
  SELECT doc_key,
         {score('AUTO')} AS s_auto,
         {score('GENERAL LIABILITY')} AS s_gl,
         {score('WC')} AS s_wc
  FROM (SELECT doc_key, upper(text) AS up FROM docs)
)
SELECT doc_key,
       CASE WHEN s_auto >= s_gl AND s_auto >= s_wc AND s_auto > 0 THEN 'AUTO'
            WHEN s_gl >= s_wc AND s_gl > 0 THEN 'GENERAL LIABILITY'
            WHEN s_wc > 0 THEN 'WC'
            ELSE 'UNKNOWN' END AS lob
FROM scored
"""


# ---------------------------------------------------------------------------
# q04 — U4 money coercion + exact decimal aggregation
# ---------------------------------------------------------------------------


def q04_money_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    amt_str = F.col("l_extendedprice").cast("decimal(18,2)").cast("string")
    raw = (
        F.when(F.col("l_returnflag") == "R", F.concat(F.lit("($"), amt_str, F.lit(")")))
        .when(F.col("l_returnflag") == "A", F.concat(F.lit("$ "), amt_str))
        .otherwise(F.concat(F.lit("$"), amt_str))
    )
    coerced = money_coerce_col(raw)
    return (
        li.select(F.col("l_returnflag").alias("returnflag"), coerced.alias("amt"))
        .groupBy("returnflag")
        .agg(
            F.sum("amt").cast("decimal(18,2)").cast("double").alias("total_amt"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_Q04_SQL = """
SELECT l_returnflag AS returnflag,
       CAST(CAST(SUM(CASE WHEN l_returnflag = 'R'
                     THEN -CAST(l_extendedprice AS DECIMAL(18,2))
                     ELSE CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS DOUBLE) AS total_amt,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q05 — U1 date normalization ladder over mixed formats
# ---------------------------------------------------------------------------


def q05_date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 4
    raw = (
        F.when(k == 0, F.date_format("o_orderdate", "MM/dd/yyyy"))
        .when(k == 1, F.date_format("o_orderdate", "dd-MM-yyyy"))
        .when(k == 2, F.date_format("o_orderdate", "MMMM dd, yyyy"))
        .otherwise(F.date_format("o_orderdate", "yyyy/MM/dd"))
    )
    return o.select(
        F.col("o_orderkey").alias("doc_key"),
        raw.alias("raw_date"),
        normalize_date_col(raw).alias("norm_date"),
    )


_Q05_SQL = f"""
WITH raws AS (
  SELECT o_orderkey AS doc_key,
         CASE (o_orderkey % 4)
           WHEN 0 THEN strftime(o_orderdate, '%m/%d/%Y')
           WHEN 1 THEN strftime(o_orderdate, '%d-%m-%Y')
           WHEN 2 THEN strftime(o_orderdate, '%B %d, %Y')
           ELSE strftime(o_orderdate, '%Y/%m/%d') END AS raw_date
  FROM orders
)
SELECT doc_key, raw_date, {_DUCK_DATE_LADDER.format(v="raw_date")} AS norm_date
FROM raws
"""


# ---------------------------------------------------------------------------
# q06/q07/q08 — A1-A4 aggregation layer over parsed records
# ---------------------------------------------------------------------------


def _records_with_lob(spark: SparkSession, sf_dir: str) -> DataFrame:
    recs = q02_record_split(spark, sf_dir)
    lob = F.element_at(
        F.array(F.lit("AUTO"), F.lit("GL"), F.lit("WC")),
        (F.col("doc_key") % 3 + 1).cast("int"),
    )
    return recs.withColumn("lob", lob)


_RECORDS_LOB_SQL = (
    "SELECT p.*, (['AUTO','GL','WC'])[(doc_key % 3) + 1] AS lob FROM ({q02}) p"
)


def q06_lob_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    recs = _records_with_lob(spark, sf_dir)
    paid = money_coerce_col(F.col("amount"))
    agg = recs.groupBy("lob").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(paid).cast("decimal(18,2)").cast("double").alias("total_paid_loss"),
        F.count(F.when(F.col("claim_number").isNotNull(), 1)).alias("claim_count"),
    )
    return agg.withColumn(
        "avg_claim",
        F.when(
            F.col("claim_count") > 0,
            F.round(
                F.col("total_paid_loss") / F.col("claim_count"), 2
            ),
        ).otherwise(F.lit(0.0)),
    )


def _q06_sql() -> str:
    recs = _RECORDS_LOB_SQL.format(q02=_q02_sql())
    return f"""
WITH recs AS ({recs}),
agg AS (
  SELECT lob,
         COUNT(*) AS n_rows,
         CAST(CAST(SUM(CAST(replace(replace(amount, '$', ''), ',', '') AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_paid_loss,
         COUNT(CASE WHEN claim_number IS NOT NULL THEN 1 END) AS claim_count
  FROM recs GROUP BY lob
)
SELECT lob, n_rows, total_paid_loss, claim_count,
       CASE WHEN claim_count > 0
            THEN ROUND(total_paid_loss / claim_count, 2)
            ELSE 0.0 END AS avg_claim
FROM agg
"""


def q07_top_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregate import top_claims_by_loss

    recs = q02_record_split(spark, sf_dir)
    top = top_claims_by_loss(recs, n=10, loss_col="amount", claim_col="claim_number")
    return top.withColumn("total_loss", F.col("total_loss").cast("double"))


def _q07_sql() -> str:
    return f"""
WITH recs AS ({_q02_sql()})
SELECT claim_number,
       CAST(CAST(SUM(CAST(replace(replace(amount, '$', ''), ',', '') AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_loss
FROM recs WHERE claim_number IS NOT NULL
GROUP BY claim_number
ORDER BY total_loss DESC, claim_number ASC
LIMIT 10
"""


def q08_claim_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — duplicate claim numbers across documents: claims keyed by
    (custkey-derived base) so real duplicates exist."""
    from .operators.aggregate import claim_frequency

    o = _t(spark, sf_dir, "orders")
    claim = F.concat(F.lit("NW-"), (F.col("o_custkey") % 500).cast("string"))
    return claim_frequency(o.select(claim.alias("claim_number")), n=20)


_Q08_SQL = """
SELECT 'NW-' || CAST(o_custkey % 500 AS VARCHAR) AS claim_number,
       COUNT(*) AS n_records
FROM orders
GROUP BY 1
ORDER BY n_records DESC, claim_number ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q09/q10 — F6-F8 registry-style filters + J3 broadcast join
# ---------------------------------------------------------------------------


def q09_registry_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 fuzzy search semantics (mock_storage.py:124-191) over customer ⋈
    nation (broadcast dim): account-substring + segment-alias + partial key."""
    from .functions.textnorm import norm_fuzzy

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
    # query: account fragment '1' in custkey-string (partial match),
    # nation containing 'A' after normalization
    return (
        joined.filter(
            F.col("c_name").cast("string").contains("1")
            & norm_fuzzy(F.col("n_name")).contains("a")
            & (F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"))
        )
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"), "c_mktsegment")
    )


_Q09_SQL = """
SELECT c_custkey, c_name, n_name AS nation, c_mktsegment
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE contains(CAST(c_name AS VARCHAR), '1')
  AND contains(regexp_replace(lower(trim(n_name)), '[^a-z0-9]', '', 'g'), 'a')
  AND c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')
"""


def q10_date_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 (app.py:1202-1211): keep rows in [start, end] OR with NULL date
    (pass-through on unparsable)."""
    o = _t(spark, sf_dir, "orders")
    d = F.when(F.col("o_orderkey") % 7 != 0, F.col("o_orderdate"))  # nulls ~1/7
    return (
        o.select("o_orderkey", d.alias("eff_date"), "o_totalprice")
        .filter(
            F.col("eff_date").between(F.lit("1994-01-01"), F.lit("1996-12-31"))
            | F.col("eff_date").isNull()
        )
        .select(
            "o_orderkey",
            F.date_format("eff_date", "yyyy-MM-dd").alias("eff_date"),
            F.col("o_totalprice").alias("total"),
        )
    )


_Q10_SQL = """
WITH t AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 != 0 THEN o_orderdate END AS eff_date,
         o_totalprice
  FROM orders
)
SELECT o_orderkey,
       strftime(eff_date, '%Y-%m-%d') AS eff_date,
       o_totalprice AS total
FROM t
WHERE (eff_date BETWEEN TIMESTAMP '1994-01-01' AND TIMESTAMP '1996-12-31')
   OR eff_date IS NULL
"""
