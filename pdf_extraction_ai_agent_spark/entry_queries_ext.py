"""Extended query pack: training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing, windowed events) over the
driver's ``documents`` / ``embeddings`` / ``events`` tables, each with a
DuckDB oracle built from the SAME constants (functions/hashing.py) so the
numbers replay exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .entry_queries import _spread, _t
from .functions.hashing import (
    MERSENNE_P,
    MINHASH_AB,
    NUM_PERMS,
    LSH_BAND_SIZE,
)
from .operators import dedup, similarity, textstats
from .operators.multimodal import extract_media_meta
from .streaming.incremental import windowed_event_counts

# ---------------------------------------------------------------------------
# portable SQL fragments (DuckDB twins of the Spark expressions)
# ---------------------------------------------------------------------------

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({v}), '[^a-z0-9]+', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)
_WORDS_SQL = f"string_split({_NORM_SQL}, ' ')"


def _md5l(expr: str) -> str:
    return f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"


def _minhash_sql(hash_expr: str, i: int) -> str:
    a, b = MINHASH_AB[i]
    return f"(({a} * (({hash_expr}) % {MERSENNE_P}) + {b}) % {MERSENNE_P})"


_SHINGLES_SQL = (
    "CASE WHEN len(w) >= 3 THEN "
    "list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) "
    "ELSE [] END"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread for heavy per-doc work (see entry_queries._spread);
    queries that only hash ids or take lengths read
    ``_t(spark, sf_dir, "documents")``."""
    return _spread(_t(spark, sf_dir, "documents"), "doc_id")


# ---------------------------------------------------------------------------
# q11 — exact dedup
# ---------------------------------------------------------------------------


def q11_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(_docs(spark, sf_dir))


_Q11_SQL = f"""
SELECT {_md5l(_NORM_SQL.format(v='text'))} AS content_hash,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q12 — exact word-set jaccard, verified on minhash-LSH candidate pairs
# ---------------------------------------------------------------------------


def q12_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH→exact-verify: the pair source is q14's band-bucket candidate set
    (dedup.lsh_candidates) and the exact jaccard is over the SAME 3-gram
    shingle sets the minhash bands estimate, so the intersection join
    touches candidates only — no quadratic in-block enumeration anywhere in
    the plan — and the verify stage measures the estimated quantity."""
    docs = _docs(spark, sf_dir)
    sig = dedup.minhash_signatures(docs, hash_impl="md5")  # oracle replays md5
    cand = dedup.lsh_candidates(sig)
    out = dedup.jaccard_pairs(docs, pairs=cand, threshold=0.8, unit="shingle")
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _q12_sql() -> str:
    return f"""
WITH sig AS ({_q13_sql()}),
bands AS (
  SELECT doc_id, u.b['band_idx'] AS band_idx, u.b['band_key'] AS band_key
  FROM sig, LATERAL (SELECT unnest([{_band_rows_sql()}]) AS b) u
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
w AS (
  SELECT doc_id, unnest(list_distinct(list_filter({_SHINGLES_SQL}, x -> x != ''))) AS word
  FROM (SELECT doc_id, {_WORDS_SQL.format(v='text')} AS w FROM documents)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_words FROM w GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN w l ON l.doc_id = c.doc_a
  JOIN w r ON r.doc_id = c.doc_b AND r.word = l.word
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n_words + sb.n_words - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.n_words + sb.n_words - n_common) >= 0.8
"""


# ---------------------------------------------------------------------------
# q13 — minhash signatures / q14 — LSH near-dup pairs
# ---------------------------------------------------------------------------


def q13_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(_docs(spark, sf_dir), hash_impl="md5")


def _q13_sql() -> str:
    h = _md5l("shingle")
    mins = ",\n       ".join(
        f"MIN({_minhash_sql(h, i)}) AS mh_{i}" for i in range(NUM_PERMS)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
  FROM (SELECT doc_id, {_WORDS_SQL.format(v='text')} AS w FROM documents)
)
SELECT doc_id,
       {mins}
FROM sh
GROUP BY doc_id
"""


def q14_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5, hash_impl="md5")


def _band_rows_sql() -> str:
    """The minhash band structs (shared by the q12 and q14 oracles)."""
    n_bands = NUM_PERMS // LSH_BAND_SIZE
    return ", ".join(
        "{'band_idx': %d, 'band_key': %s}"
        % (
            b,
            _md5l(
                " || ':' || ".join(
                    f"CAST(mh_{b * LSH_BAND_SIZE + j} AS VARCHAR)" for j in range(LSH_BAND_SIZE)
                )
            ),
        )
        for b in range(n_bands)
    )


def _q14_sql() -> str:
    band_rows = _band_rows_sql()
    matches = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)" for i in range(NUM_PERMS)
    )
    return f"""
WITH sig AS ({_q13_sql()}),
bands AS (
  SELECT doc_id, u.b['band_idx'] AS band_idx, u.b['band_key'] AS band_key
  FROM sig, LATERAL (SELECT unnest([{band_rows}]) AS b) u
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, CAST(({matches}) AS DOUBLE) / {NUM_PERMS} AS est_jaccard
FROM cand
JOIN sig sa ON doc_a = sa.doc_id
JOIN sig sb ON doc_b = sb.doc_id
WHERE CAST(({matches}) AS DOUBLE) / {NUM_PERMS} >= 0.5
"""


# ---------------------------------------------------------------------------
# q15 — simhash signatures
# ---------------------------------------------------------------------------


def q15_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_docs(spark, sf_dir), hash_impl="md5")


def _q15_sql() -> str:
    h = _md5l("word")
    return f"""
WITH w AS (
  SELECT doc_id, unnest(list_distinct(list_filter({_WORDS_SQL.format(v='text')}, x -> x != ''))) AS word
  FROM documents
),
wb AS (
  SELECT doc_id, {h} AS h, b.bit
  FROM w CROSS JOIN (SELECT unnest(range(0, {dedup.SIMHASH_BITS})) AS bit) b
),
sums AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> CAST(bit AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM wb GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
FROM sums
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q16 — ANN: brute-force cosine top-k (exact integer arithmetic)
# ---------------------------------------------------------------------------

_ANN_QUERY_IDS = [0, 1, 2, 3, 4]


def q16_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk_bruteforce(
        _t(spark, sf_dir, "embeddings"), query_ids=_ANN_QUERY_IDS, k=10
    )


_Q16_SQL = f"""
WITH base AS (
  SELECT vec_id AS vid,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS q
  FROM embeddings
),
queries AS (SELECT vid AS query_id, q AS qv FROM base WHERE vid IN ({", ".join(map(str, _ANN_QUERY_IDS))})),
scored AS (
  SELECT query_id, b.vid AS neighbor_id,
         ROUND(list_dot_product(qv, b.q) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(b.q, b.q))), 6) AS cosine
  FROM base b CROSS JOIN queries
  WHERE b.vid != query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 10
"""


def lsh_sig_ctes(
    n_planes: int = similarity.N_PLANES,
    dim: int = similarity.EMB_DIM,
    band_bits: int = similarity.BAND_BITS,
) -> str:
    """DuckDB twin of similarity.rh_signatures_exact + _band_explode:
    md5-derived ±1 planes, exact integer sign signatures over the quantized
    vectors, band explode. Produces CTEs base/planes/sigs/bands (validated
    bit-identical to the numpy kernel)."""
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    return f"""
base AS (
  SELECT vec_id AS vid,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS q
  FROM embeddings
),
planes AS (
  SELECT p, j,
         CASE WHEN ({_md5l("'plane:' || p || ':' || j")} & 1) = 1 THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(range(0, {n_planes})) AS p), (SELECT unnest(range(0, {dim})) AS j)
),
sigs AS (
  SELECT vid,
         CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INTEGER)) ELSE 0 END) AS BIGINT) AS sig
  FROM (
    SELECT b.vid, pl.p, SUM(b.q[CAST(pl.j + 1 AS INTEGER)] * pl.s) AS dot
    FROM base b CROSS JOIN planes pl
    GROUP BY 1, 2
  )
  GROUP BY vid
),
bands AS (
  SELECT vid, bb.b AS band_idx, (sig >> CAST({band_bits} * bb.b AS INTEGER)) & {mask} AS band_key
  FROM sigs, LATERAL (SELECT unnest(range(0, {n_bands})) AS b) bb
)"""


_COS_SQL = (
    "ROUND(list_dot_product({a}, {b}) /"
    " (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


def q17_ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: sign-LSH band buckets + exact re-rank on candidates.
    Fully deterministic (md5-derived planes, integer arithmetic), so the
    DuckDB oracle replays the identical candidate set and ranking."""
    return similarity.cosine_topk_lsh(
        _spread(_t(spark, sf_dir, "embeddings"), "vec_id"),
        query_ids=_ANN_QUERY_IDS, k=10,
    )


def _q17_sql() -> str:
    cos = _COS_SQL.format(a="qa.q", b="qb.q")
    return f"""
WITH {lsh_sig_ctes()},
qcand AS (
  SELECT DISTINCT qq.vid AS query_id, c.vid AS neighbor_id
  FROM bands c JOIN bands qq
    ON c.band_idx = qq.band_idx AND c.band_key = qq.band_key
  WHERE qq.vid IN ({", ".join(map(str, _ANN_QUERY_IDS))}) AND c.vid != qq.vid
),
scored AS (
  SELECT query_id, neighbor_id, {cos} AS cosine
  FROM qcand
  JOIN base qa ON query_id = qa.vid
  JOIN base qb ON neighbor_id = qb.vid
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# q18 — language ID, q19 — quality scores, q20 — token counts,
# q21 — fingerprints
# ---------------------------------------------------------------------------


def q18_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", textstats.lang_id_col(F.col("text")).alias("lang_guess"))


def _q18_sql() -> str:
    w = _WORDS_SQL.format(v="text")
    scores = {}
    for lang, stops in textstats.LANG_STOPWORDS.items():
        lst = ", ".join(f"'{s}'" for s in stops)
        scores[lang] = f"len(list_filter({w}, x -> list_contains([{lst}], x)))"
    return f"""
SELECT doc_id,
       CASE WHEN {scores['en']} >= {scores['de']} AND {scores['en']} >= {scores['fr']}
                 AND {scores['en']} >= {scores['es']} AND {scores['en']} > 0 THEN 'en'
            WHEN {scores['de']} >= {scores['fr']} AND {scores['de']} >= {scores['es']}
                 AND {scores['de']} > 0 THEN 'de'
            WHEN {scores['fr']} >= {scores['es']} AND {scores['fr']} > 0 THEN 'fr'
            WHEN {scores['es']} > 0 THEN 'es'
            ELSE 'und' END AS lang_guess
FROM documents
"""


def q19_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_scores(_docs(spark, sf_dir))


def _q19_sql() -> str:
    w = _WORDS_SQL.format(v="text")
    stops = ", ".join(f"'{s}'" for s in textstats.LANG_STOPWORDS["en"])
    return f"""
WITH base AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(list_filter({w}, x -> x != '')) AS n_words,
         len(list_filter({w}, x -> list_contains([{stops}], x))) AS n_stop,
         len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
         len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha
  FROM documents
),
ratios AS (
  SELECT doc_id, n_words,
         ROUND(CAST(n_punct AS DOUBLE) / GREATEST(n_chars, 1), 6) AS punct_ratio,
         ROUND(CAST(n_stop AS DOUBLE) / GREATEST(n_words, 1), 6) AS stopword_ratio,
         ROUND(CAST(n_alpha AS DOUBLE) / GREATEST(n_chars, 1), 6) AS alpha_ratio
  FROM base
)
SELECT doc_id, n_words, punct_ratio, stopword_ratio, alpha_ratio,
       ROUND(0.4 * (CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
           + 0.3 * LEAST(stopword_ratio * 4, 1.0)
           + 0.3 * (1.0 - LEAST(punct_ratio * 5, 1.0)), 6) AS quality_score
FROM ratios
"""


def q20_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(_docs(spark, sf_dir))


_Q20_SQL = f"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '{textstats.BPE_ISH_PAT}')) AS bpe_tokens,
       length(text) AS n_chars
FROM documents
"""


def q21_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprints(_docs(spark, sf_dir))


def _q21_sql() -> str:
    return f"""
SELECT doc_id,
       {_md5l(_NORM_SQL.format(v='text'))} AS content_hash,
       list_aggregate(list_transform({_SHINGLES_SQL.replace('w', 'w')}, s -> {_md5l('s')}), 'min') AS min_shingle_hash
FROM (SELECT doc_id, text, {_WORDS_SQL.format(v='text')} AS w FROM documents)
"""


# ---------------------------------------------------------------------------
# q22 — multimodal metadata plumbing, q23 — windowed event counts
# ---------------------------------------------------------------------------


def q22_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("kind"),
    )
    return extract_media_meta(media)


_Q22_SQL = """
SELECT doc_id AS media_id,
       CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       octet_length(encode(text)) AS payload_bytes,
       md5(text) AS digest,
       CAST(64 + (CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 1024) AS INTEGER) AS fake_width,
       CAST(64 + ((CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) >> 10) % 1024) AS INTEGER) AS fake_height,
       CAST(CASE WHEN (doc_id % 3) = 0 THEN 1
            ELSE 1 + (CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 300) END AS INTEGER) AS frame_count
FROM documents
"""


def q23_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = windowed_event_counts(_t(spark, sf_dir, "events"), window="1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )


_Q23_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""
