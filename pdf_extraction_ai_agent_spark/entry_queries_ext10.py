"""Entry queries, extension pack 10 (round 7): corpus-curation operators.

Six training-data-pipeline operators the large-scale curation literature
treats as table stakes, each as a Spark plan + a DuckDB twin under the
ORACLE GATE:

- q85 fixed-window exact-substring dedup (Lee et al. 2021 ExactSubstr,
  distributed at word-window granularity);
- q86 URL canonicalization + host extraction (CommonCrawl-style fetch
  frontier normalization; shared step table, map-only);
- q87 temperature-flattened stratified sampling (mBERT/XLM-R mix, α=1/2
  pinned so every float op is IEEE-exact in both engines);
- q88 char-trigram LM fluency scoring (CCNet/KenLM shape with integer ppm
  probabilities — no libm drift);
- q89 corpus vocabulary report (top-k words via the map-side
  WindowGroupLimit two-stage top-k);
- q90 SemDeDup (Abbas et al. 2023): IVF-cluster-local semantic dedup over
  the embeddings table, reusing the q37/q84 unrolled Lloyd fit CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .entry_queries import _t
from .entry_queries_ext import _COS_SQL, _NORM_SQL, _WORDS_SQL, _docs, _md5l
from .entry_queries_ext4 import ivf_fit_ctes
from .operators import curation, dedup, similarity, textstats, weburls


# ---------------------------------------------------------------------------
# q85 — fixed-window exact-substring dedup (corpus-wide)
# ---------------------------------------------------------------------------

_Q85_WINDOW = 12


def q85_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.window_exact_dedup(
        _docs(spark, sf_dir).select("doc_id", "text"),
        window_words=_Q85_WINDOW,
    )


_Q85_SQL = rf"""
WITH docs AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), chunks AS (
  SELECT doc_id, CAST(u.i AS INT) AS pos,
         array_to_string(
           list_slice(w, CAST(u.i * {_Q85_WINDOW} + 1 AS BIGINT),
                         CAST((u.i + 1) * {_Q85_WINDOW} AS BIGINT)), ' ') AS chunk
  FROM docs, LATERAL (
    SELECT unnest(range(0, CAST(ceil(len(w) / {_Q85_WINDOW}.0) AS BIGINT))) AS i
  ) u
), hashed AS (
  SELECT doc_id, pos, chunk, {_md5l('chunk')} AS h FROM chunks
), firsts AS (
  SELECT h, MIN({{'d': doc_id, 'p': pos}}) AS f FROM hashed GROUP BY h
), kept AS (
  SELECT hashed.doc_id, hashed.pos, hashed.chunk
  FROM hashed JOIN firsts USING (h)
  WHERE hashed.doc_id = struct_extract(f, 'd')
    AND hashed.pos = struct_extract(f, 'p')
), kept_agg AS (
  SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
), totals AS (
  SELECT doc_id, COUNT(*) AS n_chunks FROM hashed GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(k.clean_text, '') AS clean_text,
       CAST(t.n_chunks AS BIGINT) AS n_chunks,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(t.n_chunks - coalesce(k.n_kept, 0) AS BIGINT) AS n_dropped
FROM totals t LEFT JOIN kept_agg k USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q86 — URL canonicalization + host extraction
# ---------------------------------------------------------------------------
# documents carry no URL column, so three raw URLs per document are
# synthesized from (doc_id, source) IDENTICALLY on both sides (the q80/q81
# augmentation precedent), chosen so every canonicalization step fires:
# mixed-case scheme/host + www + explicit :80 + utm params + fragment;
# :443 + fbclid; tracking param in the middle of a kept query + trailing
# slash before a query.


def _q86_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "source")
    i = F.col("doc_id").cast("string")
    u1 = F.concat(
        F.lit("HTTP://WWW."), F.col("source"), F.lit(".Example.COM:80/Claims"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("/?utm_source=feed&id="), i, F.lit("&utm_campaign=q3#sec"),
        (F.col("doc_id") % 3).cast("string"),
    )
    u2 = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com:443/Claims"),
        (F.col("doc_id") % 5).cast("string"), F.lit("/index.html?fbclid=IwAR"), i,
    )
    u3 = F.concat(
        F.lit("https://cdn"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".example.net/a/b"), (F.col("doc_id") % 7).cast("string"),
        F.lit("/?x=1&utm_medium=email"),
    )
    return d.select(
        "doc_id", F.posexplode(F.array(u1, u2, u3)).alias("url_pos", "url")
    )


def q86_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = weburls.canonicalize_urls(_q86_urls(spark, sf_dir))
    return out.select("doc_id", "url_pos", "url", "canon_url", "host")


# the synthesized raw-URL table (shared by the q94 host-budget oracle)
_Q86_AUG_SQL = """
  SELECT doc_id, 0 AS url_pos,
         'HTTP://WWW.' || source || '.Example.COM:80/Claims'
           || CAST(doc_id % 5 AS VARCHAR) || '/?utm_source=feed&id='
           || CAST(doc_id AS VARCHAR) || '&utm_campaign=q3#sec'
           || CAST(doc_id % 3 AS VARCHAR) AS url
  FROM documents
  UNION ALL
  SELECT doc_id, 1 AS url_pos,
         'https://' || source || '.example.com:443/Claims'
           || CAST(doc_id % 5 AS VARCHAR) || '/index.html?fbclid=IwAR'
           || CAST(doc_id AS VARCHAR) AS url
  FROM documents
  UNION ALL
  SELECT doc_id, 2 AS url_pos,
         'https://cdn' || CAST(doc_id % 3 AS VARCHAR) || '.example.net/a/b'
           || CAST(doc_id % 7 AS VARCHAR) || '/?x=1&utm_medium=email' AS url
  FROM documents
"""


def _q86_sql() -> str:
    canon = weburls.canonical_url_sql("url")
    return f"""
WITH aug AS (
{_Q86_AUG_SQL}
), canon AS (
  SELECT doc_id, CAST(url_pos AS INT) AS url_pos, url, {canon} AS canon_url
  FROM aug
)
SELECT doc_id, url_pos, url, canon_url,
       regexp_extract(canon_url, '{weburls.HOST_PAT}', 1) AS host
FROM canon
"""


# ---------------------------------------------------------------------------
# q87 — temperature-flattened stratified sampling (α = 1/2)
# ---------------------------------------------------------------------------


def q87_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = curation.temperature_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        strata_col="lang",
    )
    return out.select(
        "doc_id", "lang",
        F.col("n_stratum").cast("long").alias("n_stratum"),
        F.col("rate_ppm").cast("long").alias("rate_ppm"),
    )


_Q87_SQL = f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_stratum FROM documents GROUP BY lang
), weighted AS (
  SELECT lang, n_stratum,
         CAST(floor(sqrt(CAST(n_stratum AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_s
  FROM counts
), totals AS (
  SELECT SUM(w_s) AS tw, SUM(n_stratum) AS tn FROM weighted
), rates AS (
  SELECT lang, n_stratum,
         least(CAST(1000000 AS BIGINT),
               CAST(floor(CAST(w_s AS DOUBLE) * 1000000.0 / CAST(tw AS DOUBLE)
                          * CAST(tn AS DOUBLE) / CAST(n_stratum AS DOUBLE))
                    AS BIGINT)) AS rate_ppm
  FROM weighted, totals
)
SELECT d.doc_id, d.lang, CAST(r.n_stratum AS BIGINT) AS n_stratum, r.rate_ppm
FROM documents d JOIN rates r USING (lang)
WHERE {_md5l("'tsamp:' || CAST(d.doc_id AS VARCHAR)")} % 1000000 < r.rate_ppm
"""


# ---------------------------------------------------------------------------
# q88 — char-trigram LM fluency scores (integer ppm probabilities)
# ---------------------------------------------------------------------------


def q88_trigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.trigram_lm_scores(
        _docs(spark, sf_dir).select("doc_id", "text")
    )


_Q88_SQL = f"""
WITH base AS (
  SELECT doc_id, {_NORM_SQL.format(v='text')} AS t FROM documents
), pos AS (
  SELECT doc_id, substring(t, CAST(u.i AS INT), 3) AS tri
  FROM base, LATERAL (
    SELECT unnest(range(1, CAST(greatest(len(t) - 2, 0) AS BIGINT) + 1)) AS i
  ) u
), tric AS (
  SELECT tri, COUNT(*) AS c3 FROM pos GROUP BY tri
), bigc AS (
  SELECT substring(tri, 1, 2) AS big, SUM(c3) AS c2
  FROM tric GROUP BY substring(tri, 1, 2)
), cnts AS (
  SELECT t.tri, t.c3, b.c2
  FROM tric t JOIN bigc b ON substring(t.tri, 1, 2) = b.big
), scored AS (
  SELECT p.doc_id, (c.c3 * 1000000) // c.c2 AS ppm
  FROM pos p JOIN cnts c USING (tri)
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_trigrams, SUM(ppm) AS sum_ppm
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_trigrams, 0) AS BIGINT) AS n_trigrams,
       CAST(coalesce(p.sum_ppm, 0) AS BIGINT) AS sum_ppm,
       CAST(coalesce(p.sum_ppm // p.n_trigrams, 0) AS BIGINT) AS mean_ppm
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q89 — corpus vocabulary report (top-50 words)
# ---------------------------------------------------------------------------


def q89_vocab_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.vocab_report(
        _docs(spark, sf_dir).select("doc_id", "text"), top_n=50
    )


_Q89_SQL = f"""
WITH w AS (
  SELECT doc_id, word
  FROM documents, unnest({_WORDS_SQL.format(v='text')}) AS u(word)
  WHERE word <> ''
), occ AS (
  SELECT word, COUNT(*) AS n_occurrences FROM w GROUP BY word
), docf AS (
  SELECT word, COUNT(*) AS n_docs
  FROM (SELECT DISTINCT word, doc_id FROM w) GROUP BY word
), ranked AS (
  SELECT o.word, o.n_occurrences, d.n_docs,
         ROW_NUMBER() OVER (ORDER BY o.n_occurrences DESC, o.word ASC) AS rank
  FROM occ o JOIN docf d USING (word)
)
SELECT CAST(rank AS INT) AS rank, word,
       CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(n_docs AS BIGINT) AS n_docs
FROM ranked WHERE rank <= 50
"""


# ---------------------------------------------------------------------------
# q90 — SemDeDup: IVF-cluster-local semantic dedup
# ---------------------------------------------------------------------------

_Q90_T = 0.35  # random-embedding corpus: same top-of-distribution band as q36


def q90_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=_Q90_T, n_centroids=16
    )


def _q90_sql() -> str:
    ctes, _cents, assigned = ivf_fit_ctes(16)
    cos = _COS_SQL.format(a="a.q", b="b.q")
    return f"""
WITH {ctes},
pairs AS (
  SELECT a.vid AS vid_a, b.vid AS vid_b
  FROM {assigned} a JOIN {assigned} b
    ON a.centroid_id = b.centroid_id AND a.vid < b.vid
  WHERE {cos} >= {_Q90_T}
), dropped AS (
  SELECT vid_b AS vid, MIN(vid_a) AS dup_of FROM pairs GROUP BY vid_b
)
SELECT s.vid AS vec_id, s.centroid_id,
       d.dup_of IS NULL AS is_kept, CAST(d.dup_of AS BIGINT) AS dup_of
FROM {assigned} s LEFT JOIN dropped d ON s.vid = d.vid
"""
