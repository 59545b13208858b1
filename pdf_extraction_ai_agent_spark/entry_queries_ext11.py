"""Entry queries, extension pack 11 (round 7): HTML-realism slice of the
north-star boilerplate-strip stage, under the ORACLE GATE.

The reference's HTML handling is the north_star's Readability/Boilerpipe
scoring; two classic realism rules were missing from the modeled grammar
until this pack (both twins extended together, spec-data driven):

- q91 spec.HTML_SKIP_TAGS: <script>/<style>/<noscript>/<template> subtree
  text is never content, even when long and link-free — the engine removes
  well-formed spans before line scoring (C-prefiltered dotall regex), the
  oracle drops the text at the DOM level;
- q92 spec.HTML_CELL_SEP: <table> blocks linearize to pipe-separated cell
  text (td/th + tr boundaries → ' | '), the same flattening as the
  sheet→pipe-text sink (S9) — multi-line tables collapse onto one scoring
  unit on both sides;
- q93 href inventory: anchor URLs harvested from HTML payloads and pushed
  through the q86 canonicalizer — the transcripts × URL-curation
  composition (outlink graph seeding, per-host fetch budgeting).

q91/q92 run the REAL extraction operator (with_extraction pandas-UDF path,
span-pruned) over payloads synthesized from (doc_id, source, text)
identically on both sides; the DuckDB twins predict the extracted text
from the table alone.

The pack also holds the payload builder of q97 (annotation text never
leaks into extraction); that query is a row of
entry_roundtrips.ROUNDTRIPS, with the shared three-line oracle template.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .entry_queries import _t
from .entry_queries_ext import _docs
from .operators import weburls


def _norm30(col):
    return F.trim(F.regexp_replace(F.substring(col, 1, 30), r"\s+", " "))


_NORM30_SQL = r"trim(regexp_replace(substr(text, 1, 30), '\s+', ' ', 'g'))"


def _run_html(df: DataFrame) -> DataFrame:
    """payload → the real extraction UDF (span-pruned) → gate columns."""
    # imported lazily: extract pulls pandas/numpy/pdftext — module-level
    # would tax EVERY fresh-JVM registry import (the A/B child pays it
    # per rep) for queries that never touch the UDF
    from .operators.extract import with_extraction

    ext = with_extraction(
        df.select("doc_id", F.col("payload").alias("text"),
                  F.lit(None).cast("string").alias("tool")),
        with_spans=False,
    )
    return ext.select("doc_id", "extracted_text", "payload_kind", "needs_ocr")


# ---------------------------------------------------------------------------
# q91 — HTML_SKIP_TAGS: script/style/noscript/template subtree drop
# ---------------------------------------------------------------------------
# four variants (doc_id % 4), every one long + link-free (would be KEPT by
# the length/density rules alone — the skip rule is load-bearing):
# inline one-line <script>, MULTI-LINE <style> (the dotall/pre-split-merge
# path), <noscript> prose, <template> containing a nested <p> block.


def q91_html_skip_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    content = F.concat(
        F.lit("Claim record "), _norm30(F.col("text")),
        F.lit(" reviewed in full."),
    )
    v = F.col("doc_id") % 4
    skipline = (
        F.when(v == 0, F.lit(
            '<script>var cfg = {rows: [1,2,3], msg: "PLEASE ENABLE '
            'COOKIES TO CONTINUE"};</script>'))
        .when(v == 1, F.lit(
            "<style>\n.nav { width: 200px; }\n.side { color: #888; }\n"
            "</style>"))
        .when(v == 2, F.lit(
            "<noscript>This portal requires JavaScript to display loss "
            "run tables.</noscript>"))
        .otherwise(F.lit(
            "<template><p>Hidden draft template row with long placeholder "
            "body text.</p></template>"))
    )
    payload = F.concat(
        F.lit('<html>\n<body>\n<nav><a href="/s0">Home</a> '
              '<a href="/s1">Claims</a></nav>\n'),
        skipline,
        F.lit("\n<p>"), content,
        F.lit('</p>\n<footer><a href="/tos">Terms of service</a> '
              '<a href="/priv">Privacy</a></footer>\n</body>\n</html>'),
    )
    return _run_html(d.select("doc_id", payload.alias("payload")))


# nav text 'Home Claims' (11) and footer 'Terms of service Privacy' (24)
# fall below HTML_MIN_TEXT_LEN=25 — only the content <p> survives
_Q91_SQL = f"""
SELECT doc_id,
       'Claim record ' || {_NORM30_SQL} || ' reviewed in full.'
         AS extracted_text,
       'html' AS payload_kind,
       false AS needs_ocr
FROM documents
"""


# ---------------------------------------------------------------------------
# q92 — HTML table → pipe-text linearization
# ---------------------------------------------------------------------------
# five variants (doc_id % 5): single-line th/td table, MULTI-LINE rows
# (one <tr> per line — the pre-split collapse path), empty trailing cell,
# inline <b> markup inside a cell, three-row td-only table.


def q92_html_table_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    i = F.col("doc_id").cast("string")
    amt = F.concat((F.col("doc_id") % 97).cast("string"), F.lit(".50"))
    w = _norm30(F.col("text"))
    v = F.col("doc_id") % 5
    table = (
        F.when(v == 0, F.concat(
            F.lit("<table><tr><th>Claim number</th><th>Amount paid</th>"
                  "</tr><tr><td>C-"), i, F.lit("</td><td>$"), amt,
            F.lit("</td></tr></table>")))
        .when(v == 1, F.concat(
            F.lit("<table>\n<tr><th>Claim number</th><th>Status note</th>"
                  "</tr>\n<tr><td>C-"), i, F.lit("</td><td>"), w,
            F.lit("</td></tr>\n</table>")))
        .when(v == 2, F.concat(
            F.lit("<table><tr><td>Open claim C-"), i,
            F.lit(" pending review</td><td></td></tr></table>")))
        .when(v == 3, F.concat(
            F.lit("<table><tr><td>Cell with <b>bold</b> claim C-"), i,
            F.lit(" markup</td><td>flagged for audit</td></tr></table>")))
        .otherwise(F.concat(
            F.lit("<table><tr><td>Row one for claim C-"), i,
            F.lit("</td></tr><tr><td>row two amount $"), amt,
            F.lit("</td></tr><tr><td>row three closing note</td></tr>"
                  "</table>")))
    )
    payload = F.concat(
        F.lit('<html>\n<body>\n<nav><a href="/s0">Home</a> '
              '<a href="/s1">Claims</a></nav>\n'),
        table,
        F.lit("\n</body>\n</html>"),
    )
    return _run_html(d.select("doc_id", payload.alias("payload")))


_Q92_SQL = f"""
WITH parts AS (
  SELECT doc_id,
         CAST(doc_id AS VARCHAR) AS i,
         CAST(doc_id % 97 AS VARCHAR) || '.50' AS amt,
         {_NORM30_SQL} AS w,
         doc_id % 5 AS v
  FROM documents
)
SELECT doc_id,
       CASE v
         WHEN 0 THEN 'Claim number | Amount paid | C-' || i || ' | $' || amt
         WHEN 1 THEN 'Claim number | Status note | C-' || i || ' | ' || w
         WHEN 2 THEN 'Open claim C-' || i || ' pending review |'
         WHEN 3 THEN 'Cell with bold claim C-' || i
                       || ' markup | flagged for audit'
         ELSE 'Row one for claim C-' || i || ' | row two amount $' || amt
                || ' | row three closing note'
       END AS extracted_text,
       'html' AS payload_kind,
       false AS needs_ocr
FROM parts
"""


# ---------------------------------------------------------------------------
# q93 — href inventory from HTML payloads → canonical URL + host
# ---------------------------------------------------------------------------

_HREF_PAT = r'<a href="([^"]+)"'


def q93_html_link_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "source")
    i = F.col("doc_id").cast("string")
    payload = F.concat(
        F.lit('<html>\n<body>\n<p>See <a href="HTTP://WWW.'),
        F.col("source"), F.lit(".Example.COM:80/Path"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("/?utm_source=mail&x="), i,
        F.lit('#top">the portal</a> and <a href="https://cdn'),
        (F.col("doc_id") % 3).cast("string"), F.lit(".example.net/a"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('/?utm_campaign=z">assets</a>.</p>\n</body>\n</html>'),
    )
    hrefs = F.expr(f"regexp_extract_all(payload, '{_HREF_PAT}', 1)")
    ex = d.select("doc_id", payload.alias("payload")).select(
        "doc_id", F.posexplode(hrefs).alias("url_pos", "url")
    )
    out = weburls.canonicalize_urls(ex)
    return out.select("doc_id", "url_pos", "canon_url", "host")


def _q93_sql() -> str:
    canon = weburls.canonical_url_sql("url")
    return f"""
WITH aug AS (
  SELECT doc_id,
         '<html>' || chr(10) || '<body>' || chr(10)
           || '<p>See <a href="HTTP://WWW.' || source || '.Example.COM:80/Path'
           || CAST(doc_id % 5 AS VARCHAR) || '/?utm_source=mail&x='
           || CAST(doc_id AS VARCHAR)
           || '#top">the portal</a> and <a href="https://cdn'
           || CAST(doc_id % 3 AS VARCHAR) || '.example.net/a'
           || CAST(doc_id % 7 AS VARCHAR)
           || '/?utm_campaign=z">assets</a>.</p>' || chr(10)
           || '</body>' || chr(10) || '</html>' AS payload
  FROM documents
), hrefs AS (
  SELECT doc_id,
         unnest(list_transform(
           regexp_extract_all(payload, '{_HREF_PAT}', 1),
           (x, j) -> {{'url_pos': j - 1, 'url': x}}), recursive := true)
  FROM aug
), canon AS (
  SELECT doc_id, CAST(url_pos AS INT) AS url_pos, {canon} AS canon_url
  FROM hrefs
)
SELECT doc_id, url_pos, canon_url,
       regexp_extract(canon_url, '{weburls.HOST_PAT}', 1) AS host
FROM canon
"""


# ---------------------------------------------------------------------------
# q94 — per-host URL fetch budget (per-group top-k, WindowGroupLimit)
# ---------------------------------------------------------------------------

_Q94_K = 5


def q94_host_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .entry_queries_ext10 import _q86_urls

    urls = weburls.canonicalize_urls(_q86_urls(spark, sf_dir))
    return weburls.host_budget(urls, k=_Q94_K)


def _q94_sql() -> str:
    from .entry_queries_ext import _md5l
    from .entry_queries_ext10 import _Q86_AUG_SQL

    canon = weburls.canonical_url_sql("url")
    return f"""
WITH aug AS (
{_Q86_AUG_SQL}
), canon AS (
  SELECT {canon} AS canon_url FROM aug
), frontier AS (
  SELECT DISTINCT regexp_extract(canon_url, '{weburls.HOST_PAT}', 1) AS host,
         canon_url
  FROM canon
), ranked AS (
  SELECT host, canon_url,
         ROW_NUMBER() OVER (PARTITION BY host
                            ORDER BY {_md5l('canon_url')} ASC,
                                     canon_url ASC) AS rk
  FROM frontier
)
SELECT host, CAST(rk AS INT) AS rk, canon_url
FROM ranked WHERE rk <= {_Q94_K}
"""


# ---------------------------------------------------------------------------
# q95 — deterministic global corpus shuffle (two-phase scalable rank)
# ---------------------------------------------------------------------------
# The DuckDB twin is the naive global ROW_NUMBER() — the gate proves the
# bucketed two-phase shape (operators/curation.py corpus_shuffle) equals
# the single-node semantics, the same discipline as q82's prefix sum.


def q95_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import corpus_shuffle

    return corpus_shuffle(_t(spark, sf_dir, "documents").select("doc_id"))


def _q95_sql() -> str:
    from .entry_queries_ext import _md5l

    key = _md5l("'shuf:' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT doc_id, {key} AS shuffle_key,
       CAST(ROW_NUMBER() OVER (ORDER BY {key}, doc_id) - 1 AS BIGINT)
         AS shuffle_pos
FROM documents
"""


# ---------------------------------------------------------------------------
# q96 — near-dup cluster representative selection (quality-aware keep)
# ---------------------------------------------------------------------------
# Production dedup keeps the BEST member of each duplicate cluster, not
# the smallest id (q40's cheap pair rule): here longest-document-wins
# with id tiebreak over the connected components of the LSH-verified
# jaccard pair graph (q12's production pair source). The Spark side is
# pointer-doubled min-label propagation (dedup.duplicate_clusters) + a
# per-cluster WindowGroupLimit top-1; the DuckDB twin computes the same
# components with a recursive transitive closure — fine at oracle scale,
# and exactly the single-node semantics the distributed algorithm must
# reproduce.


def q96_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .operators import dedup

    full = _t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(full, hash_impl="md5")
    pairs = dedup.jaccard_pairs(
        full, pairs=dedup.lsh_candidates(sig), threshold=0.8, unit="shingle"
    )
    clusters = dedup.duplicate_clusters(pairs)
    docs = full.select("doc_id", "n_chars")
    labeled = docs.join(clusters, "doc_id", "left").select(
        "doc_id", "n_chars",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        labeled.withColumn("rnk", F.row_number().over(w))
        .select(
            "doc_id", "cluster_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            (F.col("rnk") == 1).alias("is_rep"),
        )
    )


def _q96_sql() -> str:
    from .entry_queries_ext import _q12_sql

    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_q12_sql()})
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), comp AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
), labeled AS (
  SELECT d.doc_id, d.n_chars,
         coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, cluster_id, CAST(n_chars AS BIGINT) AS n_chars,
       ROW_NUMBER() OVER (PARTITION BY cluster_id
                          ORDER BY n_chars DESC, doc_id ASC) = 1 AS is_rep
FROM labeled
"""


# ---------------------------------------------------------------------------
# q97 — annotation text never leaks into extraction (negative parity pin)
# ---------------------------------------------------------------------------
# fitz get_text (the reference's chain, extract_text.py:27-36) does NOT
# include annotation text in page content. The carrier attaches a
# /FreeText annotation whose /Contents is crafted to be maximally
# tempting — it contains claim-number-shaped and money-shaped tokens —
# and the gate asserts the extracted text is exactly the page text on
# both twins (the DuckDB twin is annotation-blind by construction).


def _payload_q97(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_minimal_pdf

    norm30 = " ".join(str(text)[:30].split())
    page = (
        f"Annot A{doc_id}\nBody {norm30}\nGross {doc_id % 83}.10"
    )
    note = (
        f"REVIEWER NOTE {doc_id}: claim number X-{doc_id + 90000} "
        f"amount $9,999.99 (do not extract)"
    )
    return write_minimal_pdf([page], annots=[note])


# ---------------------------------------------------------------------------
# q98 — distributed BPE merge training (3 unrolled rounds)
# ---------------------------------------------------------------------------
# The gate compares every word's FINAL segmentation, so the learned merge
# sequence is verified implicitly (one wrong argmax changes many rows).
# The DuckDB twin unrolls the same three rounds as CTEs — pair counting,
# (count desc, pair asc) argmax, boundary-padded replace — in exact
# arithmetic; see operators/bpe.py for the shared determinism contract.

_Q98_MERGES = 3


def q98_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bpe import bpe_merges

    vocab, _merges = bpe_merges(
        _docs(spark, sf_dir).select("doc_id", "text"), n_merges=_Q98_MERGES
    )
    return vocab


def _q98_sql(n_merges: int = _Q98_MERGES) -> str:
    from .entry_queries_ext import _WORDS_SQL

    words = _WORDS_SQL.format(v="text")
    rounds = []
    for r in range(n_merges):
        rounds.append(f"""p{r} AS (
  SELECT s[i] AS a, s[i + 1] AS b, SUM(n_occ) AS w
  FROM (SELECT n_occ, string_split(trim(sym), ' ') AS s FROM v{r}),
       LATERAL (SELECT unnest(range(1, len(s))) AS i) u
  GROUP BY 1, 2
), m{r} AS (
  SELECT a, b FROM p{r} ORDER BY w DESC, a ASC, b ASC LIMIT 1
), v{r + 1} AS (
  SELECT word, n_occ,
         replace(sym, ' ' || m.a || ' ' || m.b || ' ',
                 ' ' || m.a || m.b || ' ') AS sym
  FROM v{r}, m{r} m
)""")
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH wf AS (
  SELECT word, COUNT(*) AS n_occ
  FROM documents, unnest({words}) AS t(word)
  WHERE word <> ''
  GROUP BY word
), v0 AS (
  SELECT word, n_occ,
         ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '</w> ' AS sym
  FROM wf
),
{rounds_sql}
SELECT word, CAST(n_occ AS BIGINT) AS n_occ, trim(sym) AS bpe_tokens
FROM v{n_merges}
"""


# ---------------------------------------------------------------------------
# q99 — tokenizer application: per-document BPE fertility
# ---------------------------------------------------------------------------
# Using the q98-trained tokenizer: fertility (BPE tokens per word, ppm —
# integer-exact) is THE signal for whether a tokenizer fits a corpus /
# language mix. The segmentation table is bounded (distinct words) and
# broadcast; the corpus-side work is explode + map-side join + one
# doc-keyed rollup.


def q99_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bpe import bpe_merges
    from .operators.dedup import words_col

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    vocab, _merges = bpe_merges(docs, n_merges=_Q98_MERGES)
    seg = vocab.select(
        "word", F.size(F.split("bpe_tokens", " ")).alias("n_sym")
    )
    w = docs.select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("word")
    ).where(F.col("word") != "")
    per_doc = w.join(F.broadcast(seg), "word").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_sym").alias("n_bpe_tokens"),
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        F.coalesce("n_bpe_tokens", F.lit(0)).cast("long").alias("n_bpe_tokens"),
        F.coalesce(
            F.expr("n_bpe_tokens * 1000000 DIV n_words"), F.lit(0)
        ).cast("long").alias("fertility_ppm"),
    )


def _q99_sql() -> str:
    from .entry_queries_ext import _WORDS_SQL

    base = _q98_sql(_Q98_MERGES).strip().rstrip()
    # reuse the q98 statement as a derived table: its final SELECT yields
    # (word, n_occ, bpe_tokens)
    words = _WORDS_SQL.format(v="text")
    return f"""
WITH seg AS (
  SELECT word, len(string_split(bpe_tokens, ' ')) AS n_sym
  FROM ({base})
), w AS (
  SELECT doc_id, word
  FROM documents, unnest({words}) AS t(word)
  WHERE word <> ''
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_words, SUM(n_sym) AS n_bpe_tokens
  FROM w JOIN seg USING (word)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(p.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
       CAST(coalesce(p.n_bpe_tokens * 1000000 // p.n_words, 0) AS BIGINT)
         AS fertility_ppm
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q100 — fuzzy eval-set decontamination (MinHash LSH, train × eval)
# ---------------------------------------------------------------------------
# q48/q53 catch EXACT n-gram contamination; this is the fuzzy complement
# (GPT-3 appendix-C style): train documents NEAR-duplicating an eval/test
# document must be flagged even when no 13-gram matches verbatim. The
# eval side is the q47 deterministic test split, so the whole query is
# reproducible from the table alone. Scale shape: one signature pass
# over the corpus; the eval band table is small by construction and
# BROADCAST, so the train side never shuffles for candidate generation;
# exact shingle-jaccard verification runs on candidates only.


def q100_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import curation, dedup

    full = _t(spark, sf_dir, "documents")
    split = curation.deterministic_split(full)
    sig = dedup.minhash_signatures(full, hash_impl="md5")  # oracle replays md5
    bands = dedup.lsh_bands(sig)
    is_eval = F.col("split") == "test"
    eval_ids = split.where(is_eval).select("doc_id")
    train_ids = split.where(~is_eval).select("doc_id")
    bl = bands.join(train_ids, "doc_id").select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_key"
    )
    br = bands.join(F.broadcast(eval_ids), "doc_id").select(
        F.col("doc_id").alias("doc_b"), "band_idx", "band_key"
    )
    cand = (
        bl.join(F.broadcast(br), ["band_idx", "band_key"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    out = dedup.jaccard_pairs(full, pairs=cand, threshold=0.8, unit="shingle")
    return out.select(
        F.col("doc_a").alias("train_doc"),
        F.col("doc_b").alias("eval_doc"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _q100_sql() -> str:
    from .entry_queries_ext import (
        _SHINGLES_SQL, _WORDS_SQL, _band_rows_sql, _md5l, _q13_sql,
    )

    bucket = _md5l("'split:split:' || CAST(doc_id AS VARCHAR)") + " % 100"
    return f"""
WITH sig AS ({_q13_sql()}),
bands AS (
  SELECT doc_id, u.b['band_idx'] AS band_idx, u.b['band_key'] AS band_key
  FROM sig, LATERAL (SELECT unnest([{_band_rows_sql()}]) AS b) u
),
sp AS (
  SELECT doc_id, ({bucket}) >= 95 AS is_eval FROM documents
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN sp spl ON l.doc_id = spl.doc_id AND NOT spl.is_eval
  JOIN bands r ON l.band_idx = r.band_idx AND l.band_key = r.band_key
  JOIN sp spr ON r.doc_id = spr.doc_id AND spr.is_eval
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
SELECT doc_a AS train_doc, doc_b AS eval_doc,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n_words + sb.n_words - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.n_words + sb.n_words - n_common) >= 0.8
"""


# ---------------------------------------------------------------------------
# q101 — corpus snapshot statistics (the pre-training "data card" row)
# ---------------------------------------------------------------------------
# One row summarizing the corpus: document/token/char volume, vocabulary
# size, exact-duplicate volume, language mix entropy inputs (per-lang
# counts would explode the row — the dominant language + its share ppm
# stand in), BPE-ish token total. Every figure is an exact integer (the
# one ratio is ppm). Scale shape: one pass over (text, lang) with
# partial aggregation; the distinct-word and dup-group counts are
# digest-keyed two-stage aggregations.


def q101_corpus_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import norm_text_col, words_col
    from .operators.textstats import BPE_ISH_PAT
    from .functions.hashing import md5_long_col as _md5c

    d = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    base = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.sum(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PAT), 0))
        ).cast("long").alias("n_bpe_tokens"),
    )
    vocab = (
        d.select(F.explode(words_col(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.countDistinct("w").alias("n_distinct_words"),
        )
    )
    dups = (
        d.select(_md5c(norm_text_col(F.col("text"))).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_distinct_contents"),
            F.sum(F.col("n") - 1).cast("long").alias("n_exact_dup_docs"),
        )
    )
    lang = (
        d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("lang").asc())
        .limit(1)
        .select(
            F.col("lang").alias("top_lang"),
            F.col("n").cast("long").alias("top_lang_docs"),
        )
    )
    return (
        base.crossJoin(vocab).crossJoin(dups).crossJoin(F.broadcast(lang))
        .withColumn(
            "top_lang_share_ppm",
            F.expr("top_lang_docs * 1000000 DIV n_docs"),
        )
        .select(
            "n_docs", "n_chars", "n_bpe_tokens",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_distinct_words").cast("long").alias("n_distinct_words"),
            F.col("n_distinct_contents").cast("long").alias("n_distinct_contents"),
            "n_exact_dup_docs", "top_lang", "top_lang_docs",
            F.col("top_lang_share_ppm").cast("long").alias("top_lang_share_ppm"),
        )
    )


def _q101_sql() -> str:
    from .entry_queries_ext import _NORM_SQL, _WORDS_SQL, _md5l
    from .operators.textstats import BPE_ISH_PAT

    words = _WORDS_SQL.format(v="text")
    norm = _NORM_SQL.format(v="text")
    return f"""
WITH base AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(text)) AS BIGINT) AS n_chars,
         CAST(SUM(len(regexp_extract_all(text, '{BPE_ISH_PAT}'))) AS BIGINT)
           AS n_bpe_tokens
  FROM documents
), vocab AS (
  SELECT COUNT(*) AS n_words, COUNT(DISTINCT w) AS n_distinct_words
  FROM (SELECT unnest({words}) AS w FROM documents) WHERE w <> ''
), dups AS (
  SELECT COUNT(*) AS n_distinct_contents,
         CAST(SUM(n - 1) AS BIGINT) AS n_exact_dup_docs
  FROM (SELECT {_md5l(norm)} AS h, COUNT(*) AS n FROM documents GROUP BY h)
), lang AS (
  SELECT lang AS top_lang, CAST(n AS BIGINT) AS top_lang_docs
  FROM (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang)
  ORDER BY n DESC, lang ASC LIMIT 1
)
SELECT CAST(n_docs AS BIGINT) AS n_docs, n_chars, n_bpe_tokens,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
       CAST(n_distinct_contents AS BIGINT) AS n_distinct_contents,
       n_exact_dup_docs, top_lang, top_lang_docs,
       CAST(top_lang_docs * 1000000 // n_docs AS BIGINT) AS top_lang_share_ppm
FROM base, vocab, dups, lang
"""


# ---------------------------------------------------------------------------
# q102 — language-ID confusion matrix (operator accuracy rollup)
# ---------------------------------------------------------------------------
# The documents table carries a ground-truth ``lang`` label; crossing it
# with the heuristic's prediction is the standard operator-accuracy
# report (and the data-card's language-mix sanity check). One
# partial-aggregated groupBy over two tiny-cardinality keys.


def q102_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import lang_id_col

    d = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    return (
        d.withColumn("lang_guess", lang_id_col(F.col("text")))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select("lang", "lang_guess", F.col("n_docs").cast("long").alias("n_docs"))
    )


def _q102_sql() -> str:
    from .entry_queries_ext import _q18_sql

    return f"""
WITH guesses AS ({_q18_sql()})
SELECT d.lang, g.lang_guess, COUNT(*) AS n_docs
FROM documents d JOIN guesses g USING (doc_id)
GROUP BY d.lang, g.lang_guess
"""


# ---------------------------------------------------------------------------
# q103 — document-length histogram (log2 buckets)
# ---------------------------------------------------------------------------
# The data-card companion plot: document counts and char mass per power-
# of-two length bucket. bucket = floor(log2(n_chars)) computed WITHOUT
# libm: length of the binary representation − 1 (bit_length is exact in
# both engines via integer ops; log2() would be the last-ulp trap).


def q103_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        F.length("text").cast("long").alias("n")
    )
    # floor(log2(n)) == len(bin(n)) - 1: Spark bin() renders the binary
    # string; exact for any BIGINT, no floating point anywhere
    bucket = (F.length(F.bin(F.col("n"))) - 1).cast("int")
    return (
        d.where(F.col("n") > 0)
        .groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("n_chars"),
        )
        .select("log2_bucket", F.col("n_docs").cast("long").alias("n_docs"), "n_chars")
    )


_Q103_SQL = """
SELECT CAST(len(bin(len(text))) - 1 AS INT) AS log2_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(len(text)) AS BIGINT) AS n_chars
FROM documents
WHERE len(text) > 0
GROUP BY 1
"""
