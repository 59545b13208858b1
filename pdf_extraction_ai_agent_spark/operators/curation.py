"""Training-data curation operators — the corpus-level bookkeeping every
LLM data pipeline runs after dedup/quality and before tokenization:

- deterministic_split: stable train/val/test assignment from a salted hash
  of the document id. Hash-based (NOT random/sample()) so membership is
  reproducible across runs, engines, and corpus growth — a doc never
  migrates between splits when other docs are added or the partitioning
  changes. Map-only; no shuffle at all.
- contamination: benchmark-decontamination flags (the GPT-3/Pile-style
  n-gram overlap check): a document is contaminated in proportion to how
  many of its distinct word-k-gram hashes appear in the evaluation set's
  gram inventory. Plan: the eval inventory is DISTINCT hashes (small —
  eval sets are thousands of docs, not billions) broadcast into a
  left-semi probe of the corpus gram stream; one groupBy(doc_id) with
  map-side partial counts. The corpus grams never shuffle on the gram key.

Both use the portable md5 hash (functions/hashing.py) so the DuckDB
oracles replay identical assignments and ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long_col
from .dedup import shingles_col

DEFAULT_SPLITS: tuple[tuple[str, int], ...] = (("train", 90), ("val", 5), ("test", 5))


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    salt: str = "split",
) -> DataFrame:
    """df + a ``split`` column: bucket = md5_long('split:<salt>:'||id) % 100,
    assigned by cumulative weights (must sum to 100)."""
    total = sum(w for _, w in splits)
    if total != 100:
        raise ValueError(f"split weights must sum to 100, got {total}")
    if len(splits) == 1:
        return df.withColumn("split", F.lit(splits[0][0]))
    bucket = md5_long_col(
        F.concat(F.lit(f"split:{salt}:"), F.col(id_col).cast("string"))
    ) % 100
    expr = None
    acc = 0
    for name, w in splits[:-1]:
        acc += w
        cond = bucket < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr.otherwise(F.lit(splits[-1][0])))


def deterministic_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "sample",
    default_rate: float = 0.0,
) -> DataFrame:
    """Stratified subsample with REPRODUCIBLE membership: keep a row iff
    md5_long('sample:<salt>:'||id) % 10000 < rate(stratum)·10000. Unlike
    sample()/sampleBy(), membership is a pure function of (salt, id) — it
    does not change with partitioning, Spark version, or corpus growth, so
    downstream runs (and the DuckDB oracle) reproduce the exact subset.
    The standard curation shape: up/down-weight languages or sources when
    assembling a training mix. Map-only; no shuffle. Strata not listed get
    ``default_rate``."""
    bucket = md5_long_col(
        F.concat(F.lit(f"sample:{salt}:"), F.col(id_col).cast("string"))
    ) % 10000
    expr = None
    for stratum, rate in rates.items():
        cond = F.col(strata_col) == stratum
        thr = int(round(rate * 10000))
        expr = F.when(cond, thr) if expr is None else expr.when(cond, thr)
    thr_col = (
        expr.otherwise(F.lit(int(round(default_rate * 10000))))
        if expr is not None
        else F.lit(int(round(default_rate * 10000)))
    )
    return df.filter(bucket < thr_col)


def _gram_hashes(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc_id, h) — md5-long of each DISTINCT word-k-gram per document.
    Map-only explode; the hash (8 bytes) is what flows, never the gram."""
    grams = F.array_distinct(shingles_col(F.col(text_col), k))
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("g"))
        .filter(F.col("g") != "")
        .select("doc_id", md5_long_col(F.col("g")).alias("h"))
    )


def contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """(doc_id, n_grams, n_contaminated, contamination) per corpus document
    with ≥1 gram: the fraction of its distinct k-gram hashes present in the
    eval set's gram inventory. Drop/flag thresholds are the caller's policy
    (the standard pipeline drops ≥ 0.8 and audits ≥ 0.2)."""
    corpus = _gram_hashes(docs, id_col, text_col, k)
    ev = _gram_hashes(eval_docs, id_col, text_col, k).select("h").distinct()
    sizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        corpus.join(F.broadcast(ev), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce("n_contaminated", F.lit(0)).cast("double") / F.col("n_grams"), 6
            ).alias("contamination"),
        )
    )


def contaminated_spans(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Sequence-level decontamination (round-3 verdict item 7): one row per
    MAXIMAL contaminated span — overlapping hit k-grams merged — with
    1-based word coordinates over the normalized token stream. Real
    pipelines act on the span (cut it out), not the whole document; the
    per-doc ratio from ``contamination`` only says how much to cut.

    Two hit grams merge iff they overlap (next_start − prev_start < k);
    spans are therefore disjoint and each covers every word from
    ``start_word`` to ``end_word`` = last hit start + k − 1.

    Plan: zero-shuffle — the eval gram-hash inventory is a collected fit
    parameter (8 bytes per distinct eval gram) broadcast into an Arrow
    kernel; a document's grams never leave its row, so the operator is a
    stateless map that also runs on streaming frames.
    """
    import numpy as np
    import pandas as pd

    from ..functions.hashing import md5_long_py

    ev_rows = (
        _gram_hashes(eval_docs, id_col, text_col, k).select("h").distinct().collect()
    )
    ev = np.array(sorted(int(r.h) for r in ev_rows), dtype=np.int64)
    bc = docs.sparkSession.sparkContext.broadcast(ev)

    def kernel(batches):
        import re as _re

        ev_sorted = bc.value
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                norm = _re.sub(
                    " +", " ", _re.sub("[^a-z0-9]+", " ", str(text).lower())
                ).strip()
                w = norm.split(" ")
                if norm == "" or len(w) < k:
                    continue
                total = len(w)
                grams = [" ".join(w[i : i + k]) for i in range(total - k + 1)]
                # hash each DISTINCT gram once (setdefault would evaluate
                # md5_long_py eagerly per occurrence)
                cache: dict[str, int] = {}
                for g in grams:
                    if g not in cache:
                        cache[g] = md5_long_py(g)
                hs = np.fromiter(
                    (cache[g] for g in grams), dtype=np.int64, count=len(grams)
                )
                if len(ev_sorted):
                    idx = np.searchsorted(ev_sorted, hs)
                    idx[idx >= len(ev_sorted)] = len(ev_sorted) - 1
                    hit_pos = np.nonzero(ev_sorted[idx] == hs)[0]
                else:
                    hit_pos = np.array([], dtype=np.int64)
                start = prev = None
                for p in hit_pos:
                    p = int(p)
                    if start is None:
                        start = prev = p
                    elif p - prev < k:
                        prev = p
                    else:
                        rows.append((int(doc_id), start + 1, prev + k, total))
                        start = prev = p
                if start is not None:
                    rows.append((int(doc_id), start + 1, prev + k, total))
            yield pd.DataFrame(
                rows, columns=["doc_id", "start_word", "end_word", "total_words"]
            )

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        kernel,
        schema="doc_id long, start_word long, end_word long, total_words long",
    )


def temperature_sample(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "tsamp",
) -> DataFrame:
    """Temperature-flattened stratified sampling (the multilingual-mix
    recipe from mBERT/XLM-R: sample stratum s with p_s ∝ n_s^α) at α=1/2,
    with REPRODUCIBLE membership.  Per-stratum keep-rate:

        w_s      = floor(sqrt(n_s) · 10^6)            (exact BIGINT)
        rate_ppm = min(10^6, floor((w_s·10^6/W) · N / n_s))
        keep     ⇔ md5_long('<salt>:'||id) % 10^6 < rate_ppm
                   (default salt 'tsamp' → 'tsamp:', the q87 oracle's key)

    α is pinned to 1/2 on purpose: IEEE-754 sqrt / * / / are correctly
    rounded in every engine, so with integer inputs (w_s, W, N, n_s) and a
    fixed evaluation order the rate is BIT-IDENTICAL in Spark, DuckDB and
    numpy — no pow()/libm drift, the DuckDB oracle stays a hard gate.
    (General-α temperature needs exp/log, whose last-ulp behavior is
    engine-specific; at α=1/2 the flattening is the classic sqrt mix.)

    Scale shape: the strata table is one partial-aggregated groupBy of the
    stratum column (bounded cardinality) broadcast back onto the corpus —
    the corpus itself is filtered map-only, no corpus-wide shuffle.

    Returns kept rows + (n_stratum, rate_ppm) so the mix is auditable.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_stratum"))
    w = F.floor(F.sqrt(F.col("n_stratum").cast("double")) * 1e6).cast("long")
    weighted = counts.select(strata_col, "n_stratum", w.alias("w_s"))
    totals = weighted.agg(
        F.sum("w_s").alias("W"), F.sum("n_stratum").alias("N")
    )
    rate = F.least(
        F.lit(1000000).cast("long"),
        F.floor(
            F.col("w_s").cast("double")
            * 1e6
            / F.col("W").cast("double")
            * F.col("N").cast("double")
            / F.col("n_stratum").cast("double")
        ).cast("long"),
    )
    rates = weighted.crossJoin(F.broadcast(totals)).select(
        strata_col, "n_stratum", rate.alias("rate_ppm")
    )
    bucket = md5_long_col(
        F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
    ) % 1000000
    return (
        df.join(F.broadcast(rates), strata_col)
        .where(bucket < F.col("rate_ppm"))
    )


def corpus_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "shuf",
    n_buckets: int = 64,
) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets a
    reproducible pseudo-random position 0..N-1 (the pre-training data
    order must be shuffled, reproducible, AND computable without a global
    sort on one reducer).

    shuffle_key = md5_long('shuf:<salt>:'||id); position = rank of that
    key corpus-wide (tiebreak id).  The naive form is ROW_NUMBER() over a
    global ORDER BY — a SinglePartition window.  This uses the two-phase
    pattern (operators/packing.py precedent): the 60-bit key space is cut
    into ``n_buckets`` contiguous ranges, one bounded aggregation counts
    per-range rows (≤ n_buckets rows collected, prefix-summed on the
    driver, broadcast back), then a per-range window ranks in parallel.
    Bucket count shapes only the physical plan, never the positions; the
    DuckDB twin is the naive global window, so the oracle gate proves the
    scalable shape equals the single-node semantics.
    """
    keyed = df.select(
        F.col(id_col).alias("doc_id"),
        md5_long_col(
            F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
        ).alias("shuffle_key"),
    )
    span = (1 << 60) // n_buckets + 1
    bucketed = keyed.withColumn(
        "bucket", F.expr(f"shuffle_key DIV {span}")
    )
    counts = {
        int(r["bucket"]): int(r["n"])
        for r in bucketed.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    prefix, acc = [], 0
    for b in sorted(counts):
        prefix.append((b, acc))
        acc += counts[b]
    offsets = df.sparkSession.createDataFrame(
        prefix or [(0, 0)], "bucket long, bucket_off long")

    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy("shuffle_key", "doc_id")
    return (
        bucketed.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id", "shuffle_key",
            (F.col("bucket_off") + F.row_number().over(w) - 1)
            .cast("long").alias("shuffle_pos"),
        )
    )
