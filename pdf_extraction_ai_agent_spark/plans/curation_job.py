"""The resumable corpus-curation job plan — the curation siblings of
plans/pipeline.py, composed for the spark-submit path (jobs/run_curation.py).

Two stages with different scale shapes, split on purpose:

1. ``exact_dup_losers`` — CORPUS-GLOBAL exact dedup (a later doc with the
   same normalized content hash as an earlier one is a loser).  Global
   operators cannot run per bucket group (bucket 7 must defer to bucket
   1's first occurrence), so the loser list is computed AT MOST ONCE per
   run-group and cached next to the lineage table (the
   cached_max_conv_rows discipline) — reruns and resumes read it back.
   Losers are the minority by construction, so per-group application is a
   broadcast join.

2. ``curation_plan`` — the per-document stage: C4 boilerplate filtering,
   Gopher quality flags, language ID and PII scrubbing are all map-only
   Catalyst expressions (one document never looks at another), so they
   bucket cleanly under run_with_lineage's idempotent-resume protocol.

Output: one row per input document with the per-rule verdicts, the final
``kept`` flag (C4 ∧ Gopher ∧ not-exact-dup) and the scrubbed text — the
shape a downstream training-mix assembler consumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import norm_text_col
from ..functions.hashing import md5_long_col
from .lineage import read_committed


def exact_dup_losers(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id) of every document whose normalized content already appeared on
    a smaller id — the corpus-global drop list.  One digest-keyed shuffle
    with algebraic min partials; the digest (8 bytes) is the shuffle row,
    never the text."""
    hashed = docs.select(
        F.col(id_col), md5_long_col(norm_text_col(F.col(text_col))).alias("h")
    )
    firsts = hashed.groupBy("h").agg(F.min(id_col).alias("keeper"))
    return (
        hashed.join(firsts, "h")
        .where(F.col(id_col) != F.col("keeper"))
        .select(id_col)
    )


def cached_exact_dup_losers(
    spark: SparkSession,
    docs: DataFrame,
    lineage_path: str,
    run_group: str = "default",
    fmt: str = "parquet",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The loser list for this run-group's input snapshot, computed AT
    MOST ONCE: stored at ``<lineage>_losers/run_group=…`` — a resume or
    rerun broadcasts the stored table instead of re-scanning the corpus
    (run_with_lineage assumes the input snapshot is stable per run-group,
    so the cache key is sound)."""
    sub = f"{lineage_path.rstrip('/')}_losers/run_group={run_group}"
    cached = read_committed(spark, sub, fmt)
    if cached is not None:
        return cached
    losers = exact_dup_losers(docs, id_col, text_col)
    losers.write.format(fmt).mode("overwrite").save(sub)
    return spark.read.format(fmt).load(sub)


def curation_plan(docs: DataFrame, losers: DataFrame,
                  id_col: str = "doc_id",
                  text_col: str = "text",
                  rules: tuple[str, ...] = ("c4", "gopher", "dedup")) -> DataFrame:
    """Per-document curation verdicts over one bucket group.  Every rule
    is a map-only expression; the joins key on the document id INSIDE the
    group and the loser list arrives broadcast, so the stage parallelizes
    across bucket groups with no cross-group dependency.

    ``rules`` picks which verdicts gate the final ``kept`` flag (every
    verdict column is always emitted) — a chat-transcript corpus that is
    single-line by construction fails C4's 3-punctuated-lines rule
    wholesale, so a user curates it with rules=('dedup',) and keeps the
    C4/Gopher columns as diagnostics.
    """
    from ..operators.textstats import (
        boilerplate_filter,
        gopher_quality_flags,
        lang_id_col,
        pii_scrub,
    )

    base = docs.withColumn("lang_id", lang_id_col(F.col(text_col)))
    c4 = boilerplate_filter(docs.select(id_col, text_col)).select(
        id_col, "cleaned_text",
        F.col("n_kept").alias("c4_kept_lines"),
        F.col("doc_kept").alias("c4_kept"),
    )
    gopher = gopher_quality_flags(docs.select(id_col, text_col)).select(
        id_col, "gopher_pass",
    )
    pii = pii_scrub(docs.select(id_col, text_col)).select(
        id_col, "scrubbed_text", "n_ssns", "n_emails", "n_phones",
    )
    flagged = (
        base.join(c4, id_col)
        .join(gopher, id_col)
        .join(pii, id_col)
        .join(
            F.broadcast(losers.withColumn("is_exact_dup", F.lit(True))),
            id_col, "left",
        )
        .withColumn("is_exact_dup", F.coalesce("is_exact_dup", F.lit(False)))
    )
    gates = {
        "c4": F.col("c4_kept"),
        "gopher": F.col("gopher_pass"),
        "dedup": ~F.col("is_exact_dup"),
    }
    unknown = set(rules) - set(gates)
    if unknown:
        raise ValueError(f"unknown curation rules: {sorted(unknown)}")
    kept = F.lit(True)
    for r in rules:
        kept = kept & gates[r]
    return flagged.withColumn("kept", kept)
