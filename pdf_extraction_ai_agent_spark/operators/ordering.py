"""W1/W2 — stable turn ordering and positional pairing.

The north rule's core ordering contract: turn order within a conversation is
``row_number() over (partition by conv_id order by turn_idx, ts)`` —
well-defined under ANY parallelism, including duplicate ``turn_idx`` values
(tiebreak on ``ts``). Reference precedent: "claims should be in document
order" (claude_pdf_extractor.py:513, text_lob_llm_extractor.py:266);
positional scoring join (compare_models.py:49-52).

Scale note (round-4 rework): the heavy extraction UDF runs on salted
partitions *before* this stage (extraction is per-turn independent), and the
ordering itself is TWO-PHASE so a single mega-conversation never funnels its
sort into one task. Phase 1 buckets each turn by ``floor(turn_idx /
bucket_width)`` (order-respecting: equal turn_idx → same bucket, so the ts
tiebreak stays intra-bucket) and numbers rows per (conv_id, bucket) — a
10M-turn conversation splits across ~turn_idx_range/bucket_width parallel
sort tasks instead of one. Phase 2 turns per-(conv, bucket) counts into
cumulative offsets (a window over the TINY counts frame, ~1 row per
(conv, bucket)) and adds them back with an equi-join that reuses the
phase-1 partitioning+ordering — the big side neither re-shuffles nor
re-sorts (pinned by tests/test_plan_shapes.py::
test_turn_ordering_never_full_conv_sorts).

The offsets frame is O(#conversations) rows — NOT broadcast (at 10^12 turns
that's ~10^9 rows); the join is a sort-merge join where only the tiny side
moves. AQE may still choose broadcast at small scale; both are correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Max turns of one conversation that a single ordering sort task will own.
# 2^16 rows of extracted turns sort in ms and fit any executor; a 10M-turn
# conversation fans out into ~153 tasks.
DEFAULT_TURN_BUCKET_WIDTH = 65536


def with_turn_pos(
    df: DataFrame,
    out_col: str = "turn_pos",
    bucket_width: int = DEFAULT_TURN_BUCKET_WIDTH,
) -> DataFrame:
    """Stable 1-based position of each turn within its conversation —
    semantically ``row_number() over (partition by conv_id order by
    turn_idx, ts)``, computed two-phase (module docstring) so no task ever
    sorts a whole conversation. ``bucket_width=None`` is the single-window
    plan: extract_pipeline picks it under ``salt_buckets='auto'`` when no
    conversation exceeds one bucket (the job, the flagship query)."""
    if bucket_width is None:
        w = Window.partitionBy("conv_id").orderBy(
            F.col("turn_idx").asc(), F.col("ts").asc()
        )
        return df.withColumn(out_col, F.row_number().over(w))
    # nulls-first to match the window's asc ordering: null turn_idx lands in
    # the minimal bucket
    bkt = F.floor(
        F.coalesce(F.col("turn_idx").cast("long"), F.lit(-(1 << 31)))
        / F.lit(int(bucket_width))
    ).cast("long")
    local_w = Window.partitionBy("conv_id", "__turn_bkt").orderBy(
        F.col("turn_idx").asc(), F.col("ts").asc()
    )
    local = df.withColumn("__turn_bkt", bkt).withColumn(
        "__local_rn", F.row_number().over(local_w)
    )
    # counts derive from the PHASE-1 BRANCH (not the raw input) so the
    # expensive upstream (extraction UDF + its shuffle) is computed once and
    # the (conv, bucket) exchange is reused — only the cheap sort+window
    # re-runs on the counts branch
    counts = local.groupBy(
        F.col("conv_id").alias("__oc"), F.col("__turn_bkt").alias("__ob")
    ).agg(F.count(F.lit(1)).alias("__cnt"))
    off_w = (
        Window.partitionBy("__oc")
        .orderBy(F.col("__ob").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__oc",
        "__ob",
        F.coalesce(F.sum("__cnt").over(off_w), F.lit(0)).alias("__off"),
    )
    # distinct column names per join leg (no shared-plan .alias() self-join
    # mis-resolution — CLAUDE.md gotcha); eqNullSafe on conv_id so a NULL
    # conv_id row keeps its position (the window path numbers the NULL
    # partition too — a plain == join would silently DROP those rows and
    # break the one-row-per-turn contract)
    joined = local.join(
        offsets,
        local["conv_id"].eqNullSafe(offsets["__oc"])
        & (local["__turn_bkt"] == offsets["__ob"]),
        "inner",
    )
    return (
        joined.withColumn(
            out_col, (F.col("__local_rn") + F.col("__off")).cast("int")
        )
        .drop("__oc", "__ob", "__off", "__turn_bkt", "__local_rn")
    )


def positional_pairing(preds: DataFrame, truth: DataFrame, doc_col: str, order_cols: list[str]):
    """W2/J2 — `preds[i]` vs `truth[i]` as an equi-join on (doc, pos)
    (compare_models.py:46-59, keyed instead of list-positional)."""
    w = Window.partitionBy(doc_col).orderBy(*order_cols)
    p = preds.withColumn("pos", F.row_number().over(w))
    t = truth.withColumn("pos", F.row_number().over(w))
    return p.join(t, on=[doc_col, "pos"], how="inner")
