"""W1/W2 — stable turn ordering and positional pairing.

The north rule's core ordering contract: turn order within a conversation is
``row_number() over (partition by conv_id order by turn_idx, ts)`` —
well-defined under ANY parallelism, including duplicate ``turn_idx`` values
(tiebreak on ``ts``). Reference precedent: "claims should be in document
order" (claude_pdf_extractor.py:513, text_lob_llm_extractor.py:266);
positional scoring join (compare_models.py:49-52).

Scale note: the ordering is TWO-PHASE, so a single mega-conversation never
funnels its sort into one task. Phase 1 buckets each turn by ``floor(turn_idx
/ bucket_width)`` (order-respecting: equal turn_idx → same bucket, so the ts
tiebreak stays intra-bucket) and numbers rows per (conv_id, bucket) — a
10M-turn conversation splits across ~turn_idx_range/bucket_width parallel
sort tasks instead of one. Phase 2 turns per-(conv, bucket) counts into
cumulative offsets (a window over the TINY counts frame, ~1 row per
(conv, bucket)) and adds them back with an equi-join.

The flagship (plans/pipeline.py) shuffles each turn once: its pre-kernel
repartition hashes on ``turn_partition_keys`` — the same (conversation,
bucket) keys phase 1 partitions by, so the turn bucket doubles as the skew
salt. ``number_turns`` then runs phase 1 in that partitioning and joins the
offsets on those keys, so the big side of the join neither re-shuffles nor
re-sorts (Catalyst carries the hash partitioning through the projection
that names the keys; pinned by tests/test_plan_shapes.py). The counts
branch reads only the key columns of the pipeline's input, before the
repartition: a second scan of (conv_id, turn_idx), partially aggregated
before its own small shuffle, never a second shuffle of every turn.

The conversation key is the pair (coalesce(conv_id, ''), isnull(conv_id)):
a plain-equality join key that keeps NULL conv_id rows (a plain ``==`` on
conv_id would silently DROP them and break the one-row-per-turn contract),
and that the join, the window and the repartition all share. An
``eqNullSafe`` join would plan these keys too, but as expressions the
repartition's partitioning cannot be shown to satisfy.

The offsets frame is O(#conversations) rows — NOT broadcast (at 10^12 turns
that's ~10^9 rows); the join is a sort-merge join where only the tiny side
moves. AQE may still choose broadcast at small scale; both are correct.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Max turns of one conversation that a single ordering sort task will own.
# 2^16 rows of extracted turns sort in ms and fit any executor; a 10M-turn
# conversation fans out into ~153 tasks.
DEFAULT_TURN_BUCKET_WIDTH = 65536

# phase 1's partition key columns, and the offsets frame's join-side names
_KEYS = ("__ck", "__cn", "__turn_bkt")
_OFFSET_KEYS = ("__oc", "__on", "__ob")


def turn_partition_keys(bucket_width: int | None) -> list[Column]:
    """The keys that group a conversation's turns: conv_id alone when
    ``bucket_width`` is None (the single-window plan), else the
    (conversation, turn bucket) triple of the module docstring."""
    if bucket_width is None:
        return [F.col("conv_id")]
    # nulls-first to match the window's asc ordering: null turn_idx lands in
    # the minimal bucket
    bkt = F.floor(
        F.coalesce(F.col("turn_idx").cast("long"), F.lit(-(1 << 31)))
        / F.lit(int(bucket_width))
    ).cast("long")
    return [F.coalesce(F.col("conv_id"), F.lit("")), F.isnull("conv_id"), bkt]


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
    return number_turns(df, df, out_col, bucket_width)


def number_turns(
    df: DataFrame, counted: DataFrame, out_col: str, bucket_width: int | None
) -> DataFrame:
    """``with_turn_pos`` with the per-bucket counts taken from ``counted``,
    a frame holding the same turns as ``df`` (conv_id and turn_idx are all
    it reads). The pipeline passes its input from before the repartition,
    so the counts branch re-scans key columns instead of re-running the
    repartition of ``df``."""
    order = (F.col("turn_idx").asc(), F.col("ts").asc())
    if bucket_width is None:
        w = Window.partitionBy("conv_id").orderBy(*order)
        return df.withColumn(out_col, F.row_number().over(w))
    local = df.withColumns(dict(zip(_KEYS, turn_partition_keys(bucket_width))))
    local = local.withColumn(
        "__local_rn", F.row_number().over(Window.partitionBy(*_KEYS).orderBy(*order))
    )
    counts = counted.select(
        *[k.alias(n) for k, n in zip(turn_partition_keys(bucket_width), _OFFSET_KEYS)]
    ).groupBy(*_OFFSET_KEYS).agg(F.count(F.lit(1)).alias("__cnt"))
    off_w = (
        Window.partitionBy(*_OFFSET_KEYS[:2])
        .orderBy(F.col("__ob").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *_OFFSET_KEYS, F.coalesce(F.sum("__cnt").over(off_w), F.lit(0)).alias("__off")
    )
    # distinct column names per join leg (no shared-plan .alias() self-join
    # mis-resolution); every key is non-null
    on = [F.col(k) == F.col(o) for k, o in zip(_KEYS, _OFFSET_KEYS)]
    joined = local.join(offsets, on[0] & on[1] & on[2], "inner")
    return joined.withColumn(
        out_col, (F.col("__local_rn") + F.col("__off")).cast("int")
    ).drop(*_KEYS, *_OFFSET_KEYS, "__off", "__local_rn")


def positional_pairing(preds: DataFrame, truth: DataFrame, doc_col: str, order_cols: list[str]):
    """W2/J2 — `preds[i]` vs `truth[i]` as an equi-join on (doc, pos)
    (compare_models.py:46-59, keyed instead of list-positional)."""
    w = Window.partitionBy(doc_col).orderBy(*order_cols)
    p = preds.withColumn("pos", F.row_number().over(w))
    t = truth.withColumn("pos", F.row_number().over(w))
    return p.join(t, on=[doc_col, "pos"], how="inner")
