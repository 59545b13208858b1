"""The end-to-end extraction pipeline (reference lifecycles E1/E2/E3
collapsed into one DataFrame program — SURVEY §3).

Shape:

    scan transcripts
      → salted repartition  (hash(conv_id) ⊕ salt below conv granularity —
                             a skewed multi-million-turn conversation is
                             spread across S tasks for the map-only UDF
                             stage; safe because extraction is per-turn
                             independent, SURVEY §7 risk 5)
      → extract_turn_batch  (Arrow pandas UDF: payload sniff, HTML
                             boilerplate strip, pseudo-PDF layout parse,
                             span extraction, LOB keyword scoring)
      → stable ordering     (row_number over conv_id ordered by turn_idx,ts)
      → field projections   (native regexp_extract ladders)

The two shuffles are exactly the ones the north rule prescribes: the
explicit pre-UDF repartition and the ordering window. The one Arrow
kernel carries every per-turn Python step (LOB classification included:
keyword counting is C-speed ``str.count`` there, a byte loop in Catalyst);
everything after it is narrow and stays in whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.extract import with_extraction
from ..operators.ordering import with_turn_pos
from ..functions.fields import with_parsed_fields

# Salt fan-out for the map stage. At cluster scale set ≈ (executor cores ×
# 2-3) / distinct-heavy-convs; 8 is right-sized for local[32] fixtures.
DEFAULT_SALT_BUCKETS = 8


def auto_salt_buckets(
    transcripts: DataFrame, target_rows_per_task: int = 50_000, cap: int = 512
) -> int:
    """ROADMAP 3 — derive the salt fan-out from a runtime stat instead of a
    static 8: one cheap pre-pass (count_min-style groupBy count on conv_id
    only — column-pruned to one string column) takes the LARGEST
    conversation and salts it down to ~target_rows_per_task rows per task.
    Mega-conversations get more salt; uniform corpora get salt 1 (no
    artificial fan-out). The pre-pass is one partial-agg job over a single
    column — at 100 TB that's the cheapest full scan there is, and it runs
    once per batch, not per consumer."""
    return _salt_for_max_rows(_max_conv_rows(transcripts), target_rows_per_task, cap)


def _salt_for_max_rows(
    mx: int, target_rows_per_task: int = 50_000, cap: int = 512
) -> int:
    """The one formula mapping a max-conversation row count to a salt
    fan-out — shared by auto_salt_buckets and extract_pipeline's 'auto'
    branch so the two paths cannot drift."""
    return max(1, min(cap, -(-mx // target_rows_per_task)))


def _max_conv_rows(transcripts: DataFrame) -> int:
    """Largest conversation's row count — the one runtime stat both the
    salt fan-out and the ordering strategy derive from (a single-column
    partial-agg scan; the cheapest full pass there is)."""
    row = (
        transcripts.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]
    )
    return int(row.mx or 0)


def precompute_kdf_seed(
    transcripts: DataFrame,
    text_col: str = "text",
    passwords: tuple[bytes, ...] | None = None,
) -> dict:
    """AES-256 KDF pre-stage (round-6 verdict item 1).

    ISO 32000-2 Algorithm 2.B is ~1s/call pure Python BY DESIGN, and its
    lru_cache lives per python WORKER — so without this stage a corpus of
    V5/R6-encrypted PDFs re-pays (distinct encrypt dicts × workers) seconds
    of KDF. This derives each distinct salt pair ONCE: filter to encrypted
    real-PDF payloads (substring predicates, JVM-side), extract the V5/R6
    salts with a cheap Arrow kernel (pdftext.aesv3_kdf_salts — trailer
    parse only, no KDF), distinct (the shuffle carries 16-byte rows), run
    the KDF once per distinct salt ON THE EXECUTORS, and collect the tiny
    {(pwd, salt, udata) → hash} map to close over the extract UDF
    (with_extraction(kdf_seed=...)). At 100 TB the map is bounded by the
    number of DISTINCT encrypt dicts, not files — the collect is safe, and
    extract workers then do only AES-CBC, never the KDF. Misses still
    re-derive in-worker, so the seed is a pure cache.

    ``passwords`` (default spec.KNOWN_USER_PASSWORDS) extends the seed to
    the pipeline's candidate user-password book: _encryption_key's V5/R6
    validation loop tries the empty password then each candidate in
    order, so a book-locked file would otherwise re-pay ~1s/KDF per
    candidate per worker — exactly the trap the pre-pass exists to kill."""
    from .. import spec
    from ..operators.pdftext import aesv3_kdf_salts, kdf_seed_for_salts

    pwds = tuple(
        p[:127] for p in
        ((b"",) + tuple(spec.KNOWN_USER_PASSWORDS if passwords is None else passwords))
    )

    @F.pandas_udf("binary")
    def _salts(t: pd.Series) -> pd.Series:
        return t.map(
            lambda s: aesv3_kdf_salts(str(s).encode("latin-1", errors="ignore"))
            if s is not None else None
        )

    @F.pandas_udf("binary")
    def _kdf_pack(s: pd.Series) -> pd.Series:
        # per password: validation-salt hash ‖ key-salt hash (64 bytes),
        # packed in book order → len(pwds) × 64 bytes total
        def pack(b) -> bytes:
            d = kdf_seed_for_salts(bytes(b), pwds[1:])
            v, k = bytes(b)[:8], bytes(b)[8:16]
            return b"".join(d[(p, v, b"")] + d[(p, k, b"")] for p in pwds)
        return s.map(pack)

    rows = (
        transcripts.select(F.col(text_col).alias("t"))
        .filter(F.col("t").startswith("%PDF-") & F.col("t").contains("/Encrypt"))
        .select(_salts("t").alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
        .select("s", _kdf_pack("s").alias("h"))
        .collect()
    )
    seed: dict = {}
    for r in rows:
        s, h = bytes(r["s"]), bytes(r["h"])
        for i, p in enumerate(pwds):
            seed[(p, s[:8], b"")] = h[i * 64 : i * 64 + 32]
            seed[(p, s[8:16], b"")] = h[i * 64 + 32 : i * 64 + 64]
    return seed


def salted_repartition(df: DataFrame, num_partitions: int | None, salt_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """Explicit repartition before the heavy UDF stage (north rule):
    hash(conv_id) + a turn-level salt so skewed conversations split."""
    salt = F.pmod(F.hash("turn_idx", "ts"), F.lit(salt_buckets))
    key = F.hash(F.col("conv_id"), salt)
    if num_partitions:
        return df.repartition(num_partitions, key)
    return df.repartition(key)


def extract_pipeline(
    transcripts: DataFrame,
    num_partitions: int | None = None,
    with_fields: bool = True,
    with_lob: bool = True,
    salt_buckets: int | str = DEFAULT_SALT_BUCKETS,
    observation=None,
    max_conv_rows: int | None = None,
    kdf_seed: dict | bool | None = None,
    with_spans: bool = True,
    ocr: str | None = None,
) -> DataFrame:
    """Transcripts → per-turn extraction rows.

    ``salt_buckets='auto'`` runs the _max_conv_rows pre-pass once and
    derives BOTH tunables from it: the salt fan-out (auto_salt_buckets
    formula) AND the ordering strategy — when the largest conversation
    fits a single ordering bucket, the two-phase diamond buys nothing, so
    the plain conv-wide window (no counts re-scan, no offsets join) is
    used instead (ROADMAP round-5 item 2). Static configurations keep the
    two-phase default: safe at any skew, modest constant overhead.

    ``max_conv_rows`` short-circuits the pre-pass when the caller already
    knows the stat (e.g. read from the lineage stats table for this input
    snapshot — plans/lineage.py cached_max_conv_rows); ignored unless
    ``salt_buckets='auto'``.

    ``kdf_seed``: None (default) keeps plan construction side-effect-free —
    no eager pre-pass, no second scan of the text column; AES-256 misses
    derive Algorithm 2.B in-worker on first touch and memoize per worker
    (pdftext lru_cache), bounding the cost at (distinct encrypt dicts ×
    workers) instead of per file. True opts into the eager
    precompute_kdf_seed pre-pass (worth it only when the corpus is known
    to carry V5/R6 PDFs AND the caller runs ONE big batch — the extra
    full-text scan amortizes); a dict reuses a seed the caller derived
    once for the whole input (the resumable job does this —
    jobs/run_extraction.py, the right shape at 100 TB).

    ``ocr`` (None | 'auto' | 'fixture' | 'real' | 'stub') executes the OCR
    fallback on ``needs_ocr`` rows inside the pipeline (map-only,
    flag-guarded, per-row error channel) and re-scans those rows' spans
    and lob/lobs from the final text. None (default) keeps the flag-only
    contract — downstream systems run their own OCR pass.

    ``with_spans=False`` prunes the span scan inside the extract UDF
    (~half the kernel) and omits the spans column — for consumers whose
    output contract carries no spans. The default keeps the full
    north-rule contract (the resumable job and the flagship always do).

    ``with_lob`` (default) has the extract kernel classify each turn's
    extracted text (C1 ``lob``, C2 ``lobs`` — operators.classify);
    ``with_lob=False`` drops both from the kernel's return type.

    Output: (conv_id, turn_idx, ts, turn_pos, extracted_text, spans,
    needs_ocr, payload_kind [, claim_number, name, date, confidence]
    [, lob, lobs]).
    """
    from ..operators.ordering import DEFAULT_TURN_BUCKET_WIDTH

    ordering_bucket_width: int | None = DEFAULT_TURN_BUCKET_WIDTH
    if salt_buckets == "auto":
        mx = max_conv_rows if max_conv_rows is not None else _max_conv_rows(transcripts)
        salt_buckets = _salt_for_max_rows(mx)
        if mx <= DEFAULT_TURN_BUCKET_WIDTH:
            ordering_bucket_width = None  # no conv needs the fan-out
    if kdf_seed is True:
        kdf_seed = precompute_kdf_seed(transcripts)
    df = transcripts.select("conv_id", "turn_idx", "ts", "text", "tool")
    df = salted_repartition(df, num_partitions, salt_buckets)
    df = with_extraction(
        df, kdf_seed=kdf_seed or None, with_spans=with_spans, with_lob=with_lob
    )
    if ocr:
        # OCR fallback INSIDE the pipeline (reference extract_text.py:18-24
        # always falls back; here opt-in via jobs --ocr): map-only,
        # flag-guarded, before the payload column drops out of the plan.
        from ..operators.ocr import with_ocr_fallback

        df = with_ocr_fallback(df, impl=ocr)
        if with_spans or with_lob:
            df = _rescan_ocr_rows(df, with_spans, with_lob)
    df = df.drop("text", "tool")
    df = with_turn_pos(df, bucket_width=ordering_bucket_width)
    # zero-cost pipeline metrics (the A9 'knowledge base' as observe();
    # pass a pyspark Observation to read them after an action, else they
    # land in QueryExecution.observedMetrics for listeners / lineage rows).
    # Placement matters: observe sits ABOVE the two-phase ordering join (a
    # 1:1 inner join, so the counts are unchanged) — a CollectMetrics BELOW
    # it would pin the extraction columns into the ordering's counts branch
    # and force the Arrow UDF to execute twice; above the diamond, Catalyst
    # prunes the counts branch down to a NARROW re-scan (conv_id, turn_idx
    # only — a pushed-down 2-column read on parquet/Iceberg sources) with
    # zero UDF nodes (pinned by test_turn_ordering_never_full_conv_sorts).
    df = df.observe(
        observation if observation is not None else "extract_metrics",
        F.count(F.lit(1)).alias("turns"),
        F.count(F.when(F.col("needs_ocr"), 1)).alias("needs_ocr_turns"),
        F.count(F.when(F.col("error").isNotNull(), 1)).alias("error_turns"),
        F.sum(F.length("extracted_text")).alias("extracted_chars"),
    )
    if with_fields:
        df = with_parsed_fields(df, "extracted_text")
    if with_lob:
        # the kernel emitted lob/lobs; the output contract keeps them last
        df = df.select(*[c for c in df.columns if c not in ("lob", "lobs")], "lob", "lobs")
    return df


def _rescan_ocr_rows(df: DataFrame, with_spans: bool, with_lob: bool) -> DataFrame:
    """spans and lob/lobs must describe the FINAL text (the reference
    derives fields from whichever text won): one pandas UDF re-scans the
    ``needs_ocr`` rows from the current extracted_text with the kernel's
    own span scan and LOB scorer. Idempotent when OCR failed or left the
    text unchanged; untouched rows keep the kernel's values."""
    from ..operators.classify import score_lobs
    from ..operators.extract import _spans_chunked, extract_result_type

    fields = [
        f for f in extract_result_type(with_spans, with_lob).fields
        if f.name in ("spans", "lob", "lobs")
    ]

    def _rescan(text, flag):  # unannotated: struct-returning pandas UDF
        final = [t if f else "" for t, f in zip(text.fillna(""), flag.fillna(False))]
        cols = {}
        if with_spans:
            cols["spans"] = [_spans_chunked(t) if t else [] for t in final]
        if with_lob:
            cols["lob"], cols["lobs"] = score_lobs(final)
        return pd.DataFrame(cols, index=text.index)

    res = F.pandas_udf(_rescan, StructType(fields))("extracted_text", "needs_ocr")
    df = df.withColumn("_rescan", res)
    for f in fields:
        df = df.withColumn(
            f.name,
            F.when(F.col("needs_ocr"), F.col("_rescan." + f.name)).otherwise(F.col(f.name)),
        )
    return df.drop("_rescan")
