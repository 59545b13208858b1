"""The end-to-end extraction pipeline (reference lifecycles E1/E2/E3
collapsed into one DataFrame program — SURVEY §3).

Shape:

    scan transcripts
      → salted repartition  (hash(conv_id) ⊕ salt below conv granularity —
                             a skewed multi-million-turn conversation is
                             spread across S tasks for the map-only UDF
                             stage; safe because extraction is per-turn
                             independent, SURVEY §7 risk 5)
      → extract_turn_batch  (Arrow UDF, pandas-free: payload sniff, HTML
                             boilerplate strip, pseudo-PDF layout parse,
                             opt-in OCR fallback, span extraction, LOB
                             keyword scoring)
      → stable ordering     (row_number over conv_id ordered by turn_idx,ts)
      → field projections   (native regexp_extract ladders)

The two shuffles are exactly the ones the north rule prescribes: the
explicit pre-UDF repartition and the ordering window. The one Arrow
kernel carries every per-turn Python step (LOB classification included:
keyword counting is C-speed ``str.count`` there, a byte loop in Catalyst;
OCR too: a chained Python UDF would hold its own worker and re-ship the
payload);
everything after it is narrow and stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.extract import with_extraction
from ..operators.ordering import with_turn_pos
from ..functions.fields import with_parsed_fields

# Salt fan-out for the map stage. At cluster scale set ≈ (executor cores ×
# 2-3) / distinct-heavy-convs; 8 is right-sized for local[32] fixtures.
DEFAULT_SALT_BUCKETS = 8


def _salt_for_max_rows(
    mx: int, target_rows_per_task: int = 50_000, cap: int = 512
) -> int:
    """The one formula mapping a max-conversation row count to a salt
    fan-out: the largest conversation is salted down to about
    ``target_rows_per_task`` rows per task, so mega-conversations get more
    salt and uniform corpora get salt 1 (no artificial fan-out)."""
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


def precompute_kdf_seed(transcripts: DataFrame, text_col: str = "text") -> dict:
    """AES-256 KDF pre-stage: {(password, salt, b"") → Algorithm 2.B hash}
    for every V5/R6 encrypt dict in the corpus.

    ISO 32000-2 Algorithm 2.B is ~1s/call pure Python BY DESIGN, and its
    lru_cache lives per python WORKER — so without this stage a corpus of
    V5/R6-encrypted PDFs re-pays (distinct encrypt dicts × workers) seconds
    of KDF. This derives each distinct salt pair ONCE: filter to encrypted
    real-PDF payloads (substring predicates, JVM-side), extract the V5/R6
    salts with a cheap Arrow kernel (pdftext.aesv3_kdf_salts — trailer
    parse only, no KDF; None for any other encryption), distinct (the
    shuffle carries 16-byte rows), run the KDF once per distinct salt ON
    THE EXECUTORS, and collect the tiny map to close over the extract UDF
    (with_extraction(kdf_seed=...)). At 100 TB the map is bounded by the
    number of DISTINCT encrypt dicts, not files — the collect is safe, and
    extract workers then do only AES-CBC, never the KDF. Misses still
    re-derive in-worker, so the seed is a pure cache.

    The seed covers the pipeline's candidate user-password book
    (spec.KNOWN_USER_PASSWORDS): _encryption_key's V5/R6 validation loop
    tries the empty password then each candidate in order, so a book-locked
    file would otherwise re-pay ~1s/KDF per candidate per worker — exactly
    the trap the pre-pass exists to kill. The seed holds
    2 × (1 + len(KNOWN_USER_PASSWORDS)) entries per distinct salt pair
    (validation and key salt, empty password first)."""
    from .. import spec

    pwds = tuple(p[:127] for p in (b"", *spec.KNOWN_USER_PASSWORDS))
    seed: dict = {}
    for r in _kdf_salt_frame(transcripts, text_col, pwds).collect():
        if r["s"] is None:  # encrypted, but with no V5/R6 salts
            continue
        s, h = bytes(r["s"]), bytes(r["h"])
        for i, p in enumerate(pwds):
            seed[(p, s[:8], b"")] = h[i * 64 : i * 64 + 32]
            seed[(p, s[8:16], b"")] = h[i * 64 + 32 : i * 64 + 64]
    return seed


def _kdf_salt_frame(
    transcripts: DataFrame, text_col: str, pwds: tuple[bytes, ...]
) -> DataFrame:
    """precompute_kdf_seed's pre-pass: one (s, h) row per distinct salt
    pair ``s`` (validation ‖ key salt, 16 bytes) with ``h`` its packed
    hashes, plus at most one null-``s`` row for the encrypted PDFs that
    carry no V5/R6 salts. That row is kept on purpose: a filter on the
    ``_salts`` output is pushed below its projection, so Catalyst would
    evaluate ``_salts`` twice in one stage — two Python workers per task
    and every encrypted PDF's bytes sent to Python twice."""
    from ..operators.extract import arrow_column
    from ..operators.pdftext import aesv3_kdf_salts, kdf_seed_for_salts

    def _salts(t):  # unannotated: arrow_udf's default is scalar (eval type 250)
        import pyarrow as pa

        return arrow_column([
            None if s is None else aesv3_kdf_salts(s.encode("latin-1", errors="ignore"))
            for s in t.to_pylist()
        ], pa.binary())

    def _kdf_pack(s):
        import pyarrow as pa

        # per password: validation-salt hash ‖ key-salt hash (64 bytes),
        # packed in book order → len(pwds) × 64 bytes total
        def pack(b: bytes | None) -> bytes | None:
            if b is None:
                return None
            d = kdf_seed_for_salts(b, pwds[1:])
            v, k = b[:8], b[8:16]
            return b"".join(d[(p, v, b"")] + d[(p, k, b"")] for p in pwds)

        return arrow_column([pack(b) for b in s.to_pylist()], pa.binary())

    _salts = F.arrow_udf(_salts, "binary")
    _kdf_pack = F.arrow_udf(_kdf_pack, "binary")

    return (
        transcripts.select(F.col(text_col).alias("t"))
        .filter(F.col("t").startswith("%PDF-") & F.col("t").contains("/Encrypt"))
        .select(_salts("t").alias("s"))
        .distinct()
        .select("s", _kdf_pack("s").alias("h"))
    )


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
    salt_buckets: int | str = DEFAULT_SALT_BUCKETS,
    max_conv_rows: int | None = None,
    kdf_seed: dict | None = None,
    ocr: str | None = None,
) -> DataFrame:
    """Transcripts → per-turn extraction rows.

    ``salt_buckets='auto'`` runs the _max_conv_rows pre-pass once and
    derives BOTH tunables from it: the salt fan-out (_salt_for_max_rows)
    AND the ordering strategy — when the largest conversation
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
    workers) instead of per file. A dict reuses a seed the caller derived
    once for the whole input with precompute_kdf_seed (the resumable job
    does this — jobs/run_extraction.py, the right shape at 100 TB); an
    empty seed may be passed as False.

    ``ocr`` (None | 'auto' | 'fixture' | 'real') has the extract kernel
    run the OCR fallback on ``needs_ocr`` rows (per-row error channel)
    before it scans spans and lob/lobs, so those describe the final text.
    None (default) keeps the flag-only contract — downstream systems run
    their own OCR pass.

    The extract kernel also classifies each turn's extracted text (C1
    ``lob``, C2 ``lobs`` — operators.classify).

    Output: (conv_id, turn_idx, ts, extracted_text, spans, needs_ocr,
    payload_kind, error, turn_pos, claim_number, name, date, confidence,
    lob, lobs).
    """
    from ..operators.ordering import DEFAULT_TURN_BUCKET_WIDTH

    ordering_bucket_width: int | None = DEFAULT_TURN_BUCKET_WIDTH
    if salt_buckets == "auto":
        mx = max_conv_rows if max_conv_rows is not None else _max_conv_rows(transcripts)
        salt_buckets = _salt_for_max_rows(mx)
        if mx <= DEFAULT_TURN_BUCKET_WIDTH:
            ordering_bucket_width = None  # no conv needs the fan-out
    df = transcripts.select("conv_id", "turn_idx", "ts", "text", "tool")
    df = salted_repartition(df, num_partitions, salt_buckets)
    df = with_extraction(df, kdf_seed=kdf_seed or None, with_lob=True, ocr=ocr)
    df = df.drop("text", "tool")
    df = with_turn_pos(df, bucket_width=ordering_bucket_width)
    df = with_parsed_fields(df, "extracted_text")
    # the kernel emitted lob/lobs; the output contract keeps them last
    return df.select(*[c for c in df.columns if c not in ("lob", "lobs")], "lob", "lobs")
