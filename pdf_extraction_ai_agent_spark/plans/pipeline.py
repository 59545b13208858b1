"""The end-to-end extraction pipeline (reference lifecycles E1/E2/E3
collapsed into one DataFrame program — SURVEY §3).

Shape:

    scan transcripts
      → salted repartition  (hash of (conv_id, floor(turn_idx / 65536)):
                             the order-respecting turn bucket is the salt,
                             so a multi-million-turn conversation spreads
                             over one task per bucket; conv_id alone when
                             'auto' finds no conversation past one bucket)
      → stable ordering     (row_number per (conv_id, bucket) ordered by
                             turn_idx, ts, plus per-bucket offsets joined
                             on the same keys — in the repartition's own
                             partitioning, no exchange on the turns' side;
                             one conv_id window on the single-window plan)
      → extract_turn_batch  (Arrow UDF, pandas-free: payload sniff, HTML
                             boilerplate strip, pseudo-PDF layout parse,
                             opt-in OCR fallback, span extraction, F2
                             field ladders, LOB keyword scoring)

Each turn crosses one exchange, the explicit pre-UDF repartition the north
rule prescribes, and is parsed once, in the one Arrow kernel. The offsets
come from a second scan of the key columns only (conv_id, turn_idx): a
partial count per (conversation, bucket), two small shuffles of ~1 row per
(conversation, bucket), and a broadcast or co-partitioned join. The kernel
carries every per-turn Python step: the claim/name/date fields use Python
``re`` there (the reference's own semantics, which Catalyst's Java regex
does not share), LOB keyword counting is C-speed ``str.count`` (a byte loop
in Catalyst), and OCR rides it too (a chained Python UDF would hold its own
worker and re-ship the payload). Nothing after the kernel moves a row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.extract import with_extraction
from ..operators.ordering import (
    DEFAULT_TURN_BUCKET_WIDTH,
    number_turns,
    turn_partition_keys,
)


def _max_conv_rows(transcripts: DataFrame) -> int:
    """Largest conversation's row count — the one runtime stat the
    partitioning and ordering strategy derive from (a single-column
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


def salted_repartition(
    df: DataFrame,
    num_partitions: int | None,
    bucket_width: int | None = DEFAULT_TURN_BUCKET_WIDTH,
) -> DataFrame:
    """Explicit repartition before the heavy UDF stage (north rule), on
    the ordering's own keys (operators.ordering.turn_partition_keys): a
    conversation longer than ``bucket_width`` turns splits across one hash
    slot per turn bucket, and the ordering needs no exchange of its own."""
    keys = turn_partition_keys(bucket_width)
    if num_partitions:
        return df.repartition(num_partitions, *keys)
    return df.repartition(*keys)


def extract_pipeline(
    transcripts: DataFrame,
    num_partitions: int | None = None,
    salt_buckets: str | None = None,
    max_conv_rows: int | None = None,
    kdf_seed: dict | None = None,
    ocr: str | None = None,
) -> DataFrame:
    """Transcripts → per-turn extraction rows.

    ``salt_buckets=None`` (default) salts by turn bucket and orders
    two-phase: safe at any skew, at the price of a key-column re-scan and
    an offsets join. ``salt_buckets='auto'`` runs the _max_conv_rows
    pre-pass once; when the largest conversation fits one turn bucket it
    partitions on conv_id alone and numbers turns with one conv-wide
    window (no counts re-scan, no offsets join). The turn bucket is the
    only salt, so an integer fan-out is refused.

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
    before it scans spans, fields and lob/lobs, so those describe the final
    text. None (default) keeps the flag-only contract — downstream systems
    run their own OCR pass.

    The extract kernel also parses the F2 fields (claim_number, name,
    date, confidence — the reference's parse_fields ladders) and
    classifies each turn (C1 ``lob``, C2 ``lobs`` — operators.classify).

    Output: (conv_id, turn_idx, ts, extracted_text, spans, needs_ocr,
    payload_kind, error, turn_pos, claim_number, name, date, confidence,
    lob, lobs).
    """
    from ..operators import ordering

    if salt_buckets not in (None, "auto"):
        raise ValueError(
            f"salt_buckets must be None or 'auto' (the turn bucket is the salt): {salt_buckets!r}"
        )
    width: int | None = ordering.DEFAULT_TURN_BUCKET_WIDTH
    if salt_buckets == "auto":
        mx = max_conv_rows if max_conv_rows is not None else _max_conv_rows(transcripts)
        if mx <= width:
            width = None  # no conversation needs the fan-out
    src = transcripts.select("conv_id", "turn_idx", "ts", "text", "tool")
    df = number_turns(salted_repartition(src, num_partitions, width), src, "turn_pos", width)
    df = with_extraction(df, kdf_seed=kdf_seed or None, with_fields=True, ocr=ocr)
    return df.select(
        "conv_id", "turn_idx", "ts", "extracted_text", "spans", "needs_ocr",
        "payload_kind", "error", "turn_pos", "claim_number", "name", "date",
        "confidence", "lob", "lobs",
    )
