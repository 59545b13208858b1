"""PDF roundtrip queries as table rows: q49, q51, q54–q78 and q97.

Every roundtrip query checks the reference's one-library-chain contract
(extract_text.py:39-66) the same way: per document, build a carrier-shaped
PDF from (doc_id, text), extract it back, and compare the result with a
DuckDB twin computed straight from the table. A query is therefore one row
of ``ROUNDTRIPS``: its payload builder (the ``_payload_qNN`` functions of
the query packs ext7/8/9/11, which document each carrier shape), its oracle
SQL, its extraction rung and the R6 KDF seed it needs, if any.

One kernel factory (``_kernel``) runs a row in both modes. Live (the
query ``queries()`` returns) maps (doc_id, text) through the builder and
then the rung. Pinned (the data-pinned A/B arm of
scripts/bench_headline_child.py) hands pre-materialized (doc_id, pdf)
bytes straight to the same rung, so both A/B arms extract identical input
and a ratio measures extraction code, never fixture-generator drift. ``pinned_corpus`` is the build half alone, which
scripts/bench_pin_corpus.py writes to parquet.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from . import spec
from .entry_queries import _spread
from .entry_queries_ext import _docs
from .entry_queries_ext7 import (
    _payload_q49,
    _payload_q51,
    _payload_q54,
    _payload_q55,
    _payload_q56,
    _payload_q57,
    _payload_q58,
)
from .entry_queries_ext8 import (
    _Q59_SQL,
    _Q60_R6_OWNER,
    _Q63_SQL,
    _Q64_SQL,
    _Q66_SQL,
    _payload_q59,
    _payload_q60,
    _payload_q61,
    _payload_q62,
    _payload_q63,
    _payload_q64,
    _payload_q65,
    _payload_q66,
    _payload_q67,
    _payload_q68,
)
from .entry_queries_ext9 import (
    _Q69_SQL,
    _Q70_SQL,
    _Q71_SQL,
    _Q73_SQL,
    _payload_q69,
    _payload_q70,
    _payload_q71,
    _payload_q72,
    _payload_q73,
    _payload_q74,
    _payload_q75,
    _payload_q76,
    _payload_q77,
    _payload_q78,
)
from .entry_queries_ext11 import _payload_q97


def _three_line_sql(l1: str, l2: str, l3: str, mod: int, cents: str,
                    gap: bool = False) -> str:
    """DuckDB twin of the three-line page: ``<l1><doc_id>``, ``<l2> <first
    30 chars of text, whitespace-collapsed>``, ``<l3> <doc_id % mod>.<cents>``.
    ``gap`` puts a blank line before the third line (q49's paragraph gap).
    SQL literals only: the twin shares nothing with the builders."""
    sep = "chr(10) || chr(10)" if gap else "chr(10)"
    return rf"""
WITH parts AS (
  SELECT doc_id,
         '{l1}' || CAST(doc_id AS VARCHAR) AS l1,
         '{l2} ' || trim(regexp_replace(substr(text, 1, 30), '\s+', ' ', 'g')) AS l2,
         '{l3} ' || CAST(doc_id % {mod} AS VARCHAR) || '.{cents}' AS l3
  FROM documents
)
SELECT doc_id,
       '--- PAGE 1 ---' || chr(10) || l1 || chr(10) || l2 || {sep} || l3
         AS extracted_text,
       (len(trim(l1)) + len(trim(l2)) + len(trim(l3))) < 40 AS needs_ocr
FROM parts
"""


# q49's positioned page (paragraph gap) and q55's Td-advance page: every
# carrier that writes one of these two layouts shares its twin
_Q49_SQL = _three_line_sql("Claim C", "Body", "Total", 97, "00", gap=True)
_Q55_SQL = _three_line_sql("Claim C", "Body", "Total", 97, "00")


class Roundtrip(NamedTuple):
    build: Callable[[int, str], bytes]
    oracle: str
    # "geometric" extract_real_pdf_text, "tagged" extract_tagged_pdf_text,
    # "ocr" the extract kernel with the fixture OCR step, "render" the
    # fixture page render → PNG decode → template match, one row per page
    rung: str = "geometric"
    # (owner, user) passwords of the corpus's V5/R6 encrypt dict, whose
    # Algorithm 2.B hashes are derived once on the driver (_r6_kdf_seeds)
    seed: tuple[bytes, bytes] | None = None


_R6_SEED = (b"r6-owner", b"")

ROUNDTRIPS: dict[str, Roundtrip] = {
    "q49_real_pdf_roundtrip": Roundtrip(_payload_q49, _Q49_SQL),
    "q51_objstm_pdf_roundtrip": Roundtrip(_payload_q51, _Q49_SQL),
    "q54_encrypted_pdf_roundtrip": Roundtrip(_payload_q54, _Q49_SQL),
    "q55_cid_pdf_roundtrip": Roundtrip(_payload_q55, _Q55_SQL),
    "q56_aes_pdf_roundtrip": Roundtrip(_payload_q56, _Q49_SQL),
    "q57_differences_pdf_roundtrip": Roundtrip(_payload_q57, _Q55_SQL),
    "q58_aes256_pdf_roundtrip": Roundtrip(_payload_q58, _Q49_SQL, seed=_R6_SEED),
    "q59_font_encodings_pdf_roundtrip": Roundtrip(_payload_q59, _Q59_SQL),
    "q60_password_pdf_roundtrip": Roundtrip(
        _payload_q60, _Q49_SQL,
        seed=(_Q60_R6_OWNER, spec.KNOWN_USER_PASSWORDS[0]),
    ),
    "q61_filtered_pdf_roundtrip": Roundtrip(_payload_q61, _Q49_SQL),
    "q62_inline_image_pdf_roundtrip": Roundtrip(_payload_q62, _Q49_SQL),
    "q63_incremental_pdf_roundtrip": Roundtrip(_payload_q63, _Q63_SQL),
    "q64_form_xobject_pdf_roundtrip": Roundtrip(_payload_q64, _Q64_SQL),
    "q65_encrypted_objstm_pdf_roundtrip": Roundtrip(
        _payload_q65, _Q49_SQL, seed=_R6_SEED
    ),
    "q66_tagged_pdf_roundtrip": Roundtrip(_payload_q66, _Q66_SQL, rung="tagged"),
    "q67_type3_pdf_roundtrip": Roundtrip(_payload_q67, _Q55_SQL),
    "q68_hybrid_pdf_roundtrip": Roundtrip(_payload_q68, _Q49_SQL),
    "q69_scanned_pdf_ocr_roundtrip": Roundtrip(_payload_q69, _Q69_SQL, rung="ocr"),
    "q70_noisy_scan_ocr_roundtrip": Roundtrip(_payload_q70, _Q70_SQL, rung="ocr"),
    "q71_render_pages_roundtrip": Roundtrip(_payload_q71, _Q71_SQL, rung="render"),
    "q72_ctm_pdf_roundtrip": Roundtrip(
        _payload_q72, _three_line_sql("Matrix M", "Ctm", "Grand", 79, "75")
    ),
    "q73_ctm_form_roundtrip": Roundtrip(_payload_q73, _Q73_SQL),
    "q74_tm_matrix_roundtrip": Roundtrip(
        _payload_q74, _three_line_sql("Tmx T", "Text", "Due", 71, "10")
    ),
    "q75_inherited_resources_roundtrip": Roundtrip(
        _payload_q75, _three_line_sql("Inherit I", "Res", "Sum", 67, "40")
    ),
    "q76_rotate_pdf_roundtrip": Roundtrip(
        _payload_q76, _three_line_sql("Rot R", "View", "Amt", 61, "80")
    ),
    "q77_actualtext_pdf_roundtrip": Roundtrip(
        _payload_q77, _three_line_sql("Act A", "Text", "Sum", 67, "40")
    ),
    "q78_tj_kern_pdf_roundtrip": Roundtrip(
        _payload_q78, _three_line_sql("Kern K", "Text", "Net", 59, "60")
    ),
    "q97_annotations_ignored": Roundtrip(
        _payload_q97, _three_line_sql("Annot A", "Body", "Gross", 83, "10")
    ),
}


_TEXT_SCHEMA = "doc_id long, extracted_text string, needs_ocr boolean"
_SCHEMAS = {
    "pdf": "doc_id long, pdf binary",
    "geometric": _TEXT_SCHEMA,
    "tagged": _TEXT_SCHEMA,
    "ocr": _TEXT_SCHEMA + ", ocr_error string",
    "render": "doc_id long, page_no int, width int, height int, "
              "recovered_text string, render_error string",
}


def _kernel(rung: str, seeds: tuple[dict, dict] | None,
            build: Callable[[int, str], bytes] | None):
    """The mapInPandas kernel of one row. Live (``build`` given): batches
    carry (doc_id, text) and each text is built into a PDF first. Pinned
    (``build`` None): batches carry (doc_id, pdf). The rung then reads the
    bytes; rung "pdf" emits them as they are (the build half alone).
    ``seeds`` (writer, engine) go into the worker's KDF caches before the
    first batch. The kernel imports what it calls itself, so a worker
    imports the engine and the builder's pack, not this table of packs."""

    def kernel(batches):
        import pandas as pd

        from .operators import extract

        if seeds is not None:
            from .operators import pdftext

            pdftext.seed_kdf(seeds[1])
            if seeds[0]:  # live: the builder's hashes (pinned arms build nothing)
                from .fixtures import minipdf

                minipdf.seed_kdf(seeds[0])
        fn = (extract.extract_tagged_pdf_text if rung == "tagged"
              else extract.extract_real_pdf_text)
        for b in batches:
            ids = [int(d) for d in b["doc_id"]]
            if build is not None:
                pdfs = [build(d, str(t)) for d, t in zip(ids, b["text"])]
            else:
                pdfs = [bytes(p) for p in b["pdf"]]
            if rung == "pdf":
                yield pd.DataFrame({"doc_id": ids, "pdf": pdfs})
            elif rung == "ocr":
                # the extract kernel with its fixture OCR step: an empty
                # scanned page trips needs_ocr and is recovered on the
                # same row; an OCR failure reaches the error channel
                text = pd.Series([p.decode("latin-1") for p in pdfs], dtype=object)
                res = extract.extract_turn_batch(
                    text, pd.Series(None, index=text.index, dtype=object),
                    with_spans=False, with_fields=False, ocr="fixture",
                )
                yield pd.DataFrame({
                    "doc_id": ids,
                    "extracted_text": res["extracted_text"],
                    "needs_ocr": res["needs_ocr"],
                    "ocr_error": res["error"],
                })
            elif rung == "render":
                # fixture render → strict PNG decode → template match, one
                # row per page; a render failure is one render_error row
                # for its document
                from .operators.multimodal import render_pdf_pages
                from .operators.ocr import ocr_bitmap
                from .operators.raster import decode_png_gray

                rows = []
                for d, p in zip(ids, pdfs):
                    try:
                        pages = render_pdf_pages(p, impl="fixture")
                    except Exception as e:
                        rows.append((d, None, None, None, None,
                                     f"{type(e).__name__}: {e}"[:500]))
                        continue
                    for page_no, png in pages:
                        w, h, raw = decode_png_gray(png)
                        rows.append((d, page_no, w, h, ocr_bitmap(w, h, raw), None))
                yield pd.DataFrame(rows, columns=[
                    "doc_id", "page_no", "width", "height", "recovered_text",
                    "render_error"])
            else:
                yield pd.DataFrame(
                    [(d, *fn(p)) for d, p in zip(ids, pdfs)],
                    columns=["doc_id", "extracted_text", "needs_ocr"],
                )

    return kernel


_R6_SEED_CACHE: dict[tuple[bytes, bytes, bool], tuple[dict, dict]] = {}


def _r6_kdf_seeds(spark: SparkSession, owner_pwd: bytes, user_pwd: bytes,
                  writer: bool) -> tuple[dict, dict]:
    """(writer, engine) Algorithm 2.B seeds for ONE V5/R6 encrypt dict,
    derived in one Spark job: every hash is one parallel task, and each
    owner-hash task derives its u_value prerequisite in-task. 2.B costs
    ~1 s per call by design, so per-worker derivation was the round-5
    scale trap. Each side's hashes run through its OWN impl (twin
    independence). A non-empty ``user_pwd`` adds the engine's
    empty-password probe, which it tries first. ``writer=False`` (pinned
    arms: the bytes are already written) derives the engine side only and
    returns an empty writer seed. The seeds are a pure cache: a miss
    re-derives in the worker."""
    from .fixtures import minipdf

    key = (owner_pwd, user_pwd, writer)
    hit = _R6_SEED_CACHE.get(key)
    if hit is not None:
        return hit
    vsalt, ksalt, ovs, oks = minipdf.r6_salts(1)

    # the tasks go through each side's memoized entry point, so reused
    # python workers answer repeat derivations from cache (~0s). Each
    # task imports only its side's module: a task that carries the writer
    # module in its closure costs the engine-only (pinned) job ~0.2 s
    def _run(t):
        side, pwd, salt = t
        if side == "e":
            from .operators import pdftext

            return t, pdftext._hash_2b_compute(pwd, salt)
        from .fixtures import minipdf

        if side == "w":
            return t, minipdf.hash_2b(pwd, salt)
        # side == "o": owner hash — derive the u_value dependency locally
        u = minipdf.hash_2b(user_pwd, vsalt) + vsalt + ksalt
        return t, minipdf.hash_2b(owner_pwd, salt, u)

    tasks = [("e", user_pwd, vsalt), ("e", user_pwd, ksalt)]
    if user_pwd != b"":
        tasks.append(("e", b"", vsalt))  # the empty-password probe
    if writer:
        tasks += [("w", user_pwd, vsalt), ("w", user_pwd, ksalt),
                  ("o", owner_pwd, ovs), ("o", owner_pwd, oks)]
    res = dict(spark.sparkContext.parallelize(tasks, len(tasks)).map(_run).collect())
    engine_seed = {(pwd, salt, b""): h for (side, pwd, salt), h in res.items() if side == "e"}
    writer_seed = {}
    if writer:
        u_value = res[("w", user_pwd, vsalt)] + vsalt + ksalt
        writer_seed = {
            (user_pwd, vsalt, b""): res[("w", user_pwd, vsalt)],
            (user_pwd, ksalt, b""): res[("w", user_pwd, ksalt)],
            (owner_pwd, ovs, u_value): res[("o", owner_pwd, ovs)],
            (owner_pwd, oks, u_value): res[("o", owner_pwd, oks)],
        }
    _R6_SEED_CACHE[key] = (writer_seed, engine_seed)
    return writer_seed, engine_seed


def _roundtrip(spark: SparkSession, name: str, src: DataFrame, live: bool) -> DataFrame:
    """Run row ``name`` over ``src``: (doc_id, text) when live, (doc_id,
    pdf) when pinned."""
    row = ROUNDTRIPS[name]
    seeds = _r6_kdf_seeds(spark, *row.seed, live) if row.seed else None
    kernel = _kernel(row.rung, seeds, row.build if live else None)
    return src.mapInPandas(kernel, schema=_SCHEMAS[row.rung])


def pinned_corpus(docs: DataFrame, name: str) -> DataFrame:
    """(doc_id, text) → the (doc_id, pdf) corpus the pinned arm of
    ``name`` reads: the live kernel's build half."""
    return docs.select("doc_id", "text").mapInPandas(
        _kernel("pdf", None, ROUNDTRIPS[name].build), schema=_SCHEMAS["pdf"]
    )


def live_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    """(spark, sf_dir) → DataFrame: row ``name``'s live query."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _roundtrip(spark, name, _docs(spark, sf_dir).select("doc_id", "text"), True)

    return run


def pinned_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """name → (spark, pinned_parquet_path) → DataFrame: each live query's
    extraction over a materialized (doc_id, pdf) corpus."""

    def pinned(name: str):
        def run(spark: SparkSession, path: str) -> DataFrame:
            # the materialized corpus can be one small file = ONE input
            # split; without the spread every per-doc kernel serializes
            # onto a single core (q58 pinned ran 5000 docs in 1 task)
            src = _spread(spark.read.parquet(path).select("doc_id", "pdf"), "doc_id")
            return _roundtrip(spark, name, src, False)

        return run

    return {name: pinned(name) for name in ROUNDTRIPS}
