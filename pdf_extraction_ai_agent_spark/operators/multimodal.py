"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so the DECODE step is the
deterministic fake ``decode_stub``; a real codec (PIL / pyav) plugs in at
its call site. Everything Spark-side — schema, partition sizing, UDF signatures, batch shapes — is
real and tested.

Scale notes: binary payloads dominate partition size, so the pre-UDF
repartition sizes on TOTAL BYTES (payload_bytes column), not row count;
Arrow batches are already capped by session.ARROW_MAX_RECORDS_PER_BATCH.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pandas stays out of module import: this module is on
    import pandas as pd  # the registry import path (fresh-JVM weight, r8)

MEDIA_META_SCHEMA = (
    "media_id long, kind string, payload_bytes long, digest string, "
    "fake_width int, fake_height int, frame_count int"
)


def decode_stub(payload: bytes, kind: str) -> dict:
    """Deterministic fake decode: metadata derived from the payload digest —
    stable across runs/executors so tests can assert on it."""
    digest = hashlib.md5(payload).hexdigest()
    seed = int(digest[:8], 16)
    return {
        "digest": digest,
        "fake_width": 64 + seed % 1024,
        "fake_height": 64 + (seed >> 10) % 1024,
        "frame_count": 1 if kind == "image" else 1 + seed % 300,
    }


def extract_media_meta(df: DataFrame, id_col: str = "media_id",
                       payload_col: str = "payload", kind_col: str = "kind") -> DataFrame:
    """mapInPandas over binary payloads → typed metadata rows."""
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [
                decode_stub(p if p is not None else b"", k)
                for p, k in zip(pdf[payload_col], pdf[kind_col])
            ]
            out = pd.DataFrame(metas)
            out.insert(0, "media_id", pdf[id_col].values)
            out.insert(1, "kind", pdf[kind_col].values)
            out.insert(2, "payload_bytes", [len(p) if p is not None else 0 for p in pdf[payload_col]])
            yield out[["media_id", "kind", "payload_bytes", "digest",
                       "fake_width", "fake_height", "frame_count"]]

    cols = df.select(F.col(id_col), F.col(payload_col), F.col(kind_col))
    return cols.mapInPandas(batches, schema=MEDIA_META_SCHEMA)


def render_pdf_pages_real(payload, dpi: int = 200) -> list[tuple[int, bytes]]:
    """PyMuPDF render, per the reference chain. Raises when fitz is absent
    (captured by the error channel, never a job abort)."""
    data = payload if isinstance(payload, (bytes, bytearray)) else str(payload).encode(
        "latin-1", errors="ignore"
    )
    try:
        import fitz  # type: ignore
    except ImportError:
        raise RuntimeError(
            "PDF page render requires PyMuPDF (fitz) — install on the cluster "
            "image (reference: claude_pdf_image_extractor.py:62-74)"
        ) from None
    doc = fitz.open(stream=data, filetype="pdf")
    return [(i + 1, doc[i].get_pixmap(dpi=dpi).tobytes("png")) for i in range(doc.page_count)]


def render_pdf_pages_fixture(payload) -> list[tuple[int, bytes]]:
    """EXECUTED in-sandbox render (r7, the S7 closure — same pattern as
    the fixture OCR rung): PDF bytes → one real PNG per page, without
    fitz, for the shapes the dependency-free tokenizer models.

    - Text-layer documents: each page's reading-order body is rasterized
      onto the fixture scan grid with the spec 5x7 font
      (operators/raster.py::rasterize_text_page; small-caps mapping,
      unknown glyphs raise into the error channel).
    - Scanned documents (no text layer at all): the embedded grayscale
      image XObjects pass through — one PNG per page image, the raster a
      real renderer would produce for an image-only page (modulo dpi).

    Honest scope: generated/modeled PDFs only; mixed text+image pages
    render their text layer; real-world PDFs that the tokenizer cannot
    parse raise — real render still needs fitz on a cluster image."""
    from .. import spec
    from .pdftext import assemble_reading_order, tokenize_pdf_runs
    from .raster import encode_png_gray, rasterize_text_page

    data = payload if isinstance(payload, (bytes, bytearray)) else str(payload).encode(
        "latin-1", errors="ignore"
    )
    pages_runs = tokenize_pdf_runs(data, passwords=spec.KNOWN_USER_PASSWORDS)
    if pages_runs is None:
        raise RuntimeError(
            "payload outside the dependency-free tokenizer's domain — real "
            "render needs PyMuPDF (fitz) on a cluster image"
        )
    bodies = assemble_reading_order(pages_runs)
    if any(b.strip() for b in bodies):
        return [
            (i + 1, encode_png_gray(*rasterize_text_page(body.split("\n"))))
            for i, body in enumerate(bodies)
        ]
    # image-only (scanned) shape: one image XObject per page, file order
    from .ocr import _scan_images

    images = _scan_images(data)
    if not images:
        raise RuntimeError("no text layer and no scan images — nothing to render")
    if len(images) != len(bodies):
        raise RuntimeError(
            "scan image count != page count — outside the generated-scan "
            "contract (real render needs fitz)"
        )
    return [
        (i + 1, encode_png_gray(w, h, raw))
        for i, (w, h, raw) in enumerate(images)
    ]


def render_pdf_pages(payload, dpi: int = 200, impl: str = "auto") -> list[tuple[int, bytes]]:
    """S7 — PDF → per-page PNG bytes (reference:
    claude_pdf_image_extractor.py:62-74 rasterizes with pdf2image/fitz for
    the LLM-image path). ``impl='real'`` requires PyMuPDF; ``'fixture'``
    is the executed dependency-free rung (render_pdf_pages_fixture);
    ``'auto'`` prefers real-when-installed and falls back to the fixture
    rung. Returns [(page_no starting at 1, png_bytes)]."""
    if impl == "real":
        return render_pdf_pages_real(payload, dpi=dpi)
    if impl == "fixture":
        return render_pdf_pages_fixture(payload)
    if impl == "auto":
        try:
            import fitz  # type: ignore  # noqa: F401

            return render_pdf_pages_real(payload, dpi=dpi)
        except ImportError:
            return render_pdf_pages_fixture(payload)
    raise ValueError(f"unknown render impl {impl!r}")
