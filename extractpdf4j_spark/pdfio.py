"""Real-PDF ingestion seam: PDF bytes → the interleaved document model.

The reference's front door is ``PDDocument.load`` + ``PDFTextStripper``
for the text layer (StreamParser.java:54,106-117) and a PDFBox page
render for rasters (ImagePdfUtils.java:54-57). This sandbox has no PDF
library, so — exactly like the OCR seam (ocr.py ``PytesseractBackend``)
— the bytes→pages step is a backend protocol with an import-gated
production implementation (:class:`Pypdfium2Backend`) and a
deterministic fake (:class:`FakePdfBackend`) that keeps every
surrounding piece of Spark dataflow real and testable: the binaryFile
scan, the Arrow-batched decode UDF, span/media assembly, and the
hand-off into :func:`extractpdf4j_spark.pipeline.extract`.

Scale notes (100 TB): decode output feeds BOTH the documents table and
the media table; ``read_pdf_corpus`` stages the decoded rows to parquet
when given ``stage_dir`` so PDF decoding runs ONCE per corpus instead of
once per consumer, and a corrupt PDF becomes a malformed-marker row (the
pipeline turns it into an ``error`` status) instead of a job failure.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (BinaryType, IntegerType, StringType,
                               StructField, StructType)

from .docmodel import OCR_WORD_COLS, encode_media_payload, encode_text_span

# one decoded row per span the PDF produces; media rows additionally
# carry the media payload (docmodel.encode_media_payload's flat layout)
# for the media side table
DECODED_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("kind", StringType()),       # text | media | empty
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
    StructField("page", IntegerType()),
    StructField("payload", BinaryType()),
])

MALFORMED_MARKER = "MALFORMED-PDF"  # no 'p=' header → PAGE_MALFORMED → 'error'


@dataclass
class PageDecode:
    """One decoded PDF page: glyph runs (PDF points, origin bottom-left —
    the convention of docmodel.encode_text_span) and/or a rendered
    grayscale raster for pages without a text layer."""
    page: int
    runs: list[tuple[float, float, float, float, str]] = field(
        default_factory=list)
    image: np.ndarray | None = None
    dpi: float = 300.0
    page_width_pt: float = 612.0
    page_height_pt: float = 792.0
    words: pd.DataFrame | None = None   # optional pre-OCR'd word layer


class PdfDecodeBackend:
    """Protocol: PDF bytes → decoded pages."""

    def decode(self, data: bytes) -> list[PageDecode]:
        raise NotImplementedError


class Pypdfium2Backend(PdfDecodeBackend):
    """Production decode via pypdfium2 (absent in this sandbox).

    Text layer per char-box in PDF points origin bottom-left — the same
    stream the reference collects from PDFTextStripper
    (StreamParser.java:106-117); pages without a text layer render to a
    grayscale raster at ``dpi`` like ImagePdfUtils.java:54-57 (render
    everything with ``render_textless_only=False``, the hybrid default
    in the reference which rasterizes every page for lattice/OCR)."""

    def __init__(self, dpi: float = 300.0,
                 render_textless_only: bool = True) -> None:
        try:
            import pypdfium2  # noqa: F401
            self._pdfium = pypdfium2
        except ImportError as e:  # pragma: no cover - environment-dependent
            raise NotImplementedError(
                "pypdfium2 is not installed in this environment; use "
                "FakePdfBackend for shape tests or install pypdfium2"
            ) from e
        self.dpi = dpi
        self.render_textless_only = render_textless_only

    def decode(self, data: bytes) -> list[PageDecode]:  # pragma: no cover
        pdfium = self._pdfium
        doc = pdfium.PdfDocument(data)
        out: list[PageDecode] = []
        try:
            for i in range(len(doc)):
                page = doc[i]
                w_pt, h_pt = page.get_size()
                tp = page.get_textpage()
                runs: list[tuple[float, float, float, float, str]] = []
                for j in range(tp.count_chars()):
                    left, bottom, right, top = tp.get_charbox(j)
                    ch = tp.get_text_range(j, 1)
                    if ch.strip() == "":
                        continue
                    runs.append((left, bottom, right - left, top - bottom, ch))
                image = None
                if not runs or not self.render_textless_only:
                    bitmap = page.render(scale=self.dpi / 72.0,
                                         grayscale=True)
                    arr = bitmap.to_numpy()
                    image = arr[:, :, 0] if arr.ndim == 3 else arr
                out.append(PageDecode(page=i + 1, runs=runs, image=image,
                                      dpi=self.dpi, page_width_pt=w_pt,
                                      page_height_pt=h_pt))
        finally:
            doc.close()
        return out


# ---------------------------------------------------------------------------
# Deterministic fake (shape tests; mirrors ocr.py's EmbeddedWordsBackend role)
# ---------------------------------------------------------------------------

FAKE_MAGIC = b"%FAKEPDF\n"


def make_fake_pdf(pages: list[dict]) -> bytes:
    """Build fake-PDF bytes for tests. Each page dict:
    ``{"page": 1, "runs": [[x, y, w, h, "tok"], ...]}`` and/or
    ``{"scan": {"width_px": W, "height_px": H, "dpi": D,
                "words": [[left, top, w, h, conf, text, block, par,
                           line, word], ...]}}``."""
    return FAKE_MAGIC + json.dumps({"pages": pages}).encode()


class FakePdfBackend(PdfDecodeBackend):
    """Parses :func:`make_fake_pdf` bytes into decoded pages; raises on
    anything else (so malformed-input routing is testable)."""

    def decode(self, data: bytes) -> list[PageDecode]:
        if not data.startswith(FAKE_MAGIC):
            raise ValueError("not a fake PDF")
        spec = json.loads(data[len(FAKE_MAGIC):])
        out: list[PageDecode] = []
        for p in spec["pages"]:
            runs = [tuple(r[:4]) + (str(r[4]),) for r in p.get("runs", [])]
            image = None
            dpi = 300.0
            words = None
            w_pt, h_pt = p.get("size_pt", (612.0, 792.0))
            if "scan" in p:
                s = p["scan"]
                dpi = float(s.get("dpi", 300.0))
                image = np.full((int(s["height_px"]), int(s["width_px"])),
                                255, dtype=np.uint8)
                words = pd.DataFrame(s.get("words", []),
                                     columns=OCR_WORD_COLS)
            out.append(PageDecode(page=int(p["page"]), runs=runs,
                                  image=image, dpi=dpi,
                                  page_width_pt=float(w_pt),
                                  page_height_pt=float(h_pt), words=words))
        return out


def default_pdf_backend() -> PdfDecodeBackend:
    """The production factory. Unlike the OCR seam there is no silent
    fallback: a fake decoder would emit garbage for real PDF bytes, so
    absence of pypdfium2 raises with an install hint."""
    return Pypdfium2Backend()


# ---------------------------------------------------------------------------
# Spark plumbing: binaryFile scan → decoded rows → (documents, media)
# ---------------------------------------------------------------------------

def _doc_id_from_path(path: str) -> str:
    name = path.rsplit("/", 1)[-1]
    return name[:-4] if name.lower().endswith(".pdf") else name


def _encode_pages(pages: list[PageDecode], ref_prefix: str):
    """Decoded pages → one (kind, text, media_ref, offset, page, payload)
    span per text layer and per raster, in page order. The Spark path
    (``_make_decode_pdfs``, prefix ``"{doc_id}:"``) and the in-process
    path (:func:`decode_pages_to_document`, empty prefix) both encode
    through here, so their spans agree."""
    off = 0
    for pg in pages:
        if pg.runs:
            yield ("text", encode_text_span(pg.page, pg.runs), "", off,
                   pg.page, None)
            off += 1
        if pg.image is not None:
            yield ("media", "", f"{ref_prefix}p{pg.page}", off, pg.page,
                   encode_media_payload(pg.page, pg.image, pg.dpi,
                                        pg.page_width_pt, pg.page_height_pt,
                                        pg.words))
            off += 1


def _make_decode_pdfs(backend_factory):
    from .pipeline import _forget_zip_importers
    cols = [f.name for f in DECODED_SCHEMA.fields]

    def decode_pdfs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _forget_zip_importers()
        backend = backend_factory()
        for pdf in batches:
            rows: list[tuple] = []
            for t in pdf.itertuples(index=False):
                doc_id = _doc_id_from_path(str(t.path))
                try:
                    pages = backend.decode(bytes(t.content))
                except NotImplementedError:
                    raise  # missing library is a deploy error, not data
                except Exception:
                    # corrupt bytes become a malformed text span: the
                    # pipeline routes it to PAGE_MALFORMED → 'error'
                    # status (a 100 TB job never dies on one document)
                    rows.append((doc_id, "text", MALFORMED_MARKER, "",
                                 0, -1, None))
                    continue
                n = len(rows)
                rows.extend((doc_id, *span)
                            for span in _encode_pages(pages, f"{doc_id}:"))
                if len(rows) == n:  # zero-page/empty PDF still yields a row
                    rows.append((doc_id, "empty", "", "", 0, -1, None))
            yield pd.DataFrame(rows, columns=cols)

    return decode_pdfs


def decode_pages_to_document(pages: list[PageDecode]
                             ) -> tuple[list[dict], dict[str, bytes]]:
    """Decoded pages → (spans, media_payloads) in the single-document
    model :func:`local.extract_document` consumes — the in-process
    counterpart of the rows `_make_decode_pdfs` emits for the Spark
    path (both encode through ``_encode_pages``)."""
    spans: list[dict] = []
    media: dict[str, bytes] = {}
    for kind, text, ref, off, _page, payload in _encode_pages(pages, ""):
        spans.append({"kind": kind, "text": text, "media_ref": ref,
                      "offset": off})
        if payload is not None:
            media[ref] = payload
    return spans, media


def decoded_to_documents(decoded: DataFrame) -> DataFrame:
    """documents(doc_id, spans) from decoded rows — native assembly
    (collect_list + array_sort by offset; the reorder transform runs once
    per document over an in-memory array, not per glyph)."""
    sp = F.when(F.col("kind") != "empty",
                F.struct("offset", "kind", "text", "media_ref"))
    docs = (decoded.groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(sp)).alias("_raw")))
    spans = F.transform(
        F.col("_raw"),
        lambda s: F.struct(s.kind.alias("kind"), s.text.alias("text"),
                           s.media_ref.alias("media_ref"),
                           s.offset.alias("offset")))
    return docs.select("doc_id", spans.alias("spans"))


def decoded_to_media(decoded: DataFrame) -> DataFrame:
    """media(media_ref, doc_id, page, payload) from decoded rows."""
    return (decoded.filter(F.col("kind") == "media")
            .select("media_ref", "doc_id", "page", "payload"))


def read_pdf_corpus(spark: SparkSession, path: str,
                    backend_factory=default_pdf_backend,
                    stage_dir: str | None = None
                    ) -> tuple[DataFrame, DataFrame]:
    """PDF files under ``path`` → (documents, media) DataFrames.

    With ``stage_dir`` the decoded rows are written to parquet once and
    both outputs read from the stage — at corpus scale this halves the
    decode work (documents and media would otherwise each re-run the
    decode UDF) and makes ingestion resumable/inspectable. Without it the
    two outputs share the lazy decode plan (fine for small runs/tests).
    """
    bf = spark.read.format("binaryFile").load(path).select("path", "content")
    decoded = bf.mapInPandas(_make_decode_pdfs(backend_factory),
                             schema=DECODED_SCHEMA)
    if stage_dir:
        decoded.write.mode("overwrite").parquet(stage_dir)
        decoded = spark.read.parquet(stage_dir)
    return decoded_to_documents(decoded), decoded_to_media(decoded)
