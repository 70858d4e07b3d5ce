"""Vectorized per-page extraction kernels (numpy/pandas, Arrow-batch hot path).

:func:`page_extractor` is the one per-page strategy fan-out: the Spark
stage-1 batch function (which ``local.extract_document`` runs in-process)
and the debug sink run a page through it, so they build the OCR backend
and call the kernels the same way.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from ..config import ExtractConfig, MODE_LATTICE, MODE_STREAM
from ..docmodel import GlyphRuns, PagePayload
from ..ocr import OcrBackend, default_backend
from ..table import Table
from .stream import stream_extract_page
from .lattice import lattice_extract_page
from .ocrstream import ocrstream_extract_page

__all__ = ["stream_extract_page", "lattice_extract_page",
           "ocrstream_extract_page", "page_extractor"]

PageResult = tuple[str, Table, int, bool]


def page_extractor(cfg: ExtractConfig, backend: OcrBackend | None = None
                   ) -> Callable[[GlyphRuns | None, PagePayload | None],
                                 Iterator[PageResult]]:
    """Per-page fan-out over ``cfg.strategies()``, in that order.

    The OCR backend is built once here unless one is passed in. The
    returned function yields ``(strategy, table, ocr_fallbacks,
    header_found)`` per strategy; it is a generator so that when a later
    kernel raises, callers have already seen the earlier strategies'
    tables for that page."""
    if backend is None:
        backend = default_backend(cfg.tess_lang, cfg.tess_oem,
                                  cfg.ocr_backend)
    strategies = cfg.strategies()

    def extract_page(glyphs: GlyphRuns | None, payload: PagePayload | None
                     ) -> Iterator[PageResult]:
        for strat in strategies:
            if strat == MODE_STREAM:
                table = (stream_extract_page(
                    glyphs.x, glyphs.y, glyphs.w, glyphs.tokens,
                    cfg.strip_text, cfg.columns, cfg.table_areas)
                    if glyphs is not None else Table([], [], []))
                yield strat, table, 0, False
            elif strat == MODE_LATTICE:
                table, n_ocr = lattice_extract_page(
                    payload, glyphs, backend, cfg.min_cell_w, cfg.min_cell_h)
                yield strat, table, n_ocr, False
            else:
                table, found = ocrstream_extract_page(
                    payload, backend, cfg.required_headers, psm=cfg.tess_psm)
                yield strat, table, 0, found

    return extract_page
