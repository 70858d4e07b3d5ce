"""Single-document library API (no Spark required).

The reference's library quickstart is one PDF in, tables out
(``new HybridParser(path).pages("all").parse()``, README.md:82-95). The
Spark engine's equivalent for a single interleaved document runs the same
kernels in-process — useful for debugging, notebooks, and the service-style
one-document call the reference's HTTP endpoint served
(PdfExtractController.java:30-57).
"""

from __future__ import annotations

from .config import ExtractConfig
from .docmodel import decode_media_payload, decode_text_span, serialize_tables
from .kernels import page_extractor
from .ocr import OcrBackend
from .pagerange import is_all, parse_pages
from .scoring import STATUS_OK, score_cells_vectorized, select_strategy
from .table import Table


def extract_document(spans: list[dict],
                     media_payloads: dict[str, bytes] | None = None,
                     cfg: ExtractConfig = ExtractConfig(),
                     backend: OcrBackend | None = None):
    """Extract one interleaved document. Returns (output_spans, status,
    strategy, tables) with the same semantics as the Spark pipeline's
    per-document result: the same per-page fan-out
    (kernels.page_extractor) and selection rule (scoring.select_strategy)."""
    extract_page = page_extractor(cfg, backend)
    media_payloads = media_payloads or {}

    pages: dict[int, list] = {}
    for s in spans:
        if s["kind"] == "text":
            g = decode_text_span(s["text"])
            pages.setdefault(g.page, [None, None])[0] = g
        elif s["kind"] == "media" and s["media_ref"] in media_payloads:
            p = decode_media_payload(media_payloads[s["media_ref"]])
            pages.setdefault(p.page, [None, None])[1] = p

    selected = parse_pages(cfg.pages)
    page_nos = sorted(pages)
    if not is_all(selected):
        page_nos = [p for p in page_nos if p in selected]

    per: dict[str, list[tuple[int, Table]]] = {s: [] for s in cfg.strategies()}
    headers_found = False
    for page_no in page_nos:
        g, payload = pages[page_no]
        for strat, t, _, found in extract_page(g, payload):
            headers_found = headers_found or found
            if t.nrows > 0:
                per[strat].append((page_no, t))

    status, winner, _ = select_strategy(
        cfg, {s: [score_cells_vectorized(t.cells) for _, t in v]
              for s, v in per.items()}, headers_found)
    if status != STATUS_OK:
        return [], status, winner, []
    tables = per[winner]
    out = serialize_tables([(p, winner, t) for p, t in tables])
    return out, status, winner, [t for _, t in tables]
