"""Single-document library API (no Spark required).

The reference's library quickstart is one PDF in, tables out
(``new HybridParser(path).pages("all").parse()``, README.md:82-95). Here
one interleaved document becomes page-work rows by ``build_page_work``'s
rules and runs through the Spark pipeline's own stage functions
in-process, so it gets the same status, strategy and spans as in a job —
for debugging, notebooks and the one-document HTTP call
(PdfExtractController.java:30-57).
"""

from __future__ import annotations

import json
import re

import pandas as pd

from .config import ExtractConfig, MODE_STREAM
from .docmodel import MEDIA, TEXT, media_payload_page
from .ocr import OcrBackend
from .pagerange import is_all, parse_pages
from .pipeline import (PAGE_FILTERED, PAGE_MALFORMED, PAGE_NO_CONTENT,
                       PAGE_UNKNOWN_KIND, _make_assemble_partition,
                       _make_extract_pages)
from .scoring import STATUS_OK
from .table import Table

# build_page_work's header rule: regexp '^p=(\d+)', then try_cast to int
_PAGE_HEADER = re.compile(r"p=([0-9]+)")


def _page_work(spans: list, media_payloads: dict[str, bytes],
               cfg: ExtractConfig) -> pd.DataFrame:
    """One document's stage-1 input rows by ``build_page_work``'s rules;
    a media span's page is read from its payload header, and a span
    without a readable one counts as an unresolved ref."""
    selected = parse_pages(cfg.pages)
    filtered = not is_all(selected)
    stream_only = cfg.strategies() == (MODE_STREAM,)
    text, media = [], {}
    for s in list(spans) or [None]:
        if s is not None and s["kind"] == MEDIA:
            pay = None if stream_only else media_payloads.get(s["media_ref"])
            page = None if pay is None else media_payload_page(pay)
            if page is None or filtered and page not in selected:
                page, pay = (PAGE_FILTERED if stream_only or filtered
                             else PAGE_MALFORMED), None
            media.setdefault(page, []).append(pay)
            continue
        blob, page = "", PAGE_NO_CONTENT if s is None else PAGE_UNKNOWN_KIND
        if s is not None and s["kind"] == TEXT:
            m = _PAGE_HEADER.match(s["text"] or "")
            page = int(m[1]) if m and int(m[1]) < 2**31 else PAGE_MALFORMED
            blob = (s["text"] or "").partition("\n")[2]
        text.append((page, None if filtered and page not in selected
                     else blob))
    # full outer join on page (a stream-only job's union of FILTERED media
    # rows is the same rows: no text row is ever FILTERED)
    rows = [(page, blob, pay) for page, blob in text
            for pay in media.get(page, [None])]
    text_pages = {page for page, _ in text}
    rows += [(page, None, pay) for page, pays in media.items()
             if page not in text_pages for pay in pays]
    return pd.DataFrame([("", *r) for r in rows],
                        columns=["doc_id", "page", "glyph_blob", "payload"])


def extract_document(spans: list[dict],
                     media_payloads: dict[str, bytes] | None = None,
                     cfg: ExtractConfig = ExtractConfig(),
                     backend: OcrBackend | None = None):
    """Extract one interleaved document. Returns (output_spans, status,
    strategy, tables): the Spark pipeline's per-document row, computed by
    its stage-1 and stage-2 batch functions; ``tables`` are the winner's
    stage-1 tables in output order."""
    work = _page_work(spans, media_payloads or {}, cfg)
    pages = next(_make_extract_pages(cfg, backend)(iter([work])))
    doc = next(_make_assemble_partition(cfg)(iter([pages]))).iloc[0]
    if doc.status != STATUS_OK:
        return [], doc.status, doc.strategy, []
    won = (pages[pages["strategy"] == doc.strategy]
           .sort_values("page", kind="stable"))
    tables = [Table(json.loads(c), list(cb), list(rb)) for c, cb, rb in
              zip(won["cells_json"], won["col_bounds"], won["row_bounds"])]
    return json.loads(doc.spans_json), doc.status, doc.strategy, tables
