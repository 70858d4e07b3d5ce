"""Single-document library API (no Spark required).

The reference's library quickstart is one PDF in, tables out
(``new HybridParser(path).pages("all").parse()``, README.md:82-95). Here
one interleaved document becomes page-work rows by the job's own
page-work builder (``pipeline._make_page_work``, both routes') and
runs through the Spark pipeline's stage-1 and stage-2 batch functions
in-process, so it gets the same status, strategy and spans as in a job —
for debugging, notebooks and the one-document HTTP call
(PdfExtractController.java:30-57). A media span's page is read from its
payload's header, where the job reads the media row's ``page``.
"""

from __future__ import annotations

import json

import pandas as pd

from .config import ExtractConfig
from .docmodel import media_payload_page
from .ocr import OcrBackend
from .pipeline import (_make_assemble_partition, _make_extract_pages,
                       _make_page_work)
from .scoring import STATUS_OK
from .table import Table


def extract_document(spans: list[dict],
                     media_payloads: dict[str, bytes] | None = None,
                     cfg: ExtractConfig = ExtractConfig(),
                     backend: OcrBackend | None = None):
    """Extract one interleaved document. Returns (output_spans, status,
    strategy, tables): the Spark pipeline's per-document row, computed by
    its stage-1 and stage-2 batch functions; ``tables`` are the winner's
    stage-1 tables in output order."""
    media = {ref: [(media_payload_page(p), p)]
             for ref, p in (media_payloads or {}).items()}
    work = pd.DataFrame([("", *r) for r in _make_page_work(cfg)(spans, media)],
                        columns=["doc_id", "page", "glyph_blob", "payload"])
    pages = next(_make_extract_pages(cfg, backend)(iter([work])))
    doc = next(_make_assemble_partition(cfg)(iter([pages]))).iloc[0]
    if doc.status != STATUS_OK:
        return [], doc.status, doc.strategy, []
    won = (pages[pages["strategy"] == doc.strategy]
           .sort_values("page", kind="stable"))
    tables = [Table(json.loads(c), list(cb), list(rb)) for c, cb, rb in
              zip(won["cells_json"], won["col_bounds"], won["row_bounds"])]
    return json.loads(doc.spans_json), doc.status, doc.strategy, tables
