"""Single-document HTTP service — the op-4 analog
(PdfExtractController.java:30-57).

The reference is a Spring endpoint: POST a multipart PDF →
``text/plain`` CSV with ``--- Table N ---`` framing between tables
(PdfExtractService.java:104-112). This analog serves the same
one-document contract over stdlib ``http.server`` — no Spark session, no
web framework (none is installed here, and a one-document call does not
need an executor):

* ``POST /api/extract`` with ``Content-Type: application/json`` —
  ``{"spans": [...], "media": {"<ref>": "<base64>"}, "config": {...}}``,
  the engine's interleaved document model, routed to
  :func:`local.extract_document`;
* ``POST /api/extract`` with ``Content-Type: application/pdf`` — raw PDF
  bytes, decoded through the import-gated pypdfium2 backend when
  installed (503 otherwise);
* ``GET /health`` — liveness.

Responses mirror the reference: 200 ``text/plain`` CSV in the exact
``--- Table N ---`` framing, 400 ``Please select a file to upload.`` for
an empty body (PdfExtractController.java:35-37), 500
``An internal error occurred: ...`` on failure
(PdfExtractController.java:52-55).

Corpus-scale work belongs in the Spark pipeline (``job.py``); this is
the debugging/notebook/service seam the survey's non-port decision
pointed at.
"""

from __future__ import annotations

import base64
import email
import email.policy
import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .config import ExtractConfig
from .local import extract_document
from .scoring import STATUS_ERROR, STATUS_OK
from .table import Table, export_csv

_CFG_FIELDS = ("mode", "pages", "strip_text", "min_score",
               "required_headers", "columns", "tess_lang", "tess_psm",
               "tess_oem")


def _config_from(payload: dict) -> ExtractConfig:
    kwargs = {}
    for k in _CFG_FIELDS:
        if k in payload:
            v = payload[k]
            if k in ("required_headers", "columns") and isinstance(v, list):
                v = tuple(v)
            kwargs[k] = v
    return ExtractConfig(**kwargs)


def tables_as_csv(tables: list[Table]) -> str:
    """The reference's exact response framing
    (PdfExtractService.java:104-112): ``--- Table N ---`` header, the
    table's CSV, a blank line between tables, trailing whitespace
    trimmed."""
    parts = []
    for i, t in enumerate(tables):
        parts.append(f"--- Table {i + 1} ---\n")
        parts.append(export_csv([t], ","))
        parts.append("\n\n")
    return "".join(parts).strip()


def _extract_json(body: bytes) -> tuple[int, str]:
    doc = json.loads(body)
    media = {ref: base64.b64decode(b64)
             for ref, b64 in (doc.get("media") or {}).items()}
    return _respond(doc["spans"], media, _config_from(doc.get("config") or {}))


def _extract_pdf(body: bytes) -> tuple[int, str]:
    try:
        from .pdfio import Pypdfium2Backend, decode_pages_to_document
    except ImportError:
        return 503, "PDF decode backend unavailable"
    try:
        backend = Pypdfium2Backend()
    except NotImplementedError:
        return 503, ("pypdfium2 is not installed; POST application/json "
                     "with the document span model instead")
    spans, media = decode_pages_to_document(backend.decode(body))
    return _respond(spans, media, ExtractConfig())


def _respond(spans: list, media: dict[str, bytes],
             cfg: ExtractConfig) -> tuple[int, str]:
    """One document's tables as CSV, or its status; status 'error' raises
    so the handler answers 500 (PdfExtractController.java:52-55)."""
    _spans, status, _strategy, tables = extract_document(spans, media, cfg)
    if status == STATUS_ERROR:
        raise ValueError("a page of the document could not be extracted")
    if status != STATUS_OK:
        return 200, status
    return 200, tables_as_csv(tables)


def _multipart_file(body: bytes, content_type: str) -> bytes | None:
    """Extract the ``file`` part from a ``multipart/form-data`` body —
    request parity with the reference endpoint
    (PdfExtractController.java:26-30, ``@RequestParam("file")
    MultipartFile``). Stdlib ``email`` does the MIME work: the HTTP body
    IS a MIME multipart entity once the Content-Type header is
    prepended. Returns the part's raw bytes, or None when no ``file``
    part exists (Spring's missing-required-part case)."""
    msg = email.message_from_bytes(
        b"Content-Type: " + content_type.encode("latin-1")
        + b"\r\nMIME-Version: 1.0\r\n\r\n" + body,
        policy=email.policy.default)
    if not msg.is_multipart():
        return None
    for part in msg.iter_parts():
        name = part.get_param("name", header="content-disposition")
        if name == "file":
            return part.get_payload(decode=True) or b""
    return None


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # quiet by default
        pass

    def _send(self, code: int, text: str) -> None:
        data = text.encode()
        self.send_response(code)
        self.send_header("Content-Type", "text/plain; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_GET(self):
        if self.path == "/health":
            self._send(200, "ok")
        else:
            self._send(404, "not found")

    def do_POST(self):
        if self.path.rstrip("/") != "/api/extract":
            self._send(404, "not found")
            return
        n = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(n) if n else b""
        if not body:
            # PdfExtractController.java:35-37 parity
            self._send(400, "Please select a file to upload.")
            return
        raw_ctype = self.headers.get("Content-Type") or ""
        ctype = raw_ctype.split(";")[0].strip().lower()
        try:
            if ctype == "multipart/form-data":
                # reference request parity: the upload arrives as the
                # form part named "file" (PdfExtractController.java:30)
                file_bytes = _multipart_file(body, raw_ctype)
                if file_bytes is None:
                    # Spring's missing-@RequestParam response class
                    self._send(400, "Required part 'file' is not present.")
                    return
                if not file_bytes:
                    # PdfExtractController.java:35-37 parity
                    self._send(400, "Please select a file to upload.")
                    return
                if file_bytes[:5] == b"%PDF-":
                    code, text = _extract_pdf(file_bytes)
                else:
                    code, text = _extract_json(file_bytes)
            elif ctype == "application/pdf" or body[:5] == b"%PDF-":
                code, text = _extract_pdf(body)
            else:
                code, text = _extract_json(body)
            self._send(code, text)
        except Exception as e:  # PdfExtractController.java:52-55 parity
            self._send(500, f"An internal error occurred: {e}")


def serve(host: str = "127.0.0.1", port: int = 8080) -> ThreadingHTTPServer:
    """Build the server (call ``.serve_forever()`` to block, or run it in
    a thread — the tests do). Returns the bound server so callers can
    read ``server_address`` when ``port=0``."""
    return ThreadingHTTPServer((host, port), _Handler)


if __name__ == "__main__":
    import sys

    srv = serve(port=int(sys.argv[1]) if len(sys.argv) > 1 else 8080)
    print(f"extractpdf4j single-doc service on {srv.server_address}")
    srv.serve_forever()
