"""Single-document HTTP service (op 4 analog;
PdfExtractController.java:30-57 / PdfExtractService.java:104-112)."""

import json
import threading
import urllib.error
import urllib.request

import pytest

from extractpdf4j_spark.docmodel import encode_text_span
from extractpdf4j_spark.fixtures import STMT_COL_X, layout_text_rows
from extractpdf4j_spark.http_service import serve


@pytest.fixture(scope="module")
def base_url():
    srv = serve(port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    host, port = srv.server_address
    yield f"http://{host}:{port}"
    srv.shutdown()


def _post(url, data, ctype="application/json"):
    req = urllib.request.Request(url, data=data, method="POST",
                                 headers={"Content-Type": ctype})
    with urllib.request.urlopen(req) as r:
        return r.status, r.read().decode()


def _doc_body():
    rows = [["Date", "Description", "Amount"],
            ["01 Jan 2025", "salary", "100.00"],
            ["02 Feb 2025", "rent", "50.00"]]
    runs = layout_text_rows(rows, STMT_COL_X[:3])
    return json.dumps({
        "spans": [{"kind": "text", "text": encode_text_span(1, runs),
                   "media_ref": "", "offset": 0}],
        "config": {"mode": "stream"},
    }).encode()


def test_extract_json_returns_reference_csv_framing(base_url):
    status, body = _post(f"{base_url}/api/extract", _doc_body())
    assert status == 200
    # PdfExtractService.java:104-112 framing
    assert body.startswith("--- Table 1 ---\n")
    lines = body.splitlines()
    assert lines[1].split(",")[0] == "Date"
    assert any("salary" in ln for ln in lines)
    assert not body.endswith("\n")          # .trim() parity


def test_empty_body_is_400_with_reference_message(base_url):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(f"{base_url}/api/extract", b"")
    assert ei.value.code == 400
    assert ei.value.read().decode() == "Please select a file to upload."


def test_internal_error_is_500_with_reference_prefix(base_url):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(f"{base_url}/api/extract", b'{"not_spans": 1}')
    assert ei.value.code == 500
    assert ei.value.read().decode().startswith(
        "An internal error occurred: ")


def _failing_doc_bodies():
    """A ruled page whose payload body is corrupt, and a text span whose
    header is not ``p=<page>``: both extract to status 'error'."""
    import base64
    from extractpdf4j_spark.fixtures import FixtureBuilder
    fb = FixtureBuilder(seed=7)
    fb.grid_ruled("ruled")
    doc, media = fb.documents[0], fb.media[0]
    good = media["payload"]
    corrupt = good[:60] + bytes(b ^ 0xFF for b in good[60:80]) + good[80:]
    return [
        json.dumps({"spans": doc["spans"],
                    "media": {media["media_ref"]:
                              base64.b64encode(corrupt).decode()}}),
        json.dumps({"spans": [{"kind": "text", "text": "garbage",
                               "media_ref": "", "offset": 0}]}),
    ]


@pytest.mark.parametrize("which", [0, 1],
                         ids=["corrupt_payload", "malformed_header"])
def test_error_status_document_is_500_with_reference_prefix(base_url,
                                                             which):
    """A document whose extraction ends in status 'error' is a failed
    parse: 500 with the reference prefix (PdfExtractController.java:52-55),
    not a 200 carrying the status."""
    body = _failing_doc_bodies()[which].encode()
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(f"{base_url}/api/extract", body)
    assert ei.value.code == 500
    assert ei.value.read().decode().startswith(
        "An internal error occurred: ")


def test_pdf_body_without_backend_is_503(base_url):
    # sandbox has no pypdfium2: the raw-PDF route must degrade cleanly
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(f"{base_url}/api/extract", b"%PDF-1.4 minimal",
              ctype="application/pdf")
    assert ei.value.code == 503


def _multipart(parts):
    """Build a multipart/form-data body: parts = [(name, filename, bytes)]."""
    boundary = "xX-test-boundary-Xx"
    body = b""
    for name, filename, data in parts:
        body += (f"--{boundary}\r\n"
                 f'Content-Disposition: form-data; name="{name}"'
                 + (f'; filename="{filename}"' if filename else "")
                 + "\r\nContent-Type: application/octet-stream\r\n\r\n"
                 ).encode() + data + b"\r\n"
    body += f"--{boundary}--\r\n".encode()
    return body, f"multipart/form-data; boundary={boundary}"


def test_multipart_file_part_gets_reference_csv_framing(base_url):
    """Request parity with PdfExtractController.java:26-30: the upload
    arrives as the form part named "file"."""
    body, ctype = _multipart([("file", "doc.json", _doc_body())])
    status, text = _post(f"{base_url}/api/extract", body, ctype=ctype)
    assert status == 200
    assert text.startswith("--- Table 1 ---\n")
    assert any("salary" in ln for ln in text.splitlines())


def test_multipart_empty_file_is_400_with_reference_message(base_url):
    body, ctype = _multipart([("file", "empty.pdf", b"")])
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(f"{base_url}/api/extract", body, ctype=ctype)
    assert ei.value.code == 400
    assert ei.value.read().decode() == "Please select a file to upload."


def test_multipart_missing_file_part_is_400(base_url):
    body, ctype = _multipart([("other", None, b"whatever")])
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(f"{base_url}/api/extract", body, ctype=ctype)
    assert ei.value.code == 400
    assert ei.value.read().decode() == "Required part 'file' is not present."


def test_multipart_pdf_without_backend_is_503(base_url):
    body, ctype = _multipart([("file", "x.pdf", b"%PDF-1.4 minimal")])
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(f"{base_url}/api/extract", body, ctype=ctype)
    assert ei.value.code == 503


def test_health(base_url):
    with urllib.request.urlopen(f"{base_url}/health") as r:
        assert r.status == 200 and r.read() == b"ok"


def test_decode_pages_to_document_roundtrip():
    """The in-process decode adapter emits the same span model the Spark
    decode path does: text span then media span per page, dense offsets,
    payload decodable by the document model."""
    import numpy as np
    from extractpdf4j_spark.docmodel import decode_media_payload
    from extractpdf4j_spark.pdfio import PageDecode, decode_pages_to_document

    img = np.full((110, 85), 255, dtype=np.uint8)
    pages = [
        PageDecode(page=1, runs=[(40.0, 700.0, 20.0, 8.0, "Tok")]),
        PageDecode(page=2, runs=[], image=img, dpi=100.0),
    ]
    spans, media = decode_pages_to_document(pages)
    assert [(s["kind"], s["offset"]) for s in spans] == \
        [("text", 0), ("media", 1)]
    assert spans[0]["text"].startswith("p=1\n40.0000|700.0000|")
    assert set(media) == {"p2"}
    payload = decode_media_payload(media["p2"])
    assert payload.page == 2 and payload.image.shape == (110, 85)
