#!/usr/bin/env python
"""Out-of-sandbox smoke for the import-gated real backends.

The development sandbox has no pypdfium2/pytesseract/PIL, so the
production seams (`pdfio.Pypdfium2Backend`, `ocr.PytesseractBackend`,
`multimodal.decode_image`) are exercised there only through deterministic
stand-ins. THIS script is the recipe for the first real environment:

    pip install -e ".[pdf]"          # + [ocr] if tesseract is installed
    python scripts/real_env_smoke.py

It hand-rolls two minimal but valid PDFs (no external corpus needed):

* a text-layer table page (absolute-positioned Helvetica tokens in a
  3-column layout with >12pt gutters) — must come back `status=ok`,
  `strategy=stream`, with the header tokens in row 0 of the grid;
* a vector-ruled page with no text layer — exercises the textless
  render path (page → grayscale raster) through lattice line detection
  and, when pytesseract is installed, the real OCR fallback. Must come
  back as a status row (ok or no_tables), never an exception.

Mirrors the reference's own environment-gated test policy
(OcrTest.java:17-33 Assumptions.assumeTrue on tesseract presence).
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------------------
# Minimal PDF writer (text + vector ops, uncompressed, correct xref)
# ---------------------------------------------------------------------------

def _pdf(content_stream: bytes) -> bytes:
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
         b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>"),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        (b"<< /Length " + str(len(content_stream)).encode() + b" >>\n"
         b"stream\n" + content_stream + b"\nendstream"),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 " + str(len(objs) + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (b"trailer\n<< /Size " + str(len(objs) + 1).encode()
            + b" /Root 1 0 R >>\nstartxref\n" + str(xref_at).encode()
            + b"\n%%EOF\n")
    return bytes(out)


def text_table_pdf() -> bytes:
    """3 columns x 4 rows of absolute-positioned tokens; column starts at
    x=40/200/360 leave >100pt gutters (well past the 12pt vote gap)."""
    rows = [
        ["Date", "Amount", "Balance"],
        ["01Jan", "10.00", "100.00"],
        ["02Feb", "20.00", "120.00"],
        ["03Mar", "5.50", "114.50"],
    ]
    col_x = [40, 200, 360]
    parts = [b"BT /F1 10 Tf\n"]
    for r, cells in enumerate(rows):
        y = 700 - 14 * r
        for c, tok in enumerate(cells):
            parts.append(
                f"1 0 0 1 {col_x[c]} {y} Tm ({tok}) Tj\n".encode())
    parts.append(b"ET\n")
    return _pdf(b"".join(parts))


def ruled_grid_pdf() -> bytes:
    """No text layer; a 4x3 grid drawn as filled rectangles (2pt rules).
    pdfium renders this to the grayscale raster the lattice kernel
    binarizes; cells are empty so the OCR-fallback gate (<25% fill)
    triggers when an OCR backend is present."""
    parts = [b"0 g\n"]
    xs = [40, 200, 360, 520]
    ys = [500, 550, 600, 650, 700]
    for y in ys:                                   # horizontal rules
        parts.append(f"{xs[0]} {y} {xs[-1] - xs[0]} 2 re f\n".encode())
    for x in xs:                                   # vertical rules
        parts.append(f"{x} {ys[0]} 2 {ys[-1] - ys[0]} re f\n".encode())
    return _pdf(b"".join(parts))


# ---------------------------------------------------------------------------
# Smoke
# ---------------------------------------------------------------------------

def main() -> int:
    try:
        import pypdfium2  # noqa: F401
    except ImportError:
        print("FAIL: pypdfium2 not installed — pip install -e '.[pdf]'")
        return 2
    try:
        import pytesseract  # noqa: F401
        have_ocr = True
    except ImportError:
        have_ocr = False

    from pyspark.sql import SparkSession

    from extractpdf4j_spark.config import ExtractConfig, spark_confs
    from extractpdf4j_spark.pdfio import Pypdfium2Backend, read_pdf_corpus
    from extractpdf4j_spark.pipeline import extract, with_spans

    spark = (SparkSession.builder.master("local[4]")
             .config(map=spark_confs())
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "text_table.pdf"), "wb") as f:
            f.write(text_table_pdf())
        with open(os.path.join(d, "ruled_grid.pdf"), "wb") as f:
            f.write(ruled_grid_pdf())

        docs, media = read_pdf_corpus(
            spark, d, backend_factory=lambda: Pypdfium2Backend(dpi=300.0))
        cfg = ExtractConfig()
        combined = extract(docs, media, cfg, num_partitions=4).cache()
        rows = {os.path.basename(r["doc_id"]): r
                for r in combined.collect()}
        spans = {os.path.basename(r["doc_id"]): r["spans"]
                 for r in with_spans(combined).collect()}

    failures = []

    t = rows.get("text_table.pdf")
    if t is None:
        failures.append("text_table.pdf produced no output row")
    else:
        if t["status"] != "ok":
            failures.append(f"text_table status={t['status']} (want ok)")
        if t["strategy"] != "stream":
            failures.append(f"text_table strategy={t['strategy']}"
                            " (want stream)")
        ss = spans.get("text_table.pdf") or []
        if not ss or not re.match(r"table:\w+:p1:\d+x\d+",
                                  ss[0]["media_ref"] or ""):
            failures.append(f"text_table marker span malformed: {ss[:1]}")
        header = " ".join((s["text"] or "") for s in ss[1:4])
        for tok in ("Date", "Amount", "Balance"):
            if tok not in header:
                failures.append(f"header token {tok!r} missing from row 0:"
                                f" {header!r}")
        # span-sequence invariant: offsets are 0..n-1 in order
        offs = [s["offset"] for s in ss]
        if offs != list(range(len(offs))):
            failures.append(f"offsets not dense/ordered: {offs[:8]}...")

    g = rows.get("ruled_grid.pdf")
    if g is None:
        failures.append("ruled_grid.pdf produced no output row")
    elif g["status"] not in ("ok", "no_tables"):
        failures.append(f"ruled_grid status={g['status']}")

    print(f"pypdfium2 path: {'OK' if not failures else 'FAIL'}; "
          f"pytesseract installed: {have_ocr}")
    for name, r in sorted(rows.items()):
        print(f"  {name}: status={r['status']} strategy={r['strategy']} "
              f"tables={r['tables_found']} cells={r['cells_parsed']} "
              f"ocr_fallbacks={r['ocr_fallbacks']}")
    if have_ocr:
        # independent OCR-backend sanity: the real backend must emit the
        # canonical TSV word schema the kernels consume
        import numpy as np
        from extractpdf4j_spark.docmodel import OCR_WORD_COLS
        from extractpdf4j_spark.ocr import PytesseractBackend
        img = np.full((60, 200), 255, dtype=np.uint8)
        real_cols = list(PytesseractBackend().words(None, img, psm=6)
                         .columns)
        if real_cols != OCR_WORD_COLS:
            failures.append(f"OCR TSV schema drift: {real_cols}"
                            f" vs {OCR_WORD_COLS}")
        else:
            print("  pytesseract TSV schema: OK")

    spark.stop()

    # op-4 raw-PDF HTTP route (503 in the sandbox; real here)
    import threading
    import urllib.request

    from extractpdf4j_spark.http_service import serve
    srv = serve(port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    host, port = srv.server_address
    req = urllib.request.Request(
        f"http://{host}:{port}/api/extract", data=text_table_pdf(),
        method="POST", headers={"Content-Type": "application/pdf"})
    try:
        with urllib.request.urlopen(req) as r:
            body = r.read().decode()
        if not body.startswith("--- Table 1 ---"):
            failures.append(f"HTTP PDF route framing: {body[:60]!r}")
        else:
            print("  HTTP raw-PDF route: OK")
    except Exception as e:
        failures.append(f"HTTP PDF route failed: {e}")
    finally:
        srv.shutdown()

    if failures:
        print("FAILURES:")
        for f in failures:
            print("  -", f)
        return 1
    print("real-env smoke: PASS")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
