"""spark-submit job entry point.

The cluster-deploy surface mandated by the north rule::

    python -m extractpdf4j_spark.package         # builds dist/extractpdf4j_spark.zip
    spark-submit --py-files dist/extractpdf4j_spark.zip \
        extractpdf4j_spark/job.py \
        --documents s3://bucket/documents \
        --media s3://bucket/media \
        --out s3://bucket/extracted \
        --mode hybrid --pages all --run-id run-2026-08-16 \
        --partitions 4096

Replaces the reference's three entry points (CLI Main.java:156-225,
library quickstart README.md:82-95, HTTP service PdfExtractController)
with one batch job: the CLI flags mirror Main.java's options
(--mode/--pages/--dpi/--min-score/--strip-text), plus the scale duties
(partitions, resume, run-id lineage).
"""

from __future__ import annotations

import argparse
import functools
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="extractpdf4j-spark",
        description="PySpark table extraction over interleaved documents")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--documents",
                     help="path/table of documents(doc_id, spans)")
    src.add_argument("--pdf-input",
                     help="directory/glob of raw PDF files (binaryFile scan "
                          "+ pypdfium2 decode; see pdfio.py)")
    p.add_argument("--media", default=None,
                   help="path/table of media(media_ref, doc_id, page, payload)")
    p.add_argument("--pdf-stage", default=None,
                   help="with --pdf-input: parquet staging dir so PDF "
                        "decode runs once for documents AND media")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--mode", default="hybrid",
                   choices=["stream", "lattice", "ocrstream", "hybrid"])
    p.add_argument("--pages", default="all",
                   help='"all", "1", "2-5", "1,3-4" (PageRange.java:15 format)')
    p.add_argument("--dpi", type=float, default=300.0,
                   help="with --pdf-input: raster render resolution")
    p.add_argument("--min-score", type=float, default=0.0)
    p.add_argument("--no-strip-text", action="store_true")
    p.add_argument("--required-headers", default="",
                   help="comma list; empty disables the gate")
    # tesseract parity with the reference's tess.* sys-props (Ocr.java:189-196)
    p.add_argument("--tess-lang", default="eng",
                   help='tesseract language(s), e.g. "eng" or "eng+fra"')
    p.add_argument("--tess-psm", type=int, default=6)
    p.add_argument("--tess-oem", type=int, default=1)
    p.add_argument("--ocr-backend", default="auto",
                   choices=["auto", "embedded"],
                   help="embedded forces the deterministic word-layer backend")
    p.add_argument("--run-id", default=None)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--csv-out", default=None,
                   help="optional per-table CSV sink directory (parquet)")
    p.add_argument("--csv-files-out", default=None,
                   help="optional numbered out-N.csv file export dir "
                        "(Main.java:234-271 naming; shared-fs paths)")
    p.add_argument("--debug-out", default=None,
                   help="optional sampled debug-artifact sink directory")
    p.add_argument("--debug-sample", type=float, default=0.01,
                   help="fraction of documents sampled for --debug-out")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession

    from .config import ExtractConfig, spark_confs
    from .pipeline import run_extraction, with_spans, metrics_view
    from .sinks import write_tables_csv

    preexisting = SparkSession.getActiveSession() is not None
    spark = (SparkSession.builder
             .appName("extractpdf4j-spark")
             .config(map=spark_confs())
             .getOrCreate())

    cfg = ExtractConfig(
        mode=args.mode,
        pages=args.pages,
        strip_text=not args.no_strip_text,
        min_score=args.min_score,
        required_headers=tuple(
            h.strip() for h in args.required_headers.split(",") if h.strip()),
        tess_lang=args.tess_lang,
        tess_psm=args.tess_psm,
        tess_oem=args.tess_oem,
        ocr_backend=args.ocr_backend,
    )
    run_id = args.run_id or f"run-{int(time.time())}"

    if args.pdf_input:
        from . import pdfio
        docs, media = pdfio.read_pdf_corpus(
            spark, args.pdf_input,
            backend_factory=functools.partial(pdfio.Pypdfium2Backend,
                                              dpi=args.dpi),
            stage_dir=args.pdf_stage)
    else:
        # paths read parquet; dotted identifiers read catalog (Iceberg)
        # tables through the sources seam
        from .sources import read_table
        docs = read_table(spark, args.documents)
        media = read_table(spark, args.media) if args.media else None

    combined = run_extraction(spark, docs, media, cfg, args.out, run_id,
                              resume=not args.no_resume,
                              num_partitions=args.partitions)
    n = combined.count()
    ok = combined.filter(combined.status == "ok").count()
    print(f"[extractpdf4j-spark] run_id={run_id} documents={n} ok={ok}")

    if args.csv_out:
        write_tables_csv(with_spans(combined), args.csv_out)
    if args.csv_files_out:
        from .sinks import export_numbered_csvs
        export_numbered_csvs(with_spans(combined), args.csv_files_out)
    if args.debug_out:
        from .sinks import write_debug_artifacts
        write_debug_artifacts(docs, media, cfg, args.debug_out,
                              sample=args.debug_sample)

    metrics_view(combined).groupBy("status").count().show()
    if not preexisting:  # don't tear down a caller-owned session
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
