"""spark-submit job surface + CSV sink tests."""

import glob
import os

import pytest

from extractpdf4j_spark.pipeline import DOCUMENTS_SCHEMA, MEDIA_SCHEMA
from extractpdf4j_spark.fixtures import FixtureBuilder


@pytest.fixture(scope="module")
def fixture_parquet(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("job")
    fb = FixtureBuilder(seed=42)
    fb.stmt_text("stmt-1")
    fb.stmt_text("stmt-2", n_rows=4)
    fb.ocr_words("ocrw-1")
    docs_pdf, media_pdf = fb.to_pandas()
    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    docs.write.parquet(str(root / "documents"))
    media.write.parquet(str(root / "media"))
    return root


def test_job_main_end_to_end(spark, fixture_parquet, capsys):
    from extractpdf4j_spark.job import main
    out = str(fixture_parquet / "out")
    rc = main([
        "--documents", str(fixture_parquet / "documents"),
        "--media", str(fixture_parquet / "media"),
        "--out", out,
        "--mode", "hybrid", "--pages", "all",
        "--run-id", "test-run", "--partitions", "4",
        "--csv-out", str(fixture_parquet / "csv"),
    ])
    assert rc == 0
    captured = capsys.readouterr().out
    assert "run_id=test-run" in captured
    assert "documents=3" in captured
    assert os.path.isdir(f"{out}/combined")
    assert glob.glob(str(fixture_parquet / "csv") + "/doc_id=*/")


def test_job_resume_cli(spark, fixture_parquet, capsys):
    """Second invocation resumes: 0 new docs processed, output stable."""
    from extractpdf4j_spark.job import main
    out = str(fixture_parquet / "out")
    rc = main([
        "--documents", str(fixture_parquet / "documents"),
        "--out", out, "--run-id", "test-run-2",
    ])
    assert rc == 0
    combined = spark.read.parquet(f"{out}/combined")
    per_doc = combined.groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in per_doc)
    # all docs still carry the first run's id (nothing re-processed)
    assert {r["run_id"] for r in combined.select("run_id").collect()} == {"test-run"}


def test_job_dpi_reaches_pdf_render(spark, fixture_parquet, tmp_path,
                                    monkeypatch):
    """--dpi sets the render resolution of the --pdf-input decode backend
    (the PDF read is faked: no pypdfium2 needed)."""
    from extractpdf4j_spark import job, pdfio
    docs = spark.read.parquet(str(fixture_parquet / "documents"))
    media = spark.read.parquet(str(fixture_parquet / "media"))
    seen = {}

    def fake_read_pdf_corpus(spark_, path, **kwargs):
        seen.update(kwargs)
        return docs, media

    monkeypatch.setattr(pdfio, "read_pdf_corpus", fake_read_pdf_corpus)
    rc = job.main(["--pdf-input", str(tmp_path / "pdfs"), "--dpi", "150",
                   "--out", str(tmp_path / "out"), "--mode", "stream",
                   "--partitions", "2"])
    assert rc == 0
    factory = seen["backend_factory"]
    assert factory.func is pdfio.Pypdfium2Backend
    assert factory.keywords == {"dpi": 150.0}


def test_csv_sink_round_trip(spark, fixture_parquet):
    """The CSV sink reproduces the reference quoting (CsvExporter.java)."""
    from extractpdf4j_spark.pipeline import with_spans
    combined = spark.read.parquet(str(fixture_parquet / "out" / "combined"))
    csv_tables = spark.read.parquet(str(fixture_parquet / "csv"))
    rows = csv_tables.collect()
    assert len(rows) >= 3
    for r in rows:
        assert r["csv"].count("\n") >= 1       # multi-row tables
        ncols0 = None
        # same column count per line outside quoted regions for stmt docs
    # spot check one known cell from stmt-1 appears
    ext = with_spans(combined).filter("doc_id = 'stmt-1'").collect()[0]
    some_cell = next(s["text"] for s in ext["spans"]
                     if s["kind"] == "text" and s["text"])
    joined = "\n".join(r["csv"] for r in rows)
    assert some_cell.split(" ")[0] in joined


def test_package_zip(tmp_path):
    from extractpdf4j_spark.package import build_zip
    import zipfile
    out = build_zip("dist")
    with zipfile.ZipFile(out) as z:
        names = z.namelist()
    assert "extractpdf4j_spark/pipeline.py" in names
    assert "extractpdf4j_spark/kernels/stream.py" in names
    assert not any("__pycache__" in n for n in names)


def test_tesseract_config_parity():
    """tess.lang/psm/oem parity (Ocr.java:189-196): the config fields
    exist, flow into the CLI, change the lineage hash, and reach the
    OCR backend's words() call (psm) — multi-lang values pass through."""
    from extractpdf4j_spark.config import ExtractConfig
    from extractpdf4j_spark.job import build_parser

    base = ExtractConfig()
    assert (base.tess_lang, base.tess_psm, base.tess_oem) == ("eng", 6, 1)
    multi = ExtractConfig(tess_lang="eng+fra", tess_psm=11, tess_oem=3)
    assert multi.config_hash() != base.config_hash()

    args = build_parser().parse_args([
        "--documents", "d", "--out", "o",
        "--tess-lang", "eng+fra", "--tess-psm", "11", "--tess-oem", "3"])
    assert (args.tess_lang, args.tess_psm, args.tess_oem) == ("eng+fra", 11, 3)


def test_tess_psm_reaches_backend():
    """cfg.tess_psm flows through ocrstream_extract_page to the backend."""
    import pandas as pd
    from extractpdf4j_spark.docmodel import OCR_WORD_COLS, decode_media_payload
    from extractpdf4j_spark.fixtures import FixtureBuilder
    from extractpdf4j_spark.kernels.ocrstream import ocrstream_extract_page
    from extractpdf4j_spark.ocr import EmbeddedWordsBackend

    class RecordingBackend(EmbeddedWordsBackend):
        seen_psm = None

        def word_columns(self, payload, image, psm):
            RecordingBackend.seen_psm = psm
            return super().word_columns(payload, image, psm)

    fb = FixtureBuilder(seed=7)
    fb.ocr_words("ocrw-1")
    _, media_pdf = fb.to_pandas()
    payload = decode_media_payload(media_pdf["payload"][0])
    ocrstream_extract_page(payload, RecordingBackend(), psm=11)
    assert RecordingBackend.seen_psm == 11


def test_pytesseract_backend_lang_oem_gated():
    """Without pytesseract the backend raises the documented seam error
    even when configured for multi-language OCR."""
    from extractpdf4j_spark.ocr import PytesseractBackend
    try:
        import pytesseract  # noqa: F401
        has = True
    except ImportError:
        has = False
    if not has:
        with pytest.raises(NotImplementedError, match="pytesseract"):
            PytesseractBackend(lang="eng+fra", oem=3)
    else:  # pragma: no cover - not this sandbox
        b = PytesseractBackend(lang="eng+fra", oem=3)
        assert (b.lang, b.oem) == ("eng+fra", 3)


def test_embedded_ocr_backend_is_honoured_everywhere(monkeypatch):
    """ocr_backend="embedded" never constructs the Tesseract backend: not
    in the single-document API, the debug sink or stage 1."""
    import pandas as pd
    from extractpdf4j_spark import ocr
    from extractpdf4j_spark.config import ExtractConfig
    from extractpdf4j_spark.local import extract_document
    from extractpdf4j_spark.pipeline import _make_extract_pages
    from extractpdf4j_spark.sinks import _make_debug_pages

    built = []

    class StubTesseract(ocr.EmbeddedWordsBackend):
        def __init__(self, lang="eng", oem=1):
            built.append((lang, oem))

    monkeypatch.setattr(ocr, "PytesseractBackend", StubTesseract)
    docs_pdf, media_pdf = FixtureBuilder(seed=42).standard_corpus().to_pandas()
    payloads = dict(zip(media_pdf["media_ref"], media_pdf["payload"]))
    spans = next(list(t.spans) for t in docs_pdf.itertuples(index=False)
                 if any(s["kind"] == "media" for s in t.spans))
    m = media_pdf.iloc[0]
    batch = pd.DataFrame({"doc_id": [m["doc_id"]], "page": [m["page"]],
                          "glyph_blob": [None], "payload": [m["payload"]]})

    cfg = ExtractConfig(ocr_backend="embedded")
    extract_document(spans, payloads, cfg)
    list(_make_debug_pages(cfg)(iter([batch])))
    list(_make_extract_pages(cfg)(iter([batch])))
    assert built == []
    # the stub is live: the default "auto" preference does construct it
    extract_document(spans, payloads, ExtractConfig())
    assert built == [("eng", 1)]


def test_numbered_csv_export(spark, fixture_parquet, tmp_path):
    """Main.java:234-271 naming parity: out-1.csv per table per doc."""
    from extractpdf4j_spark.config import ExtractConfig
    from extractpdf4j_spark.pipeline import extract, with_spans
    from extractpdf4j_spark.sinks import export_numbered_csvs

    docs = spark.read.parquet(str(fixture_parquet / "documents"))
    media = spark.read.parquet(str(fixture_parquet / "media"))
    combined = extract(docs, media, ExtractConfig(), num_partitions=4)
    out = str(tmp_path / "csvs")
    export_numbered_csvs(with_spans(combined), out)
    files = sorted(glob.glob(out + "/*/out-*.csv"))
    assert files, "no numbered csv files written"
    assert any(f.endswith("out-1.csv") for f in files)
    body = open(files[0]).read()
    assert "," in body and body.endswith("\n")
    # one numbered file per extracted table, 1-based
    stmt2 = sorted(glob.glob(out + "/stmt-2/out-*.csv"))
    assert [os.path.basename(p) for p in stmt2] == ["out-1.csv"]


def test_debug_artifact_sink(spark, fixture_parquet, tmp_path):
    """Op 7: sampled debug artifacts — rasters, per-strategy table dumps
    (grid bounds + cells), OCR word dumps — parquet by doc_id."""
    import json as _json
    from extractpdf4j_spark.config import ExtractConfig
    from extractpdf4j_spark.sinks import write_debug_artifacts

    docs = spark.read.parquet(str(fixture_parquet / "documents"))
    media = spark.read.parquet(str(fixture_parquet / "media"))
    out = str(tmp_path / "debug")
    write_debug_artifacts(docs, media, ExtractConfig(), out, sample=1.0)
    art = spark.read.parquet(out)
    kinds = {r["kind"] for r in art.select("kind").distinct().collect()}
    assert "table" in kinds
    assert "raster" in kinds        # the OCR doc contributes a raster
    assert "ocr_words" in kinds
    tbl = art.filter(art.kind == "table").limit(1).collect()[0]
    meta = _json.loads(tbl["meta_json"])
    assert {"cells", "col_bounds", "row_bounds"} <= set(meta)
    ras = art.filter(art.kind == "raster").limit(1).collect()[0]
    assert len(ras["blob"]) > 0
    # deterministic sampling: sample=0 writes no partition directories
    out0 = str(tmp_path / "debug0")
    write_debug_artifacts(docs, media, ExtractConfig(), out0, sample=0.0)
    assert not glob.glob(out0 + "/doc_id=*")


def test_sources_seam_catalog_tables(spark, fixture_parquet, tmp_path):
    """run_extraction writes/reads/resumes through a catalog TABLE
    identifier (the Iceberg seam; here the built-in session catalog
    implements the same DataFrameWriterV2 surface)."""
    from extractpdf4j_spark.config import ExtractConfig
    from extractpdf4j_spark.pipeline import run_extraction
    from extractpdf4j_spark.sources import is_table_identifier, read_table

    assert is_table_identifier("cat.db.extracted")
    assert not is_table_identifier("/tmp/out")
    assert not is_table_identifier("s3://bucket/out")

    docs = spark.read.parquet(str(fixture_parquet / "documents"))
    media = spark.read.parquet(str(fixture_parquet / "media"))
    target = "extracted_seam_test"
    spark.sql(f"DROP TABLE IF EXISTS {target}")
    # drop an orphaned managed-table location from any earlier run
    import shutil
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(os.path.join(wh.replace("file:", ""), target),
                  ignore_errors=True)
    res = run_extraction(spark, docs, media, ExtractConfig(), target,
                         run_id="t1")
    assert res.count() == 3
    # resume path: second run processes nothing new, no duplicates
    res2 = run_extraction(spark, docs, media, ExtractConfig(), target,
                          run_id="t2")
    got = res2.groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in got)
    assert {r["run_id"] for r in res2.select("run_id").collect()} == {"t1"}
    assert read_table(spark, target).count() == 3
    spark.sql(f"DROP TABLE IF EXISTS {target}")


def test_sources_seam_namespaced_identifier(spark, fixture_parquet):
    """The production identifier shape is multi-level (``db.table`` —
    with Iceberg jars, ``catalog.db.table``): the seam must route a
    namespaced identifier through the catalog for write, resume
    (try_read_table) and read-back, not just a bare table name."""
    from extractpdf4j_spark.config import ExtractConfig
    from extractpdf4j_spark.pipeline import run_extraction
    from extractpdf4j_spark.sources import (is_table_identifier,
                                            read_table, try_read_table)

    assert is_table_identifier("seamdb.extracted")
    target = "seamdb.extracted_ns_test"
    spark.sql("CREATE DATABASE IF NOT EXISTS seamdb")
    spark.sql(f"DROP TABLE IF EXISTS {target}")
    import shutil
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(os.path.join(wh.replace("file:", ""), "seamdb.db",
                               "extracted_ns_test"), ignore_errors=True)
    assert try_read_table(spark, target) is None   # fresh: resume no-op

    docs = spark.read.parquet(str(fixture_parquet / "documents"))
    media = spark.read.parquet(str(fixture_parquet / "media"))
    res = run_extraction(spark, docs, media, ExtractConfig(), target,
                         run_id="ns1")
    assert res.count() == 3
    res2 = run_extraction(spark, docs, media, ExtractConfig(), target,
                          run_id="ns2")
    assert {r["run_id"] for r in res2.select("run_id").collect()} == {"ns1"}
    assert read_table(spark, target).count() == 3
    spark.sql(f"DROP TABLE IF EXISTS {target}")


def test_bucketed_join_is_shuffle_free(spark):
    """Plan evidence for the README/Iceberg scale claim: two tables
    bucketed on the join key with matching bucket counts join with NO
    exchange on either side (forced sort-merge, broadcast disabled)."""
    import contextlib
    import io

    from extractpdf4j_spark.sources import read_table, write_bucketed

    docs = spark.range(0, 200).selectExpr(
        "CAST(id AS STRING) AS doc_id", "id AS payload_a")
    media = spark.range(0, 200).selectExpr(
        "CAST(id AS STRING) AS doc_id", "id * 2 AS payload_b")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(docs, "bucketed_docs_t", "doc_id", n_buckets=8)
        write_bucketed(media, "bucketed_media_t", "doc_id", n_buckets=8)
        j = read_table(spark, "bucketed_docs_t").join(
            read_table(spark, "bucketed_media_t"), "doc_id")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert j.count() == 200
        # control: the same join over unbucketed inputs DOES exchange
        buf2 = io.StringIO()
        with contextlib.redirect_stdout(buf2):
            docs.join(media, "doc_id").explain("formatted")
        assert "Exchange" in buf2.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bucketed_docs_t")
        spark.sql("DROP TABLE IF EXISTS bucketed_media_t")


def test_write_bucketed_rejects_paths():
    import pytest

    from extractpdf4j_spark.sources import write_bucketed
    with pytest.raises(ValueError, match="identifier"):
        write_bucketed(None, "/tmp/not-a-table", "doc_id")


def test_read_jsonl_documents_routes_corrupt_lines(spark, tmp_path):
    """JSONL ingest: good lines become documents that flow through
    extract(); a malformed line becomes a parse_status row carrying
    the raw text — never an exception."""
    import json
    from extractpdf4j_spark.config import ExtractConfig
    from extractpdf4j_spark.pipeline import extract
    from extractpdf4j_spark.sources import read_jsonl_documents

    good1 = {"doc_id": "j1", "spans": [
        {"kind": "text",
         "text": "p=1\n10.0|700.0|20.0|8.0|hello\n40.0|700.0|20.0|8.0|world",
         "media_ref": "", "offset": 0}]}
    good2 = {"doc_id": "j2", "spans": []}
    src = tmp_path / "dump"
    src.mkdir()
    (src / "part0.jsonl").write_text(
        json.dumps(good1) + "\n{not valid json\n" + json.dumps(good2) + "\n")

    out = read_jsonl_documents(spark, str(src))
    rows = {r["parse_status"]: r for r in out.collect()}
    assert out.count() == 3
    bad = [r for r in out.collect() if r["parse_status"] == "malformed_json"]
    assert len(bad) == 1 and bad[0]["raw_line"].startswith("{not valid")

    docs = (out.filter("parse_status = 'ok'").select("doc_id", "spans"))
    got = {r["doc_id"]: r["status"] for r in
           extract(docs, None, ExtractConfig()).collect()}
    assert got == {"j1": "ok", "j2": "no_tables"}


def test_write_training_shards_roundtrip_and_validate(spark, tmp_path):
    """Writer invariants: every input row lands in exactly one
    (bucket, shard) partition, per-shard tokens respect the greedy
    budget bound (first doc may cross it, nothing after), the manifest
    matches the data, and the validator is quiet on an intact
    directory."""
    import shutil
    from extractpdf4j_spark.sinks import (validate_training_shards,
                                          write_training_shards)
    rows = [(f"d{i:03d}", f"text {i}", 10 + i % 7) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id string, text string, "
                                     "n_tokens long")
    out = str(tmp_path / "corpus")
    manifest = write_training_shards(df, out, token_col="n_tokens",
                                     budget=50, n_buckets=2)
    m = manifest.collect()
    assert sum(r["n_docs"] for r in m) == 60
    assert sum(r["n_tokens"] for r in m) == sum(r[2] for r in rows)
    data = spark.read.parquet(f"{out}/shards")
    assert data.count() == 60
    assert data.select("doc_id").distinct().count() == 60
    # greedy budget: tokens BEFORE each shard's last doc stay under
    # budget, so a shard holds < budget + max_doc tokens
    per_shard = {(r["bucket"], r["shard"]): r["n_tokens"] for r in m}
    assert all(v < 50 + 16 for v in per_shard.values())
    assert validate_training_shards(spark, out,
                                    token_col="n_tokens").count() == 0

    # losing a shard directory is detected as missing_data
    victim = min(per_shard)
    shutil.rmtree(f"{out}/shards/bucket={victim[0]}/shard={victim[1]}")
    probs = validate_training_shards(spark, out,
                                     token_col="n_tokens").collect()
    assert [(r["bucket"], r["shard"], r["problem"]) for r in probs] \
        == [(victim[0], victim[1], "missing_data")]

    # mode='error' refuses to clobber an existing corpus
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import AnalysisException
    with _pytest.raises(AnalysisException):
        write_training_shards(df, out, token_col="n_tokens", budget=50)


def test_validate_training_shards_flags_corruption(spark, tmp_path):
    """A partial rewrite (duplicated rows inside one shard) flips the
    fingerprint/counts -> 'corrupt'; extra unmanifested partitions are
    reported too."""
    from extractpdf4j_spark.sinks import (validate_training_shards,
                                          write_training_shards)
    df = spark.createDataFrame(
        [(f"d{i}", 10) for i in range(20)], "doc_id string, n_tokens long")
    out = str(tmp_path / "c2")
    manifest = write_training_shards(df, out, token_col="n_tokens",
                                     budget=40, n_buckets=1)
    b, s = [(r["bucket"], r["shard"]) for r in manifest.collect()][0]
    shard_dir = f"{out}/shards/bucket={b}/shard={s}"
    # materialize before overwriting the same path (lazy read would
    # race the delete)
    dup = spark.read.parquet(shard_dir).localCheckpoint(eager=True)
    dup.union(dup).write.mode("overwrite").parquet(shard_dir)
    probs = {(r["bucket"], r["shard"]): r["problem"]
             for r in validate_training_shards(
                 spark, out, token_col="n_tokens").collect()}
    assert probs[(b, s)] == "corrupt"


def test_curate_job_cli_end_to_end(spark, tmp_path, capsys):
    """The curation CLI: documents parquet -> scrub decontamination ->
    curate -> shards + manifest -> validation, one JSON summary line.
    The planted benchmark sentence must vanish from every shard."""
    import json
    from extractpdf4j_spark.curate_job import main

    bench = "qq0 qq1 qq2"     # disjoint vocab -> exact planting
    rows = []
    for i in range(40):
        body = " ".join(f"w{i}x{j}" for j in range(30))
        if i % 8 == 0:        # embed the benchmark mid-doc
            toks = body.split()
            body = " ".join(toks[:15] + bench.split() + toks[15:])
        rows.append((i, body, "en" if i % 3 else "de"))
    docs = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(docs)
    ev = str(tmp_path / "eval")
    spark.createDataFrame([("e0", bench)], "doc_id string, text string") \
        .write.parquet(ev)

    out = str(tmp_path / "curated")
    rc = main(["--documents", docs, "--out", out,
               "--eval", ev, "--decontam-mode", "scrub",
               "--gram-n", "3", "--scrub-window", "1",
               "--min-fragment", "3", "--min-tokens", "5",
               "--lang-cap", "100", "--shard-budget", "200",
               "--n-buckets", "2", "--validate"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["docs_in"] == 40
    assert summary["validation_problems"] == 0
    assert summary["docs_out"] > 40  # scrubbed docs split into fragments
    data = spark.read.parquet(f"{out}/shards")
    assert data.filter(data.text.contains("qq1")).count() == 0
    # clean docs survive whole as fragment 0
    assert data.filter(data.doc_id == "1#0").count() == 1


def test_curate_job_warc_input_end_to_end(spark, tmp_path, capsys):
    """Crawl archive in, training shards out: 2xx pages pass through
    main-content extraction + language-ID into the curation pipeline;
    404s and thin pages never reach the shards."""
    import json
    from extractpdf4j_spark.curate_job import main

    def rec(body, uri, status="200 OK"):
        http = (f"HTTP/1.1 {status}\r\nContent-Type: text/html\r\n\r\n"
                + body)
        return ("WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Record-ID: <urn:uuid:{uri.rsplit('/', 1)[-1]}>\r\n"
                f"WARC-Target-URI: {uri}\r\n"
                f"Content-Length: {len(http.encode())}\r\n\r\n"
                + http + "\r\n\r\n")

    pages = []
    for i in range(12):
        words = " ".join(
            f"the page body word w{i}x{j} and more of it"
            for j in range(6))
        pages.append(rec(
            f"<html><body><nav><a href='/'>home</a></nav>"
            f"<div><p>{words}</p></div>"
            f"<footer>all rights reserved</footer></body></html>",
            f"https://ex.com/p{i}"))
    pages.append(rec("<p>gone</p>", "https://ex.com/missing",
                     status="404 NF"))
    pages.append(rec("<html><body><p>thin</p></body></html>",
                     "https://ex.com/thin"))
    (tmp_path / "crawl").mkdir()
    (tmp_path / "crawl" / "a.warc").write_bytes("".join(pages).encode())

    out = str(tmp_path / "warc_curated")
    rc = main(["--warc-input", str(tmp_path / "crawl"), "--out", out,
               "--min-tokens", "5", "--min-line-docs", "100",
               "--lang-cap", "100", "--shard-budget", "400",
               "--n-buckets", "2", "--validate"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["docs_in"] == 12          # 404 + thin page dropped
    assert summary["validation_problems"] == 0
    data = spark.read.parquet(f"{out}/shards")
    ids = {r["doc_id"] for r in data.select("doc_id").collect()}
    assert "<urn:uuid:p0>" in ids
    assert not any("missing" in i or "thin" in i for i in ids)


def test_curate_job_empty_corpus_and_drop_mode(spark, tmp_path, capsys):
    """An empty corpus yields an empty-but-readable shard directory,
    a zero summary and rc 0 (not a schema-inference crash); drop-mode
    decontamination removes contaminated docs entirely — no fragments."""
    import json
    from extractpdf4j_spark.curate_job import main

    empty = str(tmp_path / "empty")
    spark.createDataFrame([], "doc_id long, text string, lang string") \
        .write.parquet(empty)
    rc = main(["--documents", empty, "--out", str(tmp_path / "out0"),
               "--validate"])
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (s["docs_in"], s["docs_out"], s["shards"],
            s["validation_problems"]) == (0, 0, 0, 0)

    bench = "qq0 qq1 qq2"
    rows = [(i, ("x" + str(i) + " ") * 3
             + (bench if i % 4 == 0 else "clean body")
             + " " + " ".join(f"w{i}y{j}" for j in range(10)), "en")
            for i in range(16)]
    docs = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(docs)
    ev = str(tmp_path / "ev")
    spark.createDataFrame([("e0", bench)], "doc_id string, text string") \
        .write.parquet(ev)
    rc = main(["--documents", docs, "--out", str(tmp_path / "out1"),
               "--eval", ev, "--decontam-mode", "drop", "--gram-n", "3",
               "--min-tokens", "3", "--min-line-docs", "100",
               "--lang-cap", "100", "--shard-budget", "100",
               "--n-buckets", "1", "--validate"])
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["docs_in"] == 16
    assert s["docs_out"] == 12              # the 4 contaminated dropped
    data = spark.read.parquet(str(tmp_path / "out1") + "/shards")
    assert data.filter(data.text.contains("qq1")).count() == 0
    # whole docs dropped, no fragment ids
    assert not any("#" in r["doc_id"]
                   for r in data.select("doc_id").collect())
