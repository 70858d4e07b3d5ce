"""Local-mode Spark end-to-end: fixture corpus → extracted spans + metrics,
checkpoint/resume, and span-sequence equality against the hybrid oracle."""

import json

import pytest

from pyspark.sql import functions as F

from extractpdf4j_spark.config import ExtractConfig
from extractpdf4j_spark.docmodel import decode_media_payload, decode_text_span
from extractpdf4j_spark.fixtures import FixtureBuilder
from extractpdf4j_spark.ocr import EmbeddedWordsBackend
from extractpdf4j_spark.pipeline import (DOCUMENTS_SCHEMA, MEDIA_SCHEMA,
                                         extract, run_extraction, with_spans)

import oracle


@pytest.fixture(scope="module")
def corpus(spark):
    fb = FixtureBuilder(seed=42).standard_corpus()
    docs_pdf, media_pdf = fb.to_pandas()
    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    return docs.cache(), media.cache(), docs_pdf, media_pdf


def oracle_results(docs_pdf, media_pdf):
    payloads = {m: decode_media_payload(p)
                for m, p in zip(media_pdf["media_ref"], media_pdf["payload"])}
    backend = EmbeddedWordsBackend()
    out = {}
    for t in docs_pdf.itertuples(index=False):
        pages = {}
        for s in t.spans:
            if s["kind"] == "text":
                g = decode_text_span(s["text"])
                pages.setdefault(g.page, [None, None])[0] = g
            else:
                p = payloads[s["media_ref"]]
                pages.setdefault(p.page, [None, None])[1] = p
        page_list = [(pg, g, p) for pg, (g, p) in sorted(pages.items())]
        out[t.doc_id] = oracle.oracle_hybrid_doc(page_list, backend)
    return out


def test_e2e_span_equality(spark, corpus):
    """The correctness gate: per-document span-sequence equality
    (kind, text, media_ref, order) between the Spark pipeline and the
    reference-semantics oracle on every fixture family."""
    docs, media, docs_pdf, media_pdf = corpus
    combined = extract(docs, media, ExtractConfig(), num_partitions=4)
    rows = {r["doc_id"]: r for r in combined.collect()}
    want = oracle_results(docs_pdf, media_pdf)

    assert set(rows) == set(want)
    for doc_id, (want_spans, want_status, want_strategy) in want.items():
        got = rows[doc_id]
        got_spans = json.loads(got["spans_json"])
        assert got["status"] == want_status, doc_id
        if want_status == "ok":
            assert got["strategy"] == want_strategy, doc_id
        assert [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in got_spans] == \
               [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in want_spans], doc_id


def test_e2e_statuses_and_metrics(spark, corpus):
    docs, media, _, _ = corpus
    combined = extract(docs, media, ExtractConfig(), num_partitions=4)
    rows = {r["doc_id"]: r for r in combined.collect()}
    assert rows["empty-1"]["status"] == "no_tables"
    assert rows["stmt-1"]["strategy"] == "stream"
    # digital ruled doc: clean text layer → stream legitimately outscores
    assert rows["ruled-1"]["strategy"] == "stream"
    # scanned ruled doc with mis-grouped OCR lines → lattice wins
    assert rows["scan-1"]["strategy"] == "lattice"
    assert rows["ocrw-1"]["strategy"] == "ocrstream"
    assert rows["tie-1"]["strategy"] == "lattice"  # exact tie → lattice
    assert rows["sparse-1"]["ocr_fallbacks"] > 0
    assert all(r["wall_ms"] >= 0 for r in rows.values())
    assert rows["stmt-1"]["cells_parsed"] > 0


def test_spans_view_schema(spark, corpus):
    docs, media, _, _ = corpus
    combined = extract(docs, media, ExtractConfig(), num_partitions=2)
    view = with_spans(combined)
    row = view.filter(F.col("doc_id") == "stmt-1").collect()[0]
    kinds = {s["kind"] for s in row["spans"]}
    assert kinds <= {"text", "media"}
    offsets = [s["offset"] for s in row["spans"]]
    assert offsets == sorted(offsets)


def test_page_range_filter(spark, corpus):
    """Op 3: page pruning — page 2 only of a 2-page doc."""
    docs, media, _, _ = corpus
    cfg = ExtractConfig(pages="2")
    combined = extract(docs.filter(F.col("doc_id") == "stmt-2"), media, cfg)
    row = combined.collect()[0]
    spans = json.loads(row["spans_json"])
    assert row["tables_found"] == 1
    assert all(s["media_ref"].startswith("table:stream:p2")
               for s in spans if s["kind"] == "media")


def test_min_score_gate(spark, corpus):
    docs, media, _, _ = corpus
    cfg = ExtractConfig(min_score=0.99)
    combined = extract(docs.filter(F.col("doc_id") == "stmt-1"), media, cfg)
    row = combined.collect()[0]
    assert row["status"] == "below_min_score"
    assert json.loads(row["spans_json"]) == []


def test_page_work_plan_joins_pages_by_shuffle_hash(spark, corpus):
    """The (doc_id, page) full-outer page join runs as the hinted
    ShuffledHashJoin, and the executed plan holds no sort-merge join
    (the sorts of metadata rows it replaced were the cost)."""
    from extractpdf4j_spark.pipeline import build_page_work
    docs, media, _, _ = corpus
    work = build_page_work(docs, media, ExtractConfig(), num_partitions=4)
    work.collect()
    plan = work._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE: the plan that ran
    assert any("ShuffledHashJoin" in ln and "FullOuter" in ln
               for ln in final.splitlines()), final
    assert "SortMergeJoin" not in final, final


@pytest.mark.parametrize("mode", ["hybrid", "stream"])
@pytest.mark.parametrize("num_partitions", [None, 4])
def test_extract_plan_is_numbered_under_coalescing(spark, corpus, mode,
                                                   num_partitions):
    """With AQE coalescing on, extract() still runs every shuffle as a
    numbered repartition and nothing is coalesced: size-based coalescing
    would pack the small-bytes, heavy-CPU page rows onto few tasks.
    ``num_partitions=None`` takes the session's shuffle partitions."""
    docs, media, _, _ = corpus
    keys = ("spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.coalescePartitions.parallelismFirst")
    prev = [spark.conf.get(k) for k in keys]
    spark.conf.set(keys[0], "true")
    spark.conf.set(keys[1], "false")
    try:
        combined = extract(docs, media, ExtractConfig(mode=mode),
                           num_partitions=num_partitions)
        combined.collect()
    finally:
        for k, v in zip(keys, prev):
            spark.conf.set(k, v)
    plan = combined._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE: the plan that ran
    assert "AQEShuffleRead coalesced" not in final, final
    exchanges = [ln for ln in final.splitlines()
                 if "Exchange " in ln and "BroadcastExchange" not in ln]
    assert exchanges, final
    assert all("REPARTITION_BY_NUM" in ln for ln in exchanges), final


def test_resume_checkpoint(spark, corpus, tmp_path):
    """Kill-and-restart semantics: second run only processes missing
    documents; no duplicates, no missing."""
    docs, media, docs_pdf, _ = corpus
    out = str(tmp_path / "out")
    half = docs.filter(F.col("doc_id").startswith("stmt"))
    run_extraction(spark, half, media, ExtractConfig(), out, run_id="r1")

    res = run_extraction(spark, docs, media, ExtractConfig(), out, run_id="r2")
    got = res.groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in got)          # no duplicates
    assert {r["doc_id"] for r in got} == set(docs_pdf["doc_id"])
    runs = {r["doc_id"]: r["run_id"] for r in res.collect()}
    assert runs["stmt-1"] == "r1"                     # not re-processed
    assert runs["ruled-1"] == "r2"
    lineage = json.loads(res.collect()[0]["lineage"])
    assert lineage["config_hash"] == ExtractConfig().config_hash()


def test_resume_unreadable_checkpoint_raises(spark, corpus, tmp_path):
    """A checkpoint that exists but cannot be read is not "no checkpoint":
    resume must raise instead of re-extracting everything, and append
    nothing."""
    docs, media, _, _ = corpus
    combined = tmp_path / "out" / "combined"
    combined.mkdir(parents=True)
    bad = combined / "part-00000-corrupt.snappy.parquet"
    bad.write_bytes(b"PAR1" + b"\x00not a parquet footer\x00" * 4 + b"PAR1")
    before = sorted(p.relative_to(combined) for p in combined.rglob("*"))
    with pytest.raises(Exception, match="(?i)corrupt|footer|parquet"):
        run_extraction(spark, docs, media, ExtractConfig(),
                       str(tmp_path / "out"), run_id="r1", resume=True)
    assert sorted(p.relative_to(combined)
                  for p in combined.rglob("*")) == before


def test_try_read_table_missing_is_none(spark, tmp_path):
    from extractpdf4j_spark.sources import try_read_table
    assert try_read_table(spark, str(tmp_path / "nope" / "combined")) is None
    assert try_read_table(spark, "no_such_checkpoint_table") is None


@pytest.mark.parametrize("cond,missing", [("PATH_NOT_FOUND", True),
                                           ("UNABLE_TO_INFER_SCHEMA", True),
                                           ("FAILED_READ_FILE", False)])
def test_try_read_table_pyspark35_error_api(monkeypatch, cond, missing):
    """PySpark 3.5 exceptions have getErrorClass() but no getCondition()
    (added in 4.0); both must classify the same way."""
    from pyspark.errors import AnalysisException
    from extractpdf4j_spark import sources

    class Spark35Error(AnalysisException):
        @property
        def getCondition(self):
            raise AttributeError("getCondition")

        def getErrorClass(self):
            return cond

    def read(spark, ref):
        raise Spark35Error(message=cond)

    monkeypatch.setattr(sources, "read_table", read)
    if missing:
        assert sources.try_read_table(None, "/x/combined") is None
    else:
        with pytest.raises(Spark35Error):
            sources.try_read_table(None, "/x/combined")


@pytest.mark.parametrize("leftover", ["empty", "temporary_only"])
def test_resume_checkpoint_dir_without_data(spark, corpus, tmp_path,
                                            leftover):
    """A first run that died before its append committed leaves
    ``combined`` empty or holding only ``_temporary/0``. That is no
    checkpoint: resume extracts every document, once."""
    docs, media, docs_pdf, _ = corpus
    combined = tmp_path / "out" / "combined"
    combined.mkdir(parents=True)
    if leftover == "temporary_only":
        (combined / "_temporary" / "0").mkdir(parents=True)
    res = run_extraction(spark, docs, media, ExtractConfig(),
                         str(tmp_path / "out"), run_id="r1", resume=True)
    got = res.groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in got)
    assert {r["doc_id"] for r in got} == set(docs_pdf["doc_id"])


def test_malformed_documents_never_kill_the_job(spark):
    """Corrupt inputs become 'error'/'no_tables' status rows — a 100 TB
    job must survive any single bad document (SURVEY.md §7 risk:
    System.exit semantics become data, never process death)."""
    from extractpdf4j_spark.pipeline import DOCUMENTS_SCHEMA
    docs = [
        ("bad-header", [{"kind": "text", "text": "NOT-A-HEADER\n1|2|3",
                         "media_ref": "", "offset": 0}]),
        ("bad-mediaref", [{"kind": "media", "text": "",
                           "media_ref": "missing", "offset": 0}]),
        ("empty-spans", []),
        ("bad-glyphs", [{"kind": "text", "text": "p=1\nno-pipes-here",
                         "media_ref": "", "offset": 0}]),
        ("good", [{"kind": "text",
                   "text": "p=1\n10.0|700.0|20.0|8.0|hello\n40.0|700.0|20.0|8.0|world",
                   "media_ref": "", "offset": 0}]),
    ]
    df = spark.createDataFrame(docs, schema=DOCUMENTS_SCHEMA)
    out = {r["doc_id"]: r for r in
           extract(df, None, ExtractConfig()).collect()}
    assert out["bad-header"]["status"] == "error"
    assert out["bad-mediaref"]["status"] == "error"
    assert out["empty-spans"]["status"] == "no_tables"
    assert out["bad-glyphs"]["status"] == "error"
    assert out["good"]["status"] == "ok"
    assert len(out) == 5


def test_completeness_stream_only_and_unknown_kinds(spark):
    """Every input document reaches stage 2 exactly once — including an
    all-media document under a stream-only job (media content is ignored,
    not the document) and documents carrying unknown span kinds
    (schema drift → presence sentinel, not a silent drop)."""
    docs = [
        ("all-media", [{"kind": "media", "text": "", "media_ref": "m1",
                        "offset": 0}]),
        ("unknown-kind", [{"kind": "video", "text": "blob", "media_ref": "",
                           "offset": 0}]),
        ("mixed-unknown", [
            {"kind": "text",
             "text": "p=1\n10.0|700.0|20.0|8.0|hello\n40.0|700.0|20.0|8.0|world",
             "media_ref": "", "offset": 0},
            {"kind": "audio", "text": "", "media_ref": "a1", "offset": 1}]),
    ]
    df = spark.createDataFrame(docs, schema=DOCUMENTS_SCHEMA)

    # stream-only: the all-media doc must still appear (as no_tables)
    out = {r["doc_id"]: r for r in
           extract(df, None, ExtractConfig(mode="stream")).collect()}
    assert set(out) == {"all-media", "unknown-kind", "mixed-unknown"}
    assert out["all-media"]["status"] == "no_tables"
    assert out["unknown-kind"]["status"] == "no_tables"
    assert out["mixed-unknown"]["status"] == "ok"

    # hybrid (default): same completeness guarantee
    out = {r["doc_id"]: r for r in
           extract(df, None, ExtractConfig()).collect()}
    assert set(out) == {"all-media", "unknown-kind", "mixed-unknown"}
    assert out["unknown-kind"]["status"] == "no_tables"
    assert out["mixed-unknown"]["status"] == "ok"


def _mix_doc(fb):
    """Page 1: text layer; page 2: scanned with OCR words."""
    from extractpdf4j_spark.fixtures import (layout_text_rows, STMT_COL_X,
                                             statement_rows, blank_page,
                                             layout_ocr_rows, words_df)
    import random
    rng = random.Random(1)
    rows1 = statement_rows(rng, 6)
    rows2 = statement_rows(rng, 5)
    for r in rows2[1:]:
        r[0] = r[0].replace(" ", "")
    fb.add_doc("mix-1", [
        {"runs": layout_text_rows(rows1, STMT_COL_X)},
        {"image": blank_page(),
         "words": words_df(layout_ocr_rows(rows2, [60, 160, 400, 520, 650],
                                           right_edges={2: 450, 3: 575, 4: 760}))},
    ])


@pytest.mark.parametrize("build,cfg,status", [
    (_mix_doc, ExtractConfig(), "ok"),
    (_mix_doc, ExtractConfig(min_score=0.99), "below_min_score"),
    (_mix_doc, ExtractConfig(mode="ocrstream",
                             required_headers=("NoSuchHeader",)),
     "headers_missing"),
    (lambda fb: fb.grid_scanned("media-only"), ExtractConfig(mode="stream"),
     "no_tables"),
    # >= 8 scores per strategy mean: where np.mean's pairwise sum and a
    # plain left-to-right sum could round differently
    (lambda fb: fb.stmt_text("stmt-9p", n_rows=6, n_pages=9), ExtractConfig(),
     "ok"),
], ids=["default", "below_min_score", "headers_missing", "no_tables",
        "stmt_text_9p"])
def test_interleaved_multipage_doc(spark, build, cfg, status):
    """Multi-page documents (an interleaved digital + scanned one among
    them): winner selection is per-document across all pages' tables, and
    the single-document API agrees with the job on every status branch."""
    fb = FixtureBuilder(seed=99)
    build(fb)
    docs_pdf, media_pdf = fb.to_pandas()
    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    row = extract(docs, media, cfg, num_partitions=4).collect()[0]
    assert row["status"] == status
    spans = json.loads(row["spans_json"])
    if status == "ok":
        table_refs = [s["media_ref"] for s in spans if s["kind"] == "media"]
        # winner produced tables from the pages IT could parse; offsets
        # ordered
        assert len(table_refs) >= 1
        offs = [s["offset"] for s in spans]
        assert offs == sorted(offs)
    # parity with the single-document API
    from extractpdf4j_spark.local import extract_document
    payloads = dict(zip(media_pdf["media_ref"], media_pdf["payload"]))
    want, wstatus, wstrat, _ = extract_document(
        list(docs_pdf["spans"][0]), payloads, cfg)
    assert row["status"] == wstatus
    assert row["strategy"] == wstrat
    assert [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans] \
        == [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in want]


_EMBEDDED = ExtractConfig(ocr_backend="embedded")
# case -> config; test_local_matches_spark_on_edge_documents builds spans
_PARITY_CFG = {
    "missing_media_ref": _EMBEDDED,
    "malformed_header": _EMBEDDED,
    "corrupt_payload": _EMBEDDED,
    "unknown_kind": _EMBEDDED,
    "null_kind": _EMBEDDED,
    "empty_spans": _EMBEDDED,
    "two_text_spans_one_page": _EMBEDDED,
    "page_outside_selection": ExtractConfig(pages="2",
                                            ocr_backend="embedded"),
}


@pytest.fixture(scope="module")
def parity_docs():
    """Edge-case documents over one media table holding a ruled page and
    a copy whose deflate body is corrupt (its header still names page 1)."""
    fb = FixtureBuilder(seed=7)
    fb.grid_ruled("ruled")
    fb.stmt_text("two", n_rows=6, n_pages=2)
    (ruled_text, ruled_media), two = (d["spans"] for d in fb.documents)
    good = fb.media[0]["payload"]
    corrupt = good[:60] + bytes(b ^ 0xFF for b in good[60:80]) + good[80:]
    payloads = {"ruled/p1": good, "corrupt/p1": corrupt}
    text = {"kind": "text", "media_ref": "", "offset": 0}
    spans = {
        "missing_media_ref": [dict(ruled_media, media_ref="nope")],
        "malformed_header": [dict(text, text="garbage")],
        "corrupt_payload": [ruled_text,
                            dict(ruled_media, media_ref="corrupt/p1")],
        "unknown_kind": [dict(text, kind="video", text="x")],
        "null_kind": [dict(text, kind=None, text="x")],
        "empty_spans": [],
        "two_text_spans_one_page": [
            two[0], dict(two[1], text="p=1" + two[1]["text"][3:])],
        "page_outside_selection": [*two, ruled_media],
    }
    return spans, payloads


@pytest.mark.parametrize("case", list(_PARITY_CFG))
@pytest.mark.parametrize("num_partitions", [2, 8])
def test_local_matches_spark_on_edge_documents(spark, parity_docs,
                                               num_partitions, case):
    """The single-document API returns the job's per-document row: same
    status, strategy and (kind, text, media_ref, offset) sequence on
    malformed, partial and repeated-page documents."""
    from extractpdf4j_spark.local import extract_document
    spans, payloads = parity_docs
    cfg = _PARITY_CFG[case]
    docs = spark.createDataFrame([(case, spans[case])],
                                 schema=DOCUMENTS_SCHEMA)
    media = spark.createDataFrame(
        [(ref, ref.split("/")[0], 1, p) for ref, p in payloads.items()],
        schema=MEDIA_SCHEMA)
    (row,) = extract(docs, media, cfg, num_partitions).collect()
    want, wstatus, wstrat, _ = extract_document(spans[case], payloads, cfg)
    assert (row["status"], row["strategy"]) == (wstatus, wstrat)

    def seq(sp):
        return [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in sp]
    assert seq(json.loads(row["spans_json"])) == seq(want)


def test_big_doc_pages_spread_across_partitions(spark):
    """Axis-A skew duty: a 40-page document's pages distribute across
    stage-1 partitions instead of landing on one task."""
    from pyspark.sql import functions as F
    from extractpdf4j_spark.pipeline import build_page_work
    fb = FixtureBuilder(seed=5)
    fb.skew_big("big-1", n_pages=40)
    for i in range(10):
        fb.stmt_text(f"small-{i}", n_rows=3)
    docs_pdf, media_pdf = fb.to_pandas()
    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA)
    work = build_page_work(docs, None, ExtractConfig()) \
        .repartition(8, F.col("doc_id"), F.col("page"))
    parts = (work.filter(F.col("doc_id") == "big-1")
             .select(F.spark_partition_id().alias("p"))
             .distinct().count())
    assert parts >= 5  # 40 pages hash over 8 partitions


def test_stage2_streaming_carryover_across_arrow_batches(spark):
    """The streaming assemble holds back the trailing document of each
    Arrow batch; with a 2-row batch size every multi-page document is
    split across batches, so this pins the carryover contract: every doc
    exactly once, same statuses as with the default batch size."""
    fb = FixtureBuilder(seed=11)
    for i in range(6):
        fb.stmt_text(f"multi-{i}", n_rows=4, n_pages=3)
    docs_pdf, media_pdf = fb.to_pandas()
    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "2")
        combined = extract(docs, None, ExtractConfig(), num_partitions=2)
        rows = combined.collect()
    finally:
        spark.conf.set(key, old)
    assert sorted(r["doc_id"] for r in rows) == sorted(
        f"multi-{i}" for i in range(6))
    assert all(r["status"] == "ok" for r in rows), [
        (r["doc_id"], r["status"]) for r in rows]


def test_extraction_deterministic_across_partition_counts(spark):
    """Shuffle-order independence of the serialized span output: the
    rows-only driver gates (q_extract_spans/q_extract_metrics) compare
    across runs, so the output must not depend on num_partitions (which
    fixes both the shuffle layout and the stage-2 batch boundaries)."""
    from extractpdf4j_spark.corpusgen import ensure_fixture_corpus
    from extractpdf4j_spark.pipeline import with_spans

    docs, media = ensure_fixture_corpus(spark, "/root/testdata/sf0.001",
                                        limit=40)
    snapshots = []
    for parts in (4, 8):
        combined = extract(docs, media, ExtractConfig(),
                           num_partitions=parts)
        spans = (with_spans(combined)
                 .selectExpr("doc_id", "explode(spans) AS s")
                 .selectExpr("doc_id", "s.kind", "s.text", "s.media_ref",
                             "s.offset"))
        snapshots.append(sorted(tuple(r) for r in spans.collect()))
        metrics = combined.select("doc_id", "status", "strategy",
                                  "tables_found", "cells_parsed",
                                  "ocr_fallbacks")
        snapshots.append(sorted(tuple(r) for r in metrics.collect()))
    assert snapshots[0] == snapshots[2], "span output varies with partitioning"
    assert snapshots[1] == snapshots[3], "metrics vary with partitioning"
