"""Local-mode Spark end-to-end: fixture corpus → extracted spans + metrics,
checkpoint/resume, and span-sequence equality against the hybrid oracle."""

import json
from typing import NamedTuple

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


class _Node(NamedTuple):
    name: str
    desc: str
    cols: list      # output column names
    parts: int      # output partition count
    rows: int | None    # numOutputRows (shuffleRecordsWritten), if metered
    kids: list


def _executed_tree(df):
    """The plan that ran (AQE's final plan) as nested :class:`_Node`, with
    query stages and reused exchanges opened."""
    def rows(node):
        for metric in ("numOutputRows", "shuffleRecordsWritten"):
            m = node.metrics().get(metric)
            if m.isDefined():
                return m.get().value()
        return None

    def walk(node):
        name = node.nodeName()
        if "QueryStage" in name:
            return walk(node.plan())
        if name == "ReusedExchange":
            return walk(node.child())
        kids, out = node.children(), node.output()
        return _Node(name, node.simpleString(100),
                     [out.apply(i).name() for i in range(out.size())],
                     node.outputPartitioning().numPartitions(), rows(node),
                     [walk(kids.apply(i)) for i in range(kids.size())])
    return walk(df._jdf.queryExecution().executedPlan().executedPlan())


def _nodes(tree, path=()):
    """(node, names of its ancestors) of every node, root first."""
    yield tree, path
    for child in tree.kids:
        yield from _nodes(child, path + (tree.name,))


def _exchanges(tree):
    return [n for n, _ in _nodes(tree) if "Exchange" in n.name]


def _payload_exchanges(tree):
    return [n for n in _exchanges(tree) if "payload" in n.cols]


def _map_in_pandas(tree, fn):
    """(node, ancestors) of the MapInPandas running the batch function
    named ``fn``."""
    (found,) = [(n, path) for n, path in _nodes(tree)
                if n.name == "MapInPandas" and f" {fn}(" in n.desc]
    return found


def _mixed_corpus(spark, corpus):
    """The standard corpus plus a 9-page document of text and raster
    pages: 18 spans, so it takes the heavy route."""
    import random
    from extractpdf4j_spark.fixtures import (STMT_COL_X, blank_page,
                                             layout_text_rows, statement_rows)
    from extractpdf4j_spark.pipeline import LIGHT_SPANS
    docs, media, _, _ = corpus
    rng = random.Random(3)
    fb = FixtureBuilder(seed=3)
    fb.add_doc("heavy-1", [
        {"runs": layout_text_rows(statement_rows(rng, 4), STMT_COL_X),
         "image": blank_page()} for _ in range(9)])
    assert len(fb.documents[0]["spans"]) > LIGHT_SPANS
    heavy_docs, heavy_media = fb.to_pandas()
    return (docs.unionByName(spark.createDataFrame(
                heavy_docs, schema=DOCUMENTS_SCHEMA)),
            media.unionByName(spark.createDataFrame(
                heavy_media, schema=MEDIA_SCHEMA)))


@pytest.mark.parametrize("mode", ["hybrid", "stream"])
# (num_partitions, spark.sql.autoBroadcastJoinThreshold); None keeps the
# session's threshold, -1 forces the heavy payload join to shuffle
@pytest.mark.parametrize("num_partitions,broadcast", [
    pytest.param(None, None, id="None"),
    pytest.param(4, None, id="4"),
    pytest.param(None, "-1", id="None-nobroadcast"),
    pytest.param(4, "-1", id="4-nobroadcast")])
def test_extract_plan_is_numbered_under_coalescing(spark, corpus, mode,
                                                   num_partitions, broadcast):
    """With AQE coalescing on, extract() runs every shuffle that feeds a
    Python stage with ``num_partitions`` partitions and nothing is
    coalesced: size-based coalescing would pack the small-bytes,
    heavy-CPU page rows onto few tasks. ``num_partitions=None`` takes the
    session's shuffle partitions.

    Over a corpus with light and heavy documents: every exchange is a
    numbered repartition or a broadcast, except the payload side of the
    heavy payload join when it is too big to broadcast, which takes the
    numbered side's partition count. Stage 1 reads ``num_partitions``
    partitions; the light route's MapInPandas reads only numbered
    exchanges and broadcasts and no exchange sits between it and the
    output; the heavy page-work MapInPandas reads one row per heavy
    document and no payload; payload bytes cross exactly one exchange on
    each route, and splitting the media reads no documents."""
    docs, media = _mixed_corpus(spark, corpus)
    confs = {"spark.sql.adaptive.coalescePartitions.enabled": "true",
             "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false"}
    if broadcast is not None:
        confs["spark.sql.autoBroadcastJoinThreshold"] = broadcast
    prev = {k: spark.conf.get(k) for k in confs}
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        combined = extract(docs, media, ExtractConfig(mode=mode),
                           num_partitions=num_partitions)
        # collect() runs combined's own plan; count() would run a
        # separate aggregate and leave this one at AQE's initial plan
        assert len(combined.collect()) == docs.count()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    plan = combined._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]  # AQE: the plan that ran
    assert "AQEShuffleRead coalesced" not in final, final

    tree = _executed_tree(combined)
    light, above = _map_in_pandas(tree, "extract_documents")
    stage1, _ = _map_in_pandas(tree, "extract_pages")
    page_work, _ = _map_in_pandas(tree, "page_work")
    heavy, _ = _map_in_pandas(tree, "assemble_partition")
    exchanges = [x for x in _exchanges(tree) if x.name != "BroadcastExchange"]
    assert exchanges, final
    # the one unnumbered exchange: the payload side of a heavy payload
    # join that does not broadcast
    unnumbered = [x for x in exchanges if "REPARTITION_BY_NUM" not in x.desc]
    assert len(unnumbered) == (mode == "hybrid" and broadcast == "-1"), final
    assert all(x in _payload_exchanges(stage1) and x.parts == n
               for x in unnumbered), final
    assert stage1.kids[0].parts == n, final
    assert not [x for x, _ in _nodes(page_work) if "payload" in x.cols], final
    # the first metered node under it: the join to the media refs, or the
    # documents' exchange
    (fed,) = [x.rows for x, _ in _nodes(page_work.kids[0])
              if x.rows is not None][:1]
    assert fed == 1, final      # heavy-1, the one heavy document
    assert not [name for name in above if "Exchange" in name], final
    assert _exchanges(light), final
    assert all(x.name == "BroadcastExchange" or "REPARTITION_BY_NUM" in x.desc
               for x in _exchanges(light)), final
    if mode == "hybrid":    # stream-only jobs never read payloads
        assert len(_payload_exchanges(light)) == 1, final
        assert len(_payload_exchanges(heavy)) == 1, final
    # the media split reads no documents: no documents scan sits under a
    # broadcast
    assert not [x for x, path in _nodes(tree)
                if x.name == "InMemoryTableScan" and "spans" in x.cols
                and "BroadcastExchange" in path], final


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


_MULTIPAGE_CASES = [
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
]
_MULTIPAGE_IDS = ["default", "below_min_score", "headers_missing",
                  "no_tables", "stmt_text_9p"]


@pytest.mark.parametrize("build,cfg,status", _MULTIPAGE_CASES,
                         ids=_MULTIPAGE_IDS)
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


def _owned_media(doc_id, payloads):
    """MEDIA_SCHEMA rows of ``payloads`` (ref -> bytes, all on page 1),
    owned by ``doc_id``: a media span resolves only against its own
    document's media rows."""
    return [(ref, doc_id, 1, p) for ref, p in payloads.items()]


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
    media = spark.createDataFrame(_owned_media(case, payloads),
                                  schema=MEDIA_SCHEMA)
    (row,) = extract(docs, media, cfg, num_partitions).collect()
    want, wstatus, wstrat, _ = extract_document(spans[case], payloads, cfg)
    assert (row["status"], row["strategy"]) == (wstatus, wstrat)

    def seq(sp):
        return [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in sp]
    assert seq(json.loads(row["spans_json"])) == seq(want)


def test_big_doc_pages_spread_across_partitions(spark, monkeypatch):
    """Axis-A skew duty: extract() routes a 40-page document heavy, and
    the page work it builds for stage 1 spreads that document's pages
    across partitions instead of landing on one task."""
    from extractpdf4j_spark import pipeline
    fb = FixtureBuilder(seed=5)
    fb.skew_big("big-1", n_pages=40)
    for i in range(10):
        fb.stmt_text(f"small-{i}", n_rows=3)
    docs_pdf, _ = fb.to_pandas()
    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA)
    built = []
    build_page_work = pipeline.build_page_work

    def spy(*args, **kwargs):
        built.append(build_page_work(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(pipeline, "build_page_work", spy)
    combined = extract(docs, None, ExtractConfig(), num_partitions=8)
    (work,) = built     # the frame that feeds stage 1
    assert {r["doc_id"] for r in work.select("doc_id").distinct()
            .collect()} == {"big-1"}      # the 1-pagers went light
    parts = (work.select(F.spark_partition_id().alias("p"))
             .distinct().count())
    assert parts >= 5  # 40 pages hash over 8 partitions
    assert combined.count() == 11


def test_stage2_streaming_carryover_across_arrow_batches(spark):
    """Both routes' batch functions hold back the trailing document of
    each Arrow batch (``_whole_documents``); with a 2-row batch size
    every heavy document's page rows, and every light raster document's
    media rows, are split across batches, so this pins the carryover
    contract: every doc exactly once, same statuses as with the default
    batch size."""
    import random
    from extractpdf4j_spark.fixtures import (STMT_COL_X, blank_page,
                                             layout_text_rows, statement_rows)
    from extractpdf4j_spark.pipeline import LIGHT_SPANS
    fb = FixtureBuilder(seed=11)
    for i in range(6):     # heavy: one text span per page
        fb.stmt_text(f"multi-{i}", n_rows=4, n_pages=LIGHT_SPANS + 1)
    rng = random.Random(11)
    for i in range(4):     # light: 3 pages, one media row each
        fb.add_doc(f"raster-{i}", [
            {"runs": layout_text_rows(statement_rows(rng, 4), STMT_COL_X),
             "image": blank_page()} for _ in range(3)])
    assert len(fb.documents[-1]["spans"]) <= LIGHT_SPANS
    docs_pdf, media_pdf = fb.to_pandas()
    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "2")
        combined = extract(docs, media, ExtractConfig(), num_partitions=2)
        rows = combined.collect()
    finally:
        spark.conf.set(key, old)
    assert sorted(r["doc_id"] for r in rows) == sorted(
        [f"multi-{i}" for i in range(6)] + [f"raster-{i}" for i in range(4)])
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


def test_heavy_doc_spanning_arrow_batches_matches_local(spark):
    """A heavy document whose stage-1 rows outnumber one Arrow batch (the
    stage-2 assemble carries it over from one batch into the next) gets
    the single-document API's row: memory stays a batch plus the largest
    document without changing the output."""
    from extractpdf4j_spark.local import extract_document
    from extractpdf4j_spark.pipeline import (LIGHT_SPANS, PAGE_RESULT_SCHEMA,
                                             _make_extract_pages,
                                             build_page_work)
    fb = FixtureBuilder(seed=13)
    fb.stmt_text("long", n_rows=4, n_pages=40)
    fb.stmt_text("short", n_rows=4)
    docs_pdf, _ = fb.to_pandas()
    assert len(docs_pdf["spans"][0]) > LIGHT_SPANS
    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA)
    cfg = ExtractConfig()
    key, batch = "spark.sql.execution.arrow.maxRecordsPerBatch", 16
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(batch))
        stage1 = (build_page_work(docs.filter(F.col("doc_id") == "long"),
                                  None, cfg)
                  .mapInPandas(_make_extract_pages(cfg),
                               schema=PAGE_RESULT_SCHEMA))
        assert stage1.count() > batch
        rows = {r["doc_id"]: r for r in
                extract(docs, None, cfg, num_partitions=2).collect()}
    finally:
        spark.conf.set(key, old)
    assert set(rows) == {"long", "short"}
    want, status, strategy, _ = extract_document(list(docs_pdf["spans"][0]),
                                                 {}, cfg)
    assert (rows["long"]["status"], rows["long"]["strategy"]) == \
        (status, strategy) == ("ok", "stream")
    assert json.loads(rows["long"]["spans_json"]) == want


# LIGHT_SPANS values that send every document down one route
_ROUTES = {"heavy": -1, "light": 10**6}


def _rows_by_route(monkeypatch, build):
    """{route: sorted (doc_id, status, strategy, spans_json)} of the frame
    ``build()`` returns under each route."""
    from extractpdf4j_spark import pipeline
    out = {}
    for route, light_spans in _ROUTES.items():
        monkeypatch.setattr(pipeline, "LIGHT_SPANS", light_spans)
        out[route] = sorted((r["doc_id"], r["status"], r["strategy"],
                             r["spans_json"]) for r in build().collect())
    return out


def _parity_groups(spark, parity_docs):
    """(cfg, docs, media, cases): the parity cases grouped by config, each
    document with its own media rows."""
    spans, payloads = parity_docs
    groups = {}
    for case, cfg in _PARITY_CFG.items():
        groups.setdefault(repr(cfg), (cfg, []))[1].append(case)
    for cfg, cases in groups.values():
        docs = spark.createDataFrame([(c, spans[c]) for c in cases],
                                     schema=DOCUMENTS_SCHEMA)
        media = spark.createDataFrame(
            [m for c in cases for m in _owned_media(c, payloads)],
            schema=MEDIA_SCHEMA)
        yield cfg, docs, media, cases


# the page sentinel each edge document must carry exactly once
_SENTINEL_CASES = {"malformed_header": -1, "empty_spans": -2,
                   "page_outside_selection": -3, "unknown_kind": -4,
                   "null_kind": -4}


def test_page_work_rows_match_build_page_work(spark, parity_docs,
                                             monkeypatch):
    """``build_page_work``'s rows, whose payloads attach by a join on
    (doc_id, page, media_ref), equal the rows the light route gets from
    ``_make_page_work`` with each media row's own payload, on every edge
    document; each page sentinel (malformed, no-content, filtered,
    unknown kind, NULL kind) appears exactly once in its document's rows.

    One media row gives one page: a span whose media_ref has own rows on
    pages 1 and 2 gets two work rows, each page with its row's payload,
    and both routes return the same row for it."""
    from extractpdf4j_spark.pipeline import _make_page_work, build_page_work
    spans, payloads = parity_docs

    def both(cfg, docs, media, own, cases):
        got = sorted((
            (r["doc_id"], r["page"], r["glyph_blob"],
             None if r["payload"] is None else bytes(r["payload"]))
            for r in build_page_work(docs, media, cfg).collect()),
            key=repr)
        rows = sorted(((c, *r) for c in cases
                       for r in _make_page_work(cfg)(spans[c], own)),
                      key=repr)
        assert rows == got
        return rows

    seen = set()
    own = {ref: [(1, p)] for ref, p in payloads.items()}
    for cfg, docs, media, cases in _parity_groups(spark, parity_docs):
        rows = both(cfg, docs, media, own, cases)
        for case in set(cases) & set(_SENTINEL_CASES):
            pages = [r[1] for r in rows if r[0] == case]
            assert pages.count(_SENTINEL_CASES[case]) == 1, (case, pages)
            seen.add(case)
    assert seen == set(_SENTINEL_CASES)

    case = "ref_on_two_pages"
    spans = {case: [dict(spans["corrupt_payload"][1], media_ref="ruled/p1")]}
    good, corrupt = payloads["ruled/p1"], payloads["corrupt/p1"]
    docs = spark.createDataFrame([(case, spans[case])],
                                 schema=DOCUMENTS_SCHEMA)
    media = spark.createDataFrame([("ruled/p1", case, 1, good),
                                   ("ruled/p1", case, 2, corrupt)],
                                  schema=MEDIA_SCHEMA)
    rows = both(_EMBEDDED, docs, media,
                {"ruled/p1": [(1, good), (2, corrupt)]}, [case])
    assert rows == [(case, 1, None, good), (case, 2, None, corrupt)]
    got = _rows_by_route(monkeypatch, lambda: extract(docs, media, _EMBEDDED,
                                                      2))
    assert got["light"] == got["heavy"]
    assert [r[0] for r in got["light"]] == [case]


@pytest.mark.parametrize("num_partitions", [2, 8])
def test_routes_agree_on_edge_documents(spark, parity_docs, monkeypatch,
                                        num_partitions):
    """Light and heavy routes give identical (doc_id, status, strategy,
    spans_json) rows on every edge document, each exactly once."""
    for cfg, docs, media, cases in _parity_groups(spark, parity_docs):
        got = _rows_by_route(monkeypatch, lambda: extract(
            docs, media, cfg, num_partitions))
        assert got["light"] == got["heavy"]
        assert sorted(r[0] for r in got["light"]) == sorted(cases)


@pytest.mark.parametrize("build,cfg,status", _MULTIPAGE_CASES,
                         ids=_MULTIPAGE_IDS)
def test_routes_agree_on_multipage_docs(spark, monkeypatch, build, cfg,
                                        status):
    fb = FixtureBuilder(seed=99)
    build(fb)
    docs_pdf, media_pdf = fb.to_pandas()
    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    got = _rows_by_route(monkeypatch, lambda: extract(docs, media, cfg, 4))
    assert got["light"] == got["heavy"]
    assert [r[1] for r in got["light"]] == [status]


@pytest.mark.parametrize("route", list(_ROUTES))
@pytest.mark.parametrize("num_partitions", [2, 8])
def test_media_of_another_document_never_resolves(spark, monkeypatch, route,
                                                  num_partitions):
    """A media span resolves only against media rows with its own
    document's doc_id. A span naming another document's media_ref, or a
    media row whose doc_id names no document, comes back 'error' on
    either route: never silently 'ok', never missing."""
    from extractpdf4j_spark import pipeline
    monkeypatch.setattr(pipeline, "LIGHT_SPANS", _ROUTES[route])
    fb = FixtureBuilder(seed=7)
    fb.grid_ruled("owner")
    fb.grid_ruled("stray")
    _, media_pdf = fb.to_pandas()
    owner_media, stray_media = (d["spans"][1] for d in fb.documents)
    docs = spark.createDataFrame(
        [("owner", fb.documents[0]["spans"]),
         ("thief", [owner_media]),            # another document's media
         ("stray", [stray_media])],           # its media row names 'elsewhere'
        schema=DOCUMENTS_SCHEMA)
    media_pdf.loc[media_pdf["doc_id"] == "stray", "doc_id"] = "elsewhere"
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    out = {r["doc_id"]: r["status"] for r in
           extract(docs, media, ExtractConfig(), num_partitions).collect()}
    assert out == {"owner": "ok", "thief": "error", "stray": "error"}


def test_partition_id_is_the_doc_id_hash_partition(spark):
    """partition_id is the stage-2 hash partition of doc_id, the partition
    ``repartition(n, "doc_id")`` puts the document in, for light and heavy
    documents alike."""
    fb = FixtureBuilder(seed=21)
    for i in range(3):
        fb.stmt_text(f"heavy-{i}", n_rows=3, n_pages=40)
    for i in range(12):
        fb.stmt_text(f"light-{i}", n_rows=3)
    docs_pdf, _ = fb.to_pandas()
    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA)
    n = 4
    want = {r["doc_id"]: r["p"] for r in
            docs.select("doc_id").repartition(n, "doc_id")
            .select("doc_id", F.spark_partition_id().alias("p")).collect()}
    got = {r["doc_id"]: r["partition_id"] for r in
           extract(docs, None, ExtractConfig(), num_partitions=n).collect()}
    assert got == want


def test_forget_zip_importers_keeps_zip_imports_working(tmp_path,
                                                        monkeypatch):
    """The batch functions' first step drops every cached zipimporter
    (PySpark's per-task ``importlib.invalidate_caches()`` would re-read
    each one's archive directory); a module in a zip on ``sys.path``
    still imports afterwards."""
    import importlib
    import sys
    import zipfile
    import zipimport
    from extractpdf4j_spark.pipeline import _forget_zip_importers
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_pkg/__init__.py", "")
        z.writestr("zipped_pkg/mod.py", "VALUE = 7\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zipped_pkg", "zipped_pkg.mod"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipped_pkg").__name__ == "zipped_pkg"
    assert any(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())
    _forget_zip_importers()
    assert not any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
    importlib.invalidate_caches()
    assert importlib.import_module("zipped_pkg.mod").VALUE == 7
    for name in ("zipped_pkg", "zipped_pkg.mod"):
        sys.modules.pop(name, None)


def _batch_function(name):
    from extractpdf4j_spark import pipeline
    from extractpdf4j_spark.pdfio import _make_decode_pdfs
    from extractpdf4j_spark.sinks import _make_debug_pages
    cfg = ExtractConfig()
    return {
        "page_work": lambda: pipeline._make_ref_page_work(cfg, True),
        "extract_pages": lambda: pipeline._make_extract_pages(cfg),
        "assemble_partition": lambda: pipeline._make_assemble_partition(cfg),
        "extract_documents": lambda: pipeline._make_extract_documents(cfg,
                                                                      True),
        "debug_pages": lambda: _make_debug_pages(cfg),
        "decode_pdfs": lambda: _make_decode_pdfs(lambda: None),
    }[name]()


@pytest.mark.parametrize("name", ["page_work", "extract_pages",
                                  "assemble_partition", "extract_documents",
                                  "debug_pages", "decode_pdfs"])
def test_batch_functions_forget_zip_importers(tmp_path, monkeypatch, name):
    """Every Python stage of the extraction job (page work, stage 1,
    stage 2, the light route, the ``--debug-out`` sink and the
    ``--pdf-input`` decode) drops the worker's cached zipimporters before
    its first batch."""
    import sys
    import zipfile
    import zipimport
    archive = tmp_path / "planted.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("planted.py", "")
    monkeypatch.setitem(sys.path_importer_cache, str(archive),
                        zipimport.zipimporter(str(archive)))
    assert list(_batch_function(name)(iter([]))) == []
    assert str(archive) not in sys.path_importer_cache
