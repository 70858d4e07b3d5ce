"""The Spark extraction pipeline: interleaved documents → extracted spans.

Dataflow (DataFrame ops; the Python runs in Arrow-batched mapInPandas
stages).
Each document takes one of two routes, by a native per-document key,
``coalesce(size(spans), 0) <= LIGHT_SPANS``:

    documents(doc_id, spans)          media(media_ref, doc_id, page, payload)
        |                                 |
        |  heavy ids collected ──────► filter on the heavy ids
        |  (one driver job)               (no exchange)
        |                                 |
    LIGHT (at most LIGHT_SPANS spans)     |
        repartition(doc_id) ─── sort-merge left join ── repartition(doc_id)
        |   on doc_id alone (co-partitioned: no further exchange; rows
        |   arrive sorted by doc_id, one per own media row)
        mapInPandas(extract_documents)  ← per document: page-work rows
        |                                 (_make_page_work), stage-1 fan-out,
        |                                 selection, span serialization
        |
    HEAVY (more spans)
        repartition(doc_id) ─── left join ── own media rows' (media_ref,
        |   on doc_id (co-partitioned)       page) set per doc_id,
        |                                    repartition(doc_id) (no payload)
        mapInPandas(page_work)              ← one row per document →
        |                                     page-work rows (_make_page_work),
        |                                     media_ref in the payload slot
        |   [page-range filter — the reference's only pruning,
        |    PageRange.java:15 / BaseParser.java:126-139 — pushed to the
        |    media scan as a native filter]
        repartition(hash(doc_id, page,      ← page-level units kill doc-size
        |            media_ref))              skew (a 500-page scan becomes
        |                                     500 independent tasks' worth)
        |   payload attached on (doc_id, page, media_ref): left join,
        |   broadcast when small, else the payload side takes the
        |   numbered side's partition count
        mapInPandas(extract_pages)          ← stage 1: per-page strategy
        |                                     fan-out (kernels.page_extractor),
        |                                     vectorized numpy kernels
        repartition(doc_id) + mapInPandas   ← stage 2: per-doc selection
        |                                     (scoring.select_strategy), span
        |                                     re-serialization, metrics
        |
    unionByName → write parquet (combined extracted+metrics, append by run)

Checkpoint/resume: each run appends per-document rows keyed by run_id and
partition lineage; ``run_extraction(resume=True)`` anti-joins documents
already present in the output against the input before stage 1
(SURVEY.md §4 — resumable restarts per the north rule).

Why two routes: the reference's hybrid selects ONE strategy per document
from scores averaged over all its pages (HybridParser.java:235-264). A
light document is small enough to extract in the task that receives it,
so its pages are never regrouped: its tables go straight from the kernels
into its output spans. A heavy document's pages are spread over the
cluster (stage 1) and regrouped per document once (stage 2); only those
pay a second exchange, a sort and a second Arrow crossing of every page
result. Both routes build a document's page work with the same function,
``_make_page_work``, and either way a media span resolves only against
media rows with the document's own ``doc_id``.
"""

from __future__ import annotations

import json
import re
import sys
import time
import zipimport
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, IntegerType,
                               LongType, StringType, StructField, StructType)

from .config import ExtractConfig, MODE_STREAM
from .docmodel import (MEDIA, TEXT, decode_glyph_blob, decode_media_payload,
                       serialize_tables)
from .kernels import page_extractor
from .ocr import OcrBackend
from .pagerange import is_all, parse_pages
from .scoring import STATUS_OK, score_cells_vectorized, select_strategy
from .table import Table
from . import __version__

# ---------------------------------------------------------------------------
# Schemas
# ---------------------------------------------------------------------------

SPAN_STRUCT = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
])

DOCUMENTS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(SPAN_STRUCT)),
])

MEDIA_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("doc_id", StringType()),
    StructField("page", IntegerType()),
    StructField("payload", BinaryType()),
])

PAGE_RESULT_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("page", IntegerType()),
    StructField("strategy", StringType()),
    StructField("cells_json", StringType()),
    StructField("col_bounds", ArrayType(DoubleType())),
    StructField("row_bounds", ArrayType(DoubleType())),
    StructField("score", DoubleType()),
    StructField("ocr_fallbacks", IntegerType()),
    StructField("headers_found", IntegerType()),
    StructField("errors", IntegerType()),
    StructField("wall_ms", LongType()),
])

COMBINED_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans_json", StringType()),
    StructField("status", StringType()),
    StructField("strategy", StringType()),
    StructField("tables_found", LongType()),
    StructField("cells_parsed", LongType()),
    StructField("ocr_fallbacks", LongType()),
    StructField("score", DoubleType()),
    StructField("wall_ms", LongType()),
    StructField("partition_id", IntegerType()),
])

PAGE_MARKER = "_page"

# A document with at most this many spans takes the light route (see the
# module docstring): the largest light document of the benchmark's
# workloads, whose documents have at most 6 spans or at least 44 (see
# ROADMAP.md).
LIGHT_SPANS = 6


# ---------------------------------------------------------------------------
# Stage 0: documents → page work units
# ---------------------------------------------------------------------------

# Page sentinels routed through stage 1 (never kernel-executed):
PAGE_MALFORMED = -1     # unparseable text-span header → 'error'
PAGE_NO_CONTENT = -2    # document with an empty spans array
PAGE_FILTERED = -3      # media page outside the page-range selection /
#                         media content ignored by a stream-only job
PAGE_UNKNOWN_KIND = -4  # span kind neither 'text' nor 'media' (schema drift)

# a text span's page header, 'p=<page>' at its start
_PAGE_HEADER = re.compile(r"p=([0-9]+)")


def _num_partitions(df: DataFrame, num_partitions: int | None) -> int:
    """``num_partitions``, or the session's shuffle partition count."""
    return num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def build_page_work(docs: DataFrame, media: DataFrame | None,
                    cfg: ExtractConfig,
                    num_partitions: int | None = None) -> DataFrame:
    """Per-page work rows (doc_id, page, glyph_blob, payload) for stage 1,
    by :func:`_make_page_work`'s rules, the same the light route and
    ``local`` use. ``extract`` runs it on the heavy documents only.

    The documents are hashed by ``doc_id`` and joined, co-partitioned, to
    a set of their own media rows' ``(media_ref, page)`` (no payload), so
    each document arrives as one row; one ``mapInPandas`` turns it into
    work rows with the media_ref in the payload slot. The work rows are
    hashed by ``(doc_id, page, media_ref)``, which spreads a big
    document's pages over the cluster, and the payloads attach last by a
    left join on those three keys: payload bytes cross exactly ONE
    exchange (a broadcast when small; otherwise the planner shuffles the
    payload side to the work rows' partition count, an exchange AQE does
    not coalesce because its sibling is numbered).

    ``num_partitions=None`` means the session's
    ``spark.sql.shuffle.partitions``, read at build time."""
    num_partitions = _num_partitions(docs, num_partitions)
    docs = docs.select("doc_id", "spans").repartition(num_partitions,
                                                      "doc_id")
    if cfg.strategies() == (MODE_STREAM,):
        media = None    # stream-only jobs never read rasters
    if media is not None:
        pages = parse_pages(cfg.pages)
        if not is_all(pages):
            # unselected pages are never read or shuffled
            media = media.filter(F.col("page").isin(pages))
        # a set: duplicate media rows each get a work row by the payload
        # join, as on the light route
        own = (media.select("doc_id", "media_ref", "page")
               .repartition(num_partitions, "doc_id")
               .groupBy("doc_id")
               .agg(F.collect_set(F.struct("media_ref", "page"))
                    .alias("own")))
        docs = docs.join(own, "doc_id", "left")
    work = (docs.mapInPandas(_make_ref_page_work(cfg, media is not None),
                             schema="doc_id string, page int, "
                                    "glyph_blob string, media_ref string")
            .repartition(num_partitions, "doc_id", "page", "media_ref"))
    if media is None:
        return work.select("doc_id", "page", "glyph_blob",
                           F.lit(None).cast("binary").alias("payload"))
    return (work.join(media.select("doc_id", "page", "media_ref", "payload"),
                      ["doc_id", "page", "media_ref"], "left")
            .select("doc_id", "page", "glyph_blob", "payload"))


def _make_ref_page_work(cfg: ExtractConfig, has_media: bool):
    """``build_page_work``'s batch function: rows ``(doc_id, spans[,
    own])``, one per document, ``own`` the document's media rows'
    ``(media_ref, page)`` structs (NULL without any); out ``(doc_id,
    page, glyph_blob, media_ref)``, the media_ref in the payload slot.
    ``has_media=False``: the job has no media table (or never reads
    it)."""
    page_work_rows = _make_page_work(cfg)
    cols = ["doc_id", "page", "glyph_blob", "media_ref"]

    def page_work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _forget_zip_importers()
        for pdf in batches:
            owns = pdf["own"] if has_media else [None] * len(pdf)
            rows = []
            for doc_id, spans, own in zip(pdf["doc_id"], pdf["spans"], owns):
                media = {} if has_media else None
                for m in own if own is not None else ():
                    media.setdefault(m["media_ref"], []).append(
                        (m["page"], m["media_ref"]))
                rows.extend((doc_id, *r) for r in page_work_rows(spans, media))
            yield pd.DataFrame(rows, columns=cols)

    return page_work


def _make_page_work(cfg: ExtractConfig):
    """``page_work_rows(spans, media)``: one document's stage-1 work rows
    ``(page, glyph_blob, payload)``.

    ``media`` maps a media_ref to the document's OWN media rows for it, as
    ``(page, payload)`` pairs (the job reads the page from the row;
    ``local`` reads it from the payload header); ``None`` means the job
    has no media table. A stream-only job never reads it.

    Rules: a text span's page is its ``p=<page>`` header (MALFORMED when
    it has none), its glyph blob the text after the header's line (None
    on a page outside the selection). A media span gives one page per own
    media row on a selected page, with that row's payload; one without
    any gets the unresolved page ('error' under pages=all, FILTERED
    otherwise). Text and media rows of the same page pair up, as a
    full-outer join on the page would. Empty spans, unknown kinds and
    media spans of a job without media (or a stream-only job) give one
    presence row each, so every document reaches stage 2.
    Row order: text rows in span order, each joined to the media rows of
    its page, then the media rows of pages without text, then presence
    rows."""
    selected = parse_pages(cfg.pages)
    filtered = not is_all(selected)
    stream_only = cfg.strategies() == (MODE_STREAM,)
    unresolved = PAGE_FILTERED if filtered else PAGE_MALFORMED

    def page_work_rows(spans, media) -> list[tuple]:
        text, media_pages, presence = [], {}, []
        for s in (list(spans) if spans is not None else []) or [None]:
            kind = None if s is None else s["kind"]
            if kind == MEDIA:
                if stream_only or media is None:
                    presence.append((PAGE_FILTERED if stream_only
                                     else PAGE_MALFORMED, "", None))
                    continue
                ref = s["media_ref"]
                own = [(p, pay) for p, pay in
                       (media.get(ref, ()) if ref is not None else ())
                       if p is not None and (not filtered or p in selected)]
                for p, pay in own or [(unresolved, None)]:
                    media_pages.setdefault(p, []).append(pay)
                continue
            blob, page = "", (PAGE_NO_CONTENT if s is None
                              else PAGE_UNKNOWN_KIND)
            if kind == TEXT:
                m = _PAGE_HEADER.match(s["text"] or "")
                page = (int(m[1]) if m and int(m[1]) < 2**31
                        else PAGE_MALFORMED)
                blob = (s["text"] or "").partition("\n")[2]
            text.append((page, None if filtered and page not in selected
                         else blob))
        rows = [(page, blob, pay) for page, blob in text
                for pay in media_pages.get(page, [None])]
        text_pages = {page for page, _ in text}
        rows += [(page, None, pay) for page, pays in media_pages.items()
                 if page not in text_pages for pay in pays]
        return rows + presence

    return page_work_rows


# ---------------------------------------------------------------------------
# Stage 1: per-page strategy fan-out (Arrow-batched kernel)
# ---------------------------------------------------------------------------

def _decode_page(page: int, glyph_blob, payload):
    """A work row's ``(glyphs, payload)``, None where absent; raises
    ValueError on a malformed blob or payload."""
    glyphs = (decode_glyph_blob(page, glyph_blob)
              if isinstance(glyph_blob, str) and glyph_blob else None)
    return glyphs, (decode_media_payload(payload)
                    if payload is not None else None)


def _extract_page(extract_page, page: int, glyph_blob, payload):
    """Stage 1 for one work row: ``(tables, marker)``, the page's non-empty
    strategy tables as ``(strategy, table, score)`` and its marker
    ``(ocr_fallbacks, headers_found, errors, wall_ms)``."""
    t0 = time.perf_counter()
    tables = []
    ocr_fb = 0
    headers_found = 0
    errors = 0
    # per-page isolation: a corrupt document must never kill the job —
    # it becomes an 'error' status in metrics
    try:
        if page >= 0:
            glyphs, pay = _decode_page(page, glyph_blob, payload)
            for strat, table, n_ocr, found in extract_page(glyphs, pay):
                ocr_fb += n_ocr
                headers_found |= int(found)
                if table.nrows > 0:
                    # score here while the table is in hand — the
                    # selection never parses losers
                    tables.append((strat, table,
                                   score_cells_vectorized(table.cells)))
        elif page not in (PAGE_NO_CONTENT, PAGE_FILTERED, PAGE_UNKNOWN_KIND):
            # presence sentinels get a bare marker; any other negative
            # page is a malformed header
            raise ValueError("malformed text span header")
    except Exception:
        errors = 1
    wall = int((time.perf_counter() - t0) * 1000)
    return tables, (ocr_fb, headers_found, errors, wall)


def _extract_page_row(extract_page, t, rows: list) -> None:
    """Stage 1 for one work row ``t`` (doc_id, page, glyph_blob, payload):
    append a row per non-empty strategy table, then the page's marker."""
    # page arrives as float NaN when NULL (unresolved media ref with no
    # media table) — route to the error marker
    page = (int(t.page) if t.page is not None and t.page == t.page
            else PAGE_MALFORMED)
    tables, marker = _extract_page(extract_page, page, t.glyph_blob,
                                   t.payload)
    rows.extend((t.doc_id, page, strat, json.dumps(table.cells),
                 table.col_bounds, table.row_bounds, score, 0, 0, 0, 0)
                for strat, table, score in tables)
    rows.append((t.doc_id, page, PAGE_MARKER, "", [], [], 0.0, *marker))


def _make_extract_pages(cfg: ExtractConfig, backend: OcrBackend | None = None):
    def extract_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _forget_zip_importers()
        extract_page = page_extractor(cfg, backend)
        cols = [f.name for f in PAGE_RESULT_SCHEMA.fields]
        for pdf in batches:
            rows: list[tuple] = []
            for t in pdf.itertuples(index=False):
                _extract_page_row(extract_page, t, rows)
            yield pd.DataFrame(rows, columns=cols)

    return extract_pages


# ---------------------------------------------------------------------------
# Stage 2: per-document selection + span serialization + metrics
# ---------------------------------------------------------------------------

def _make_assemble_partition(cfg: ExtractConfig):
    """Per-document selection as a partition-level mapInPandas: rows are
    hash-partitioned AND sorted by doc_id upstream (extract() appends a
    local sortWithinPartitions to the stage-2 exchange), so each
    partition holds whole documents in contiguous runs. One pandas
    groupby per Arrow batch replaces one applyInPandas call per document
    (the per-group Python/Arrow overhead dominated stage 2), and the
    sort contract lets us stream batch-by-batch: only the possibly
    incomplete trailing document is carried over, so peak memory is
    O(arrow batch + largest single doc), never O(partition) — a
    pathological partition cannot OOM the worker."""
    strategies = cfg.strategies()
    cols = [f.name for f in COMBINED_SCHEMA.fields]

    def assemble_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _forget_zip_importers()

        def flush(pdf: pd.DataFrame) -> pd.DataFrame:
            # column arrays once per batch; per-document work then runs on
            # plain Python over contiguous doc runs (the sorted-input
            # contract) — a pandas frame+mask per document dominated the
            # stage at a few rows per document
            doc = pdf["doc_id"].to_numpy()
            arrs = {c: pdf[c].to_numpy() for c in
                    ("strategy", "score", "page", "cells_json", "col_bounds",
                     "row_bounds", "ocr_fallbacks", "headers_found",
                     "errors", "wall_ms")}
            out = [_assemble_run(cfg, strategies, doc[s], arrs, s, e)
                   for s, e in _doc_runs(doc)]
            return pd.DataFrame(out, columns=cols)

        for pdf in _whole_documents(batches):
            yield flush(pdf)

    return assemble_partition


def _whole_documents(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Re-cut Arrow batches of rows sorted by doc_id so that no document
    spans two frames: each batch is yielded without its trailing
    document, which is carried into the next. Memory: a batch plus the
    largest document."""
    pending: pd.DataFrame | None = None
    for pdf in batches:
        if pending is not None:
            pdf = pd.concat([pending, pdf], ignore_index=True)
            pending = None
        if not len(pdf):
            continue
        # sorted input → the last doc_id's rows are the batch tail and may
        # continue in the next batch; hold them back
        tail = pdf["doc_id"] == pdf["doc_id"].iloc[-1]
        pending = pdf[tail]
        head = pdf[~tail]
        if len(head):
            yield head
    if pending is not None and len(pending):
        yield pending


def _doc_runs(doc: np.ndarray) -> list[tuple[int, int]]:
    """``[start, end)`` of each contiguous doc_id run of a sorted frame."""
    change = np.empty(len(doc), dtype=bool)
    change[0] = True
    change[1:] = doc[1:] != doc[:-1]
    starts = np.flatnonzero(change)
    return list(zip(starts.tolist(), np.append(starts[1:], len(doc)).tolist()))


def _assemble_run(cfg: ExtractConfig, strategies, doc_id: str,
                  arrs: dict, s: int, e: int) -> tuple:
    """Assemble one document from its contiguous row run [s, e) of the
    batch's column arrays: fold its page markers, then :func:`_doc_row`.
    Only the winner's tables are JSON-parsed."""
    strat = arrs["strategy"]
    ocr_fallbacks = 0
    headers_found = False
    errors = 0
    wall_ms = 0
    per_idx: dict[str, list[int]] = {st: [] for st in strategies}
    for i in range(s, e):
        st = strat[i]
        if st == PAGE_MARKER:
            ocr_fallbacks += int(arrs["ocr_fallbacks"][i])
            if arrs["headers_found"][i] > 0:
                headers_found = True
            errors += int(arrs["errors"][i])
            wall_ms += int(arrs["wall_ms"][i])
        elif st in per_idx:
            per_idx[st].append(i)

    score, page = arrs["score"], arrs["page"]

    def winner_tables(winner: str) -> list[tuple[int, Table]]:
        return [(int(page[i]), Table(json.loads(arrs["cells_json"][i]),
                                     list(arrs["col_bounds"][i]),
                                     list(arrs["row_bounds"][i])))
                for i in sorted(per_idx[winner], key=lambda i: page[i])]

    return _doc_row(cfg, doc_id,
                    {st: score[idx] for st, idx in per_idx.items()},
                    winner_tables, (ocr_fallbacks, headers_found, errors,
                                    wall_ms))


def _doc_row(cfg: ExtractConfig, doc_id: str, page_scores: dict,
             winner_tables, marker: tuple) -> tuple:
    """One document's COMBINED_SCHEMA row: select the strategy
    (scoring.select_strategy) from each strategy's page-table scores and
    serialize the winner's tables, ``winner_tables(winner)`` as
    ``[(page, Table)]`` in page order. ``marker`` is the document's summed
    ``(ocr_fallbacks, headers_found, errors, wall_ms)``. The row's
    ``partition_id`` is -1; ``extract`` sets it on both routes."""
    ocr_fallbacks, headers_found, errors, wall_ms = marker
    status, winner, best = select_strategy(cfg, page_scores,
                                           bool(headers_found), errors)
    if status != STATUS_OK:
        return (doc_id, "[]", status, winner, 0, 0, ocr_fallbacks,
                float(best), wall_ms, -1)
    tables = winner_tables(winner)
    spans = serialize_tables([(p, winner, t) for p, t in tables])
    cells_parsed = sum(t.nrows * t.ncols for _, t in tables)
    return (doc_id, json.dumps(spans), STATUS_OK, winner, len(tables),
            cells_parsed, ocr_fallbacks, float(best), wall_ms, -1)


# ---------------------------------------------------------------------------
# Light route: page work, stage 1 and selection in one task per document
# ---------------------------------------------------------------------------

def _make_extract_documents(cfg: ExtractConfig, has_media: bool):
    """The light route's batch function. Rows come sorted by doc_id, one
    per (document, own media row) pair: ``(doc_id, spans, media_ref,
    page, payload)``, the media columns NULL for a document without media
    rows. Out: each document's COMBINED_SCHEMA row. Its pages run through
    stage 1's per-page function and its tables go straight to the
    selection, never through JSON. ``has_media=False``: the job has no
    media table. A doc_id names one document (the resume checkpoint keys
    on it too): its spans are read from its first row. Memory: an Arrow
    batch (at most one payload per row) plus the largest document."""
    strategies = cfg.strategies()
    cols = [f.name for f in COMBINED_SCHEMA.fields]
    page_work_rows = _make_page_work(cfg)

    def extract_documents(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _forget_zip_importers()
        extract_page = page_extractor(cfg)
        for pdf in _whole_documents(batches):
            doc, spans = pdf["doc_id"].to_numpy(), pdf["spans"].to_numpy()
            refs, pages = pdf["media_ref"].to_numpy(), pdf["page"].to_numpy()
            payloads = pdf["payload"].to_numpy()
            out = []
            for s, e in _doc_runs(doc):
                own = {} if has_media else None
                for i in range(s, e):
                    if refs[i] is not None:
                        p = pages[i]
                        own.setdefault(refs[i], []).append(
                            (None if p is None or p != p else int(p),
                             payloads[i]))
                out.append(_extract_document(
                    cfg, strategies, extract_page, doc[s],
                    page_work_rows(spans[s], own)))
            yield pd.DataFrame(out, columns=cols)

    return extract_documents


def _extract_document(cfg: ExtractConfig, strategies, extract_page,
                      doc_id: str, work: list[tuple]) -> tuple:
    """One document's COMBINED_SCHEMA row from its work rows
    ``(page, glyph_blob, payload)``."""
    found: dict[str, list] = {st: [] for st in strategies}
    marker = [0, 0, 0, 0]
    for page, glyph_blob, payload in work:
        tables, page_marker = _extract_page(extract_page, page, glyph_blob,
                                            payload)
        for st, table, score in tables:
            if st in found:
                found[st].append((page, score, table))
        marker = [m + v for m, v in zip(marker, page_marker)]

    def winner_tables(winner: str) -> list[tuple[int, Table]]:
        return [(p, t) for p, _, t in sorted(found[winner],
                                             key=lambda r: r[0])]

    return _doc_row(cfg, doc_id,
                    {st: [sc for _, sc, _ in v] for st, v in found.items()},
                    winner_tables, tuple(marker))


def _forget_zip_importers() -> None:
    """Drop the zip importers this Python worker has cached.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and up to Python 3.11 that makes every cached
    ``zipimporter`` re-read its archive's whole central directory, at
    once. A worker holds one per package directory imported from
    ``pyspark.zip``, the py4j zip and the Spark jar on its path (16 after
    one extraction task): about 0.3-0.5 s per task at ``local[4]``, more
    than a light partition's extraction. Called at the start of each
    batch function, so the next task on this worker re-reads none; an
    import that needs one rebuilds it from zipimport's own directory
    cache."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


# ---------------------------------------------------------------------------
# Job driver
# ---------------------------------------------------------------------------

def extract(docs: DataFrame, media: DataFrame | None = None,
            cfg: ExtractConfig = ExtractConfig(),
            num_partitions: int | None = None) -> DataFrame:
    """The full extraction plan (lazy but for one job that collects the
    heavy documents' ids, see below). Returns the combined per-document
    DataFrame: extracted spans (as JSON, see :func:`with_spans`) plus
    metrics columns. ``num_partitions=None`` means the session's
    ``spark.sql.shuffle.partitions``, read when the plan is built.

    Routing: a document with at most ``LIGHT_SPANS`` spans (NULL spans
    count as 0) is light. Light documents and their own media rows are
    each hashed by ``doc_id`` into ``num_partitions`` partitions and
    sort-merge joined on ``doc_id`` alone, co-partitioned, so the join
    adds no exchange and hands the rows over sorted by ``doc_id``. One
    task then extracts and assembles each document: memory is an Arrow
    batch, one payload per row, plus the largest document (at most
    ``LIGHT_SPANS`` spans, which each of its media rows carries once).
    Heavy documents take ``build_page_work``'s page-level spread, stage 1
    and the stage-2 regroup, whose streaming assemble keeps memory at a
    batch plus the largest document.

    The heavy documents' ids are collected to the driver when the plan
    is built (one job over ``docs``), and the media table is split by a
    filter on them, so the split moves no payload and reads ``docs`` no
    further: payload bytes cross exactly one exchange on either route,
    and without heavy documents the plan has no heavy route at all.
    Heavy documents are rare by construction (at most ``total spans /
    (LIGHT_SPANS + 1)``); on a corpus where they are not, the driver
    holds all their ids (a few tens of bytes each) and ships them in the
    plan.

    Every exchange that feeds a Python stage is numbered
    (REPARTITION_BY_NUM) or joined to a numbered one, so AQE's SIZE-based
    coalescing never collapses these small-bytes / heavy-CPU rows onto a
    few cores (measured 3x regression), whatever the session's
    coalescing setting. ``partition_id`` is the stage-2 hash partition
    of ``doc_id``, ``pmod(hash(doc_id), num_partitions)``, on both
    routes."""
    num_partitions = _num_partitions(docs, num_partitions)
    docs = docs.select("doc_id", "spans")
    light = F.coalesce(F.size("spans"), F.lit(0)) <= LIGHT_SPANS
    heavy_docs = docs.filter(~light)
    heavy = [r["doc_id"] for r in heavy_docs.select("doc_id").collect()]
    heavy_ids = sorted(set(heavy) - {None})
    light_media = heavy_media = None
    if media is not None and cfg.strategies() != (MODE_STREAM,):
        is_heavy = F.col("doc_id").isin(heavy_ids)
        heavy_media = media.filter(is_heavy)
        light_media = media.filter(~is_heavy)
        pages = parse_pages(cfg.pages)
        if not is_all(pages):
            # unselected pages are never shuffled
            light_media = light_media.filter(F.col("page").isin(pages))

    light_docs = docs.filter(light).repartition(num_partitions, "doc_id")
    if light_media is None:
        light_docs = light_docs.select(
            "doc_id", "spans", F.lit(None).cast("string").alias("media_ref"),
            F.lit(None).cast("int").alias("page"),
            F.lit(None).cast("binary").alias("payload"))
    else:
        own = (light_media.select("doc_id", "media_ref", "page", "payload")
               .repartition(num_partitions, "doc_id"))
        # both sides hashed on doc_id alone: the join adds no exchange.
        # SHUFFLE_MERGE keeps AQE from turning a small media side into a
        # broadcast, which would move payload bytes a second time
        light_docs = light_docs.join(own.hint("SHUFFLE_MERGE"), "doc_id",
                                     "left")
    # the sort-merge join's output is already sorted (the planner drops
    # this sort then); the media-less plan sorts here
    light_out = (light_docs.sortWithinPartitions("doc_id")
                 .mapInPandas(_make_extract_documents(cfg, media is not None),
                              schema=COMBINED_SCHEMA))

    # A union numbers its second child's tasks from num_partitions, so
    # the hash partition is computed here rather than read from the task.
    partition_id = F.pmod(F.hash("doc_id"),
                          F.lit(num_partitions)).cast("int")
    if not heavy:
        return light_out.withColumn("partition_id", partition_id)
    work = build_page_work(heavy_docs, heavy_media, cfg, num_partitions)
    page_results = work.mapInPandas(_make_extract_pages(cfg),
                                    schema=PAGE_RESULT_SCHEMA)
    # one explicit hash shuffle co-locates each document's page rows, then
    # stage 2 runs partition-wise (see _make_assemble_partition); the
    # local (spillable, JVM-side) sort makes each document a contiguous
    # run — the streaming assemble's memory-bound contract; no exchange
    heavy_out = (page_results.repartition(num_partitions, "doc_id")
                 .sortWithinPartitions("doc_id")
                 .mapInPandas(_make_assemble_partition(cfg),
                              schema=COMBINED_SCHEMA))
    # Completeness holds by construction: every document gives at least
    # one work row (presence sentinels) and is assembled exactly once
    # (BaseParser.finalizeResults "no tables" parity, and resume
    # termination) — no side anti-join plan.
    return (light_out.unionByName(heavy_out)
            .withColumn("partition_id", partition_id))


def with_spans(combined: DataFrame) -> DataFrame:
    """documents_extracted view: parse spans_json natively (JVM-side
    from_json, no Python) into the canonical spans array."""
    return combined.select(
        "doc_id",
        F.from_json("spans_json", ArrayType(SPAN_STRUCT)).alias("spans"))


def metrics_view(combined: DataFrame) -> DataFrame:
    return combined.select("doc_id", "status", "strategy", "tables_found",
                           "cells_parsed", "ocr_fallbacks", "score",
                           "wall_ms", "partition_id", "run_id", "lineage")


def run_extraction(spark: SparkSession, docs: DataFrame,
                   media: DataFrame | None, cfg: ExtractConfig,
                   out_dir: str, run_id: str, resume: bool = True,
                   num_partitions: int | None = None) -> DataFrame:
    """Execute the job with checkpoint/resume and lineage.

    ``out_dir`` is a parquet directory (rows land in
    ``{out_dir}/combined``) or a catalog table identifier — an Iceberg
    table when the session catalog is Iceberg-backed (sources.py seam).
    With ``resume=True``, documents already present (any terminal status,
    from any earlier run of the same target) are anti-joined away before
    the kernels run — a restart re-processes only missing documents (the
    metrics table doubles as the checkpoint, SURVEY.md §4)."""
    from .sources import append_table, is_table_identifier, try_read_table
    target = out_dir if is_table_identifier(out_dir) else f"{out_dir}/combined"
    if resume:
        prev = try_read_table(spark, target)
        if prev is not None:
            done = prev.select("doc_id").distinct()
            docs = docs.join(done, "doc_id", "left_anti")

    lineage = json.dumps({
        "run_id": run_id,
        "engine_version": __version__,
        "config_hash": cfg.config_hash(),
    })
    combined = (extract(docs, media, cfg, num_partitions)
                .withColumn("run_id", F.lit(run_id))
                .withColumn("lineage", F.lit(lineage)))
    append_table(combined, target)
    from .sources import read_table
    return read_table(spark, target)
