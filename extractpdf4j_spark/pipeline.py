"""The Spark extraction pipeline: interleaved documents → extracted spans.

Dataflow (all DataFrame ops; the only Python is Arrow-batched kernels):

    documents(doc_id, spans)                    media(media_ref, payload)
        |  explode spans (native, codegen)          |
        |  text spans → (doc_id, page, glyph_blob)  |
        |  media spans → (doc_id, page, media_ref) ─┤ equi-join on media_ref
        |                                           |
        +── full-outer join on (doc_id, page) ──────+
        |   [page-range filter — the reference's only pruning,
        |    PageRange.java:15 / BaseParser.java:126-139 — pushed to the
        |    scan as a native filter]
        |
        repartition(hash(doc_id, page))     ← page-level units kill doc-size
        |                                     skew (a 500-page scan becomes
        |                                     500 independent tasks' worth)
        mapInPandas(extract_pages)          ← stage 1: per-page strategy
        |                                     fan-out (kernels.page_extractor),
        |                                     vectorized numpy kernels
        repartition(doc_id) + mapInPandas   ← stage 2: per-doc selection
        |                                     (scoring.select_strategy), span
        |                                     re-serialization, metrics
        write parquet (combined extracted+metrics, append by run)

Checkpoint/resume: each run appends per-document rows keyed by run_id and
partition lineage; ``run_extraction(resume=True)`` anti-joins documents
already present in the output against the input before stage 1
(SURVEY.md §4 — resumable restarts per the north rule).

Why two stages: the reference's hybrid selects ONE strategy per document
from scores averaged over all its pages (HybridParser.java:235-264), so
page-level extraction must regroup per document once. The regrouped rows
are tiny (cell text + bounds), so the stage-2 shuffle is negligible next
to stage 1's raster decode.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, IntegerType,
                               LongType, StringType, StructField, StructType)

from .config import ExtractConfig, MODE_STREAM
from .docmodel import decode_glyph_blob, decode_media_payload, serialize_tables
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


# ---------------------------------------------------------------------------
# Stage 0: native span explode → page work units
# ---------------------------------------------------------------------------

# Page sentinels routed through stage 1 (never kernel-executed):
PAGE_MALFORMED = -1     # unparseable text-span header → 'error'
PAGE_NO_CONTENT = -2    # document with an empty spans array
PAGE_FILTERED = -3      # media page outside the page-range selection /
#                         media content ignored by a stream-only job
PAGE_UNKNOWN_KIND = -4  # span kind neither 'text' nor 'media' (schema drift)


def _num_partitions(df: DataFrame, num_partitions: int | None) -> int:
    """``num_partitions``, or the session's shuffle partition count."""
    return num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def build_page_work(docs: DataFrame, media: DataFrame | None,
                    cfg: ExtractConfig,
                    num_partitions: int | None = None) -> DataFrame:
    """Explode interleaved spans into per-page work rows
    (doc_id, page, glyph_blob, payload) using only native ops so Catalyst
    prunes/pushes everything up to the kernel boundary.

    Completeness by construction: ``explode_outer`` keeps empty-span
    documents (page NO_CONTENT sentinel), and the page-range filter
    BLANKS unselected content instead of dropping rows — every input
    document reaches stage 2 exactly once with no side anti-join plan.

    Shuffle budget (the 100 TB concern — payload bytes dominate): page
    resolution joins a payload-PRUNED projection of the media table, the
    (doc_id, page) outer join pre-repartitions both sides so the explicit
    ``num_partitions`` spread costs no extra exchange, and raster
    payloads attach LAST via one media_ref equi-join — payload bytes
    cross exactly ONE exchange end-to-end (they used to cross three).
    Rows without a media_ref join on a salted ``_jref`` key that matches
    nothing, so the null-ref key never concentrates text-heavy corpora on
    one task.

    ``num_partitions=None`` means the session's
    ``spark.sql.shuffle.partitions``, read at build time: the page
    exchanges are always numbered (REPARTITION_BY_NUM), which AQE never
    coalesces, so stage 1 keeps its spread whatever the session's
    coalescing setting.
    """
    num_partitions = _num_partitions(docs, num_partitions)
    pages = parse_pages(cfg.pages)
    filtered = not is_all(pages)

    spans = docs.select("doc_id", F.explode_outer("spans").alias("s"))

    # try_cast: a malformed span header becomes the MALFORMED sentinel →
    # an 'error' status row, never a job-killing ANSI cast exception.
    # Empty-span documents surface as a NULL span → NO_CONTENT; a span
    # kind that is neither 'text' nor 'media', NULL included, gets a
    # presence sentinel so the document still reaches stage 2.
    is_text = F.col("s.kind").eqNullSafe("text")
    is_media = F.col("s.kind").eqNullSafe("media")
    page_col = F.when(
        F.col("s").isNull(), F.lit(PAGE_NO_CONTENT)
    ).when(
        ~is_text, F.lit(PAGE_UNKNOWN_KIND)
    ).otherwise(
        F.coalesce(F.regexp_extract(F.col("s.text"), r"^p=(\d+)", 1)
                   .try_cast("int"), F.lit(PAGE_MALFORMED)))
    blob_col = F.when(
        is_text & (F.instr(F.col("s.text"), "\n") > 0),
        F.expr("substring(s.text, instr(s.text, '\\n')+1, length(s.text))")
    ).otherwise(F.lit(""))
    if filtered:
        # reference pruning (PageRange, op 3): unselected pages keep their
        # presence row but ship no glyph bytes through the shuffle
        blob_col = F.when(page_col.isin(pages), blob_col)

    text_pages = (spans.filter(~is_media)
                  .select("doc_id", page_col.alias("page"),
                          blob_col.alias("glyph_blob")))

    if cfg.strategies() == (MODE_STREAM,):
        # stream-only jobs never touch rasters: skip the payload join
        # entirely (Catalyst can't know the UDF ignores the column).
        # Media spans still emit a FILTERED presence sentinel so an
        # all-media document reaches stage 2 (and the resume checkpoint)
        # instead of silently vanishing from the output.
        media_presence = (spans.filter(is_media)
                          .select("doc_id",
                                  F.lit(PAGE_FILTERED).alias("page"),
                                  F.lit("").alias("glyph_blob")))
        return (text_pages.unionByName(media_presence)
                .withColumn("payload", F.lit(None).cast("binary"))
                .repartition(num_partitions, F.col("doc_id"), F.col("page")))

    media_refs = spans.filter(is_media).select(
        "doc_id", F.col("s.media_ref").alias("media_ref"))
    if media is not None:
        # page resolution against a payload-pruned projection — the scan
        # reads only (media_ref, page), never raster bytes
        m_meta = media.select("media_ref", "page")
        if filtered:
            # partition/predicate pruning on the media table: unselected
            # pages are never read or shuffled (meta AND payload scans)
            m_meta = m_meta.filter(F.col("page").isin(pages))
        media_pages = (media_refs.join(m_meta, "media_ref", "left")
                       .select("doc_id",
                               # unresolved ref: 'error' under pages=all,
                               # indistinguishable from pruned otherwise
                               F.coalesce(F.col("page"),
                                          F.lit(PAGE_FILTERED if filtered
                                                else PAGE_MALFORMED))
                               .alias("page"),
                               "media_ref"))
    else:
        media_pages = media_refs.select(
            "doc_id", F.lit(PAGE_MALFORMED).alias("page"), "media_ref")

    # pre-repartition BOTH join inputs to the target partitioning: the
    # outer join then reuses it (no ENSURE_REQUIREMENTS exchange) and no
    # separate repartition of the joined rows is needed — glyph blobs
    # cross one exchange instead of two
    tp = text_pages.repartition(num_partitions, F.col("doc_id"),
                                F.col("page"))
    mp = media_pages.repartition(num_partitions, F.col("doc_id"),
                                 F.col("page"))
    # SHUFFLE_HASH: a full-outer sort-merge pays two whole-partition sorts
    # (plus their codegen) for metadata-sized rows; the hash variant
    # builds the media side per partition instead (bounded: page-level
    # keys, metadata-only columns, partition count scales with the
    # corpus). Measured 0.91 -> 0.61 s steady / 2.64 -> 0.75 s first-call
    # on the sf0.1 page-work plan; output rows identical.
    work = tp.join(mp.hint("SHUFFLE_HASH"), ["doc_id", "page"],
                   "full_outer")

    if media is None:
        return (work.drop("media_ref")
                .withColumn("payload", F.lit(None).cast("binary")))

    m_pay = media.select(F.col("media_ref").alias("_jref"), "payload")
    if filtered:
        m_pay = (media.filter(F.col("page").isin(pages))
                 .select(F.col("media_ref").alias("_jref"), "payload"))
    # Null-ref rows (text-only pages) would all hash to ONE partition in
    # the payload join — salt them with a '\x00'-prefixed bucket (real
    # refs never start with a NUL byte) so they spread while matching
    # nothing; the left join then leaves payload NULL for them.
    salt = F.concat(F.lit("\x00"),
                    F.pmod(F.hash("doc_id", "page"), F.lit(64)).cast("string"))
    work = (work.withColumn("_jref", F.coalesce(F.col("media_ref"), salt))
            .drop("media_ref"))
    return (work.join(m_pay, "_jref", "left")
            .select("doc_id", "page", "glyph_blob", "payload"))


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


def _extract_page_row(extract_page, t, rows: list) -> None:
    """Stage 1 for one work row ``t`` (doc_id, page, glyph_blob, payload):
    append a row per non-empty strategy table, then the page's marker."""
    t0 = time.perf_counter()
    doc_id = t.doc_id
    # page arrives as float NaN when NULL (unresolved media ref with no
    # media table) — route to the error marker
    page = (int(t.page) if t.page is not None and t.page == t.page
            else PAGE_MALFORMED)
    ocr_fb = 0
    headers_found = 0
    errors = 0
    # per-page isolation: a corrupt document must never kill the job —
    # it becomes an 'error' status in metrics
    try:
        if page >= 0:
            glyphs, payload = _decode_page(page, t.glyph_blob, t.payload)
            for strat, table, n_ocr, found in extract_page(glyphs, payload):
                ocr_fb += n_ocr
                headers_found |= int(found)
                if table.nrows > 0:
                    # score here while the table is in hand — the
                    # selection stage then never parses losers
                    rows.append((doc_id, page, strat,
                                 json.dumps(table.cells), table.col_bounds,
                                 table.row_bounds,
                                 score_cells_vectorized(table.cells),
                                 0, 0, 0, 0))
        elif page not in (PAGE_NO_CONTENT, PAGE_FILTERED, PAGE_UNKNOWN_KIND):
            # presence sentinels get a bare marker; any other negative
            # page is a malformed header
            raise ValueError("malformed text span header")
    except Exception:
        errors = 1
    wall = int((time.perf_counter() - t0) * 1000)
    rows.append((doc_id, page, PAGE_MARKER, "", [], [], 0.0,
                 ocr_fb, headers_found, errors, wall))


def _make_extract_pages(cfg: ExtractConfig, backend: OcrBackend | None = None):
    def extract_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
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
        tc = TaskContext.get()
        partition_id = tc.partitionId() if tc is not None else -1

        def flush(pdf: pd.DataFrame) -> pd.DataFrame:
            # column arrays once per batch; per-document work then runs on
            # plain Python over contiguous doc runs (the sorted-input
            # contract) — a pandas frame+mask per document dominated the
            # stage at a few rows per document
            doc = pdf["doc_id"].to_numpy()
            change = np.empty(len(doc), dtype=bool)
            change[0] = True
            change[1:] = doc[1:] != doc[:-1]
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], len(doc))
            arrs = {c: pdf[c].to_numpy() for c in
                    ("strategy", "score", "page", "cells_json", "col_bounds",
                     "row_bounds", "ocr_fallbacks", "headers_found",
                     "errors", "wall_ms")}
            out = [_assemble_run(cfg, strategies, doc[s], arrs,
                                 int(s), int(e), partition_id)
                   for s, e in zip(starts, ends)]
            return pd.DataFrame(out, columns=cols)

        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            # sorted input → the last doc_id's rows are the batch tail
            # and may continue in the next batch; hold them back
            tail = pdf["doc_id"] == pdf["doc_id"].iloc[-1]
            pending = pdf[tail]
            head = pdf[~tail]
            if len(head):
                yield flush(head)
        if pending is not None and len(pending):
            yield flush(pending)

    return assemble_partition


def _assemble_run(cfg: ExtractConfig, strategies, doc_id: str,
                  arrs: dict, s: int, e: int, partition_id: int) -> tuple:
    """Assemble one document from its contiguous row run [s, e) of the
    batch's column arrays: fold its page markers, select the strategy
    (scoring.select_strategy) and serialize the winner's tables. Returns
    the document's COMBINED_SCHEMA row."""
    strat = arrs["strategy"]
    ocr_fallbacks = 0
    headers_found = False
    errors = 0
    wall_ms = 0
    # per-strategy row indices; scores were computed in stage 1, so
    # losers are never JSON-parsed here
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

    score = arrs["score"]
    status, winner, best = select_strategy(
        cfg, {st: score[idx] for st, idx in per_idx.items()},
        headers_found, errors)
    if status != STATUS_OK:
        return (doc_id, "[]", status, winner, 0, 0, ocr_fallbacks,
                float(best), wall_ms, partition_id)

    page = arrs["page"]
    widx = sorted(per_idx[winner], key=lambda i: page[i])
    tables = [(int(page[i]), Table(json.loads(arrs["cells_json"][i]),
                                   list(arrs["col_bounds"][i]),
                                   list(arrs["row_bounds"][i])))
              for i in widx]
    spans = serialize_tables([(p, winner, t) for p, t in tables])
    cells_parsed = sum(t.nrows * t.ncols for _, t in tables)
    return (doc_id, json.dumps(spans), STATUS_OK, winner, len(tables),
            cells_parsed, ocr_fallbacks, float(best), wall_ms, partition_id)


# ---------------------------------------------------------------------------
# Job driver
# ---------------------------------------------------------------------------

def extract(docs: DataFrame, media: DataFrame | None = None,
            cfg: ExtractConfig = ExtractConfig(),
            num_partitions: int | None = None) -> DataFrame:
    """The full extraction plan (lazy). Returns the combined per-document
    DataFrame: extracted spans (as JSON, see :func:`with_spans`) plus
    metrics columns. ``num_partitions=None`` means the session's
    ``spark.sql.shuffle.partitions``, read when the plan is built."""
    # Explicit page-hash salting inside build_page_work: unique
    # (doc_id, page) keys spread a giant document across the cluster
    # instead of one task (rows carrying a media_ref distribute by the
    # equally-unique ref hash instead). The page and stage-2 exchanges are
    # numbered (num_partitions, or the session's shuffle partitions when
    # None), so AQE's SIZE-based coalescing never collapses these
    # small-bytes / heavy-CPU rows onto a few cores (measured 3x
    # regression). Only a payload join too big to broadcast adds an
    # exchange that session coalescing may still shrink.
    num_partitions = _num_partitions(docs, num_partitions)
    work = build_page_work(docs, media, cfg, num_partitions)
    page_results = work.mapInPandas(_make_extract_pages(cfg),
                                    schema=PAGE_RESULT_SCHEMA)
    # one explicit hash shuffle co-locates each document's page rows, then
    # stage 2 runs partition-wise (see _make_assemble_partition); the
    # local (spillable, JVM-side) sort makes each document a contiguous
    # run — the streaming assemble's memory-bound contract; no exchange
    combined_repart = (page_results.repartition(num_partitions, "doc_id")
                       .sortWithinPartitions("doc_id"))
    combined = combined_repart.mapInPandas(_make_assemble_partition(cfg),
                                           schema=COMBINED_SCHEMA)
    # Completeness holds by construction: explode_outer + presence
    # sentinels mean every input document reaches stage 2 exactly once
    # (BaseParser.finalizeResults "no tables" parity, and resume
    # termination) — no side anti-join plan, no extra scan of docs.
    return combined


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
