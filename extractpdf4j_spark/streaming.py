"""Structured Streaming surface.

The reference has no streaming (its Spring service is blocking
request/response, PdfExtractController.java:40-44), but a corpus-scale
deployment ingests documents continuously. The shapes:

* :func:`stream_extraction` — ``readStream`` on the documents location →
  ``foreachBatch`` running :func:`pipeline.run_extraction` per
  micro-batch: the stream checkpoint skips committed batches, and the
  run's resume anti-join against ``{out_dir}/combined`` drops documents
  already written, so a replayed batch (lost checkpoint, failed commit)
  writes no document twice. foreachBatch is the right altitude for
  extraction itself: it is per-document, with no cross-batch state.
* :func:`windowed_event_metrics` — watermark + event-time tumbling
  windows over an ingestion-event stream (late data dropped past the
  watermark); the aggregation expression is shared with the batch gate
  query ``q_event_windows``.
* :func:`windowed_distinct_sketch` / :func:`windowed_cms_sketch` /
  :func:`windowed_qhist_sketch` — the three mergeable per-window
  sketch artifacts (HLL registers for distinct counts, Count-Min
  cells for heavy-hitter frequencies, quantile-histogram buckets for
  percentiles): each is ONE watermark-bounded built-in aggregation
  with state capped at sketch size per (window, type),
  append-mode-legal, bit-identical to the batch expression,
  folded/queried downstream with the functions.sketches mergers.
* :func:`stream_assemble_documents` — a genuinely stateful custom
  operator via ``applyInPandasWithState``: document spans arriving
  across micro-batches accumulate in per-doc state until the document's
  announced span count is reached (then the assembled document emits)
  or the processing-time timeout expires (partial document emits with a
  timeout flag).
* :func:`stream_exact_dedup` — stateful cross-batch exact dedup: the
  first arrival of a normalized text hash is the keeper (per-hash state
  bounded by distinct content, not stream length); later arrivals in any
  batch emit ``is_duplicate=true`` at arrival time.
* :func:`stream_event_join` — watermarked stream-stream inner join
  (impression→conversion attribution) with the time-bound condition
  Spark needs to expire buffered state; the identical expression on a
  batch input is the gate query ``q_event_join``.
* :func:`stream_fuzzy_dedup` — cross-batch NEAR-dup removal via
  ``foreachBatch`` + an accumulated signature table: each micro-batch
  runs ``fuzzy_dedup_against_corpus`` against everything kept so far,
  with candidate generation touching only the signature state.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (ArrayType, BooleanType, IntegerType,
                               LongType, StringType, StructField, StructType)

from .config import ExtractConfig
from .pipeline import DOCUMENTS_SCHEMA, SPAN_STRUCT, run_extraction


def stream_extraction(spark: SparkSession, documents_path: str,
                      media: DataFrame | None, cfg: ExtractConfig,
                      out_dir: str, checkpoint_dir: str,
                      trigger_once: bool = True,
                      num_partitions: int | None = None):
    """Start a streaming extraction over a growing parquet directory of
    documents. Returns the StreamingQuery.

    ``media`` is a static (dimension-style) DataFrame joined into every
    micro-batch; a fully streaming media side would arrive pre-joined in
    the documents table instead. Each micro-batch is one resumed
    :func:`pipeline.run_extraction` into ``{out_dir}/combined`` with run
    id ``stream-{batch_id}``.
    """
    docs_stream = (spark.readStream
                   .schema(DOCUMENTS_SCHEMA)
                   .parquet(documents_path))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_extraction(spark, batch_df, media, cfg, out_dir,
                       f"stream-{batch_id}", resume=True,
                       num_partitions=num_partitions)

    writer = (docs_stream.writeStream
              .option("checkpointLocation", checkpoint_dir)
              .foreachBatch(process_batch))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Watermarked event-time windows
# ---------------------------------------------------------------------------

def windowed_event_metrics(events: DataFrame, watermark: str = "10 minutes",
                           window: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows over an event stream (or batch frame):
    per (window, event_type) counts and value sums. On a streaming input
    the watermark bounds state and drops late data; on a batch input the
    same expression computes the exact answer (the gate query
    ``q_event_windows`` uses it that way)."""
    e = events
    if e.isStreaming:
        # watermarks require TIMESTAMP (LTZ); the NTZ→LTZ cast pins the
        # wall clock in the session zone and date_format below converts
        # back with the same zone, so window labels match the batch path
        e = (e.withColumn("ts", F.col("ts").cast("timestamp"))
             .withWatermark("ts", watermark))
    return (e.groupBy(F.window("ts", window).alias("w"),
                      F.col("event_type"))
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("value_sum"))
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "n_events", "value_sum"))


def windowed_distinct_sketch(events: DataFrame, value_col: str = "user_id",
                             watermark: str = "10 minutes",
                             window: str = "1 hour",
                             p: int = 10) -> DataFrame:
    """Distinct-count HLL sketch per tumbling event-time window:
    (window_start, event_type, bucket, register).

    The streaming answer to "distinct users per hour" at 100 TB/day:
    an exact distinct needs unbounded per-window state, while this is
    ONE watermark-bounded aggregation whose state is capped at 2**p
    registers per (window, type) — and it is pure built-in max(), so it
    runs in append mode with no stateful UDF. The emitted register
    table is the mergeable artifact: persist it per window/shard, fold
    shards with :func:`functions.sketches.hll_merge`, estimate with
    :func:`functions.sketches.hll_estimate` downstream (a second
    aggregation, deliberately NOT chained here — append-mode streams
    allow a single aggregation, and the sketch, not the number, is
    what you store anyway).

    On a batch frame the same expression computes the exact batch
    registers — the q_event_distinct gate and the streaming parity test
    both pin that the two paths are bit-identical."""
    from .functions.sketches import hll_bucket_rho
    e = events
    if e.isStreaming:
        # same NTZ->LTZ pinning as windowed_event_metrics
        e = (e.withColumn("ts", F.col("ts").cast("timestamp"))
             .withWatermark("ts", watermark))
    bucket, rho = hll_bucket_rho(F.col(value_col), p)
    return (e.select(F.window("ts", window).alias("w"),
                     F.col("event_type"),
                     bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("w", "event_type", "bucket")
            .agg(F.max("rho").alias("register"))
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "bucket", "register"))


def windowed_qhist_sketch(events: DataFrame, value_col: str = "value",
                          watermark: str = "10 minutes",
                          window: str = "1 hour") -> DataFrame:
    """Mergeable quantile sketch per tumbling event-time window:
    (window_start, event_type, bl, mant, lo, cnt) — the third
    per-window sketch artifact (HLL = distinct, CMS = frequency,
    qhist = quantiles: "p95 latency / doc length per hour" at stream
    scale). The bucketing projection is stateless pure-integer codegen
    (sketches._qhist_staged) and the sketch is ONE watermark-bounded
    count aggregation with state capped at 64*32 buckets per
    (window, type) — append-mode-legal. Fold shards/windows with
    :func:`functions.sketches.qhist_merge` (exact) and answer
    percentiles with :func:`functions.sketches.qhist_quantiles`.
    Values are floored to longs (Spark floor, matching the batch
    gate's convention); the batch path is bit-identical — pinned by
    the streaming parity test."""
    from .functions.sketches import _qhist_staged
    e = events
    if e.isStreaming:
        # same NTZ->LTZ pinning as windowed_event_metrics
        e = (e.withColumn("ts", F.col("ts").cast("timestamp"))
             .withWatermark("ts", watermark))
    staged = _qhist_staged(
        e.select(F.window("ts", window).alias("w"),
                 F.col("event_type"),
                 F.floor(F.col(value_col)).cast("long").alias("_v")))
    return (staged.groupBy("w", "event_type",
                           F.col("_bl").alias("bl"),
                           F.col("_mant").cast("long").alias("mant"),
                           F.col("_lo").alias("lo"))
            .agg(F.count("*").cast("long").alias("cnt"))
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "bl", "mant", "lo", "cnt"))


def windowed_cms_sketch(events: DataFrame, value_col: str = "user_id",
                        watermark: str = "10 minutes",
                        window: str = "1 hour",
                        depth: int = 4, width: int = 1024) -> DataFrame:
    """Count-Min frequency sketch per tumbling event-time window:
    (window_start, event_type, row, col, cnt) — the streaming
    heavy-hitter artifact pairing :func:`windowed_distinct_sketch`
    (how many distinct) with "how often does each hot key appear".

    Same design stance as the HLL window: emit the MERGEABLE SKETCH,
    not the answer. State is one watermark-bounded aggregation capped
    at depth*width cells per (window, type) regardless of stream rate
    (the explode(depth) before it is stateless, so append mode holds
    with its single-aggregation budget); the emitted cell table is what
    you persist per window/shard — fold shards with
    :func:`functions.sketches.cms_merge` (exact: merge(cms(X), cms(Y))
    == cms(X union Y)), point-query candidate keys with
    :func:`functions.sketches.cms_query`, and the batch
    :func:`functions.statsops.key_skew` report is the exact-world
    mirror of the question this answers at stream scale.

    On a batch frame the identical expression computes the exact batch
    sketch — the streaming parity test pins the two paths
    bit-identical."""
    from .functions.sketches import _cms_cell
    if depth < 1 or width < 1:
        raise ValueError(f"need depth >= 1 and width >= 1, "
                         f"got {depth}x{width}")
    e = events
    if e.isStreaming:
        # same NTZ->LTZ pinning as windowed_event_metrics
        e = (e.withColumn("ts", F.col("ts").cast("timestamp"))
             .withWatermark("ts", watermark))
    rows = e.select(F.window("ts", window).alias("w"),
                    F.col("event_type"),
                    F.col(value_col).cast("string").alias("_v"),
                    F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
                     .alias("row"))
    return (rows.select("w", "event_type", "row",
                        _cms_cell(F.col("row"), F.col("_v"), width)
                        .cast("int").alias("col"))
            .groupBy("w", "event_type", "row", "col")
            .agg(F.count("*").cast("long").alias("cnt"))
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "row", "col", "cnt"))


def windowed_token_counts(docs: DataFrame, text_col: str = "text",
                          ts_col: str = "ts",
                          watermark: str = "10 minutes",
                          window: str = "1 hour") -> DataFrame:
    """Unigram token counts per tumbling event-time window:
    ``(window_start, token, cnt)`` — the streaming DISTRIBUTION
    artifact completing the sketch triad (HLL = how many distinct,
    CMS = how often each key, this = what the text looks like).
    Tokens are the :func:`~.functions.textstats.vocab_topk` lowercase
    whitespace splits, so the emitted table is directly comparable to
    any batch-built vocabulary count table.

    Same design stance as the HLL/CMS windows: emit the MERGEABLE
    artifact, not the answer. State is one watermark-bounded
    aggregation over (window, token) — Zipf-bounded per window
    regardless of stream rate (the token explode before it is
    stateless, so append mode holds with its single-aggregation
    budget). Fold shards/windows by summing ``cnt``; feed
    :func:`~.functions.textstats.counts_drift` /
    :func:`counts_divergence` against a reference snapshot's counts —
    :func:`window_drift_vs_reference` composes exactly that, the live
    "is this crawl batch drifting?" monitor.

    On a batch frame the identical expression computes the exact batch
    counts — the streaming parity test pins the two paths identical."""
    e = docs
    if e.isStreaming:
        # same NTZ->LTZ pinning as windowed_event_metrics
        e = (e.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
             .withWatermark(ts_col, watermark))
    toks = (e.select(F.window(ts_col, window).alias("w"),
                     F.explode(F.split(F.trim(F.lower(F.col(text_col))),
                                       r"\s+")).alias("token"))
            .filter(F.col("token") != ""))
    return (toks.groupBy("w", "token")
            .agg(F.count("*").cast("long").alias("cnt"))
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"), "token", "cnt"))


def window_drift_vs_reference(window_counts: DataFrame,
                              reference_counts: DataFrame) -> DataFrame:
    """Per-window distribution drift against a static reference:
    ``(window_start, vocab, tot_a, tot_b, kl_ab, kl_ba, js)`` with
    side ``a`` the window and side ``b`` the reference — the alerting
    stage over :func:`windowed_token_counts` output (batch job over
    the emitted table, or inside foreachBatch). ``reference_counts``
    is any ``(token, cnt)`` table: a curated snapshot's vocabulary, a
    trusted crawl week, the training mix itself.

    The reference (Zipf-small) is broadcast and expanded per observed
    window so each window's union vocabulary/smoothing matches exactly
    what :func:`~.functions.textstats.distribution_divergence` would
    compute over the window's raw documents — the parity the streaming
    test pins."""
    from .functions.textstats import counts_divergence
    # rename-through mints fresh attribute ids: the expanded reference
    # must not share window_counts' own window_start attribute or the
    # downstream self-join fails analysis with a conflict
    windows = (window_counts.select(F.col("window_start").alias("_w"))
               .distinct())
    ref = (windows.crossJoin(F.broadcast(
        reference_counts.select("token", F.col("cnt").cast("long")
                                .alias("cnt"))))
        .select(F.col("_w").alias("window_start"), "token", "cnt"))
    return counts_divergence(window_counts, ref,
                             key_cols=["window_start"])


# ---------------------------------------------------------------------------
# Custom stateful operator: cross-batch document assembly
# ---------------------------------------------------------------------------

SPAN_EVENT_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
    StructField("n_spans", IntegerType()),   # announced total per doc
])

ASSEMBLED_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(SPAN_STRUCT)),
    StructField("n_received", LongType()),
    StructField("complete", BooleanType()),
])

_STATE_SCHEMA = StructType([
    StructField("kinds", ArrayType(StringType())),
    StructField("texts", ArrayType(StringType())),
    StructField("refs", ArrayType(StringType())),
    StructField("offsets", ArrayType(IntegerType())),
    StructField("expected", IntegerType()),
])


def _assemble_doc(key: tuple, pdfs: Iterator[pd.DataFrame],
                  state: GroupState) -> Iterator[pd.DataFrame]:
    (doc_id,) = key
    if state.hasTimedOut:
        kinds, texts, refs, offsets, expected = state.get
        state.remove()
        spans = sorted(
            ({"kind": k, "text": t, "media_ref": r, "offset": o}
             for k, t, r, o in zip(kinds, texts, refs, offsets)),
            key=lambda s: s["offset"])
        yield pd.DataFrame([{"doc_id": doc_id, "spans": spans,
                             "n_received": len(spans), "complete": False}])
        return
    kinds: list[str] = []
    texts: list[str] = []
    refs: list[str] = []
    offsets: list[int] = []
    expected = -1
    if state.exists:
        k0, t0, r0, o0, expected = state.get
        kinds, texts, refs, offsets = list(k0), list(t0), list(r0), list(o0)
    for pdf in pdfs:
        kinds.extend(pdf["kind"])
        texts.extend(pdf["text"])
        refs.extend(pdf["media_ref"])
        offsets.extend(int(o) for o in pdf["offset"])
        expected = max(expected, int(pdf["n_spans"].max()))
    if 0 <= expected <= len(offsets):
        state.remove()
        spans = sorted(
            ({"kind": k, "text": t, "media_ref": r, "offset": o}
             for k, t, r, o in zip(kinds, texts, refs, offsets)),
            key=lambda s: s["offset"])
        yield pd.DataFrame([{"doc_id": doc_id, "spans": spans,
                             "n_received": len(spans), "complete": True}])
    else:
        state.update((kinds, texts, refs, offsets, expected))
        state.setTimeoutDuration(60_000)


def stream_assemble_documents(span_events: DataFrame) -> DataFrame:
    """Assemble interleaved documents from spans arriving across
    micro-batches (``applyInPandasWithState``): per-doc state accumulates
    spans until the announced ``n_spans`` count is met (emit complete) or
    the 60 s processing-time timeout fires (emit partial,
    ``complete=false``). The output feeds :func:`stream_extraction`'s
    batch plan unchanged."""
    return (span_events.groupBy("doc_id").applyInPandasWithState(
        _assemble_doc,
        outputStructType=ASSEMBLED_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout))


# ---------------------------------------------------------------------------
# Custom stateful operator: cross-batch streaming exact dedup
# ---------------------------------------------------------------------------

DEDUP_OUT_SCHEMA = StructType([
    StructField("text_hash", StringType()),
    StructField("doc_id", StringType()),
    StructField("is_duplicate", BooleanType()),
    StructField("keeper_doc_id", StringType()),
])

_DEDUP_STATE_SCHEMA = StructType([
    StructField("keeper", StringType()),
])


# the one shared exact-dedup normalization (see its docstring there)
from .functions.dedup import normalized_text_hash  # noqa: E402


def _dedup_group(key: tuple, pdfs: Iterator[pd.DataFrame],
                 state: GroupState) -> Iterator[pd.DataFrame]:
    (text_hash,) = key
    if state.hasTimedOut:  # pragma: no cover - no timeout configured
        state.remove()
        return
    keeper = state.get[0] if state.exists else None
    # drain ALL Arrow chunks before deciding the keeper: a hot hash
    # group spans multiple ~10k-row chunks whose composition follows
    # shuffle arrival order, so a per-chunk min would make the keeper
    # nondeterministic exactly for the heavy-duplicate groups
    doc_ids: list[str] = []
    for pdf in pdfs:
        doc_ids.extend(pdf["doc_id"])
    doc_ids.sort()
    if keeper is None and doc_ids:
        keeper = doc_ids[0]
    rows = [(text_hash, doc_id, doc_id != keeper, keeper)
            for doc_id in doc_ids]
    state.update((keeper,))
    if rows:
        yield pd.DataFrame(rows, columns=["text_hash", "doc_id",
                                          "is_duplicate", "keeper_doc_id"])


def stream_exact_dedup(docs: DataFrame,
                       text_col: str = "text") -> DataFrame:
    """Cross-micro-batch exact dedup (``applyInPandasWithState``): the
    first document carrying a normalized text hash becomes the keeper
    (held in per-hash state, one string per distinct hash — bounded by
    the distinct-content count, not the stream length); every later
    arrival of the same hash, in ANY batch, emits ``is_duplicate=true``
    with the keeper id. The batch analog is
    ``functions/dedup.exact_duplicates`` (same normalization, gate
    q_dedup_exact); this is the shape a continuously-ingesting corpus
    needs — duplicates detected at arrival time, not in a nightly job.

    Streaming input only (``applyInPandasWithState`` rejects batch
    queries); the unit test drives it through a real
    readStream/availableNow harness with ``maxFilesPerTrigger=1``."""
    hashed = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        normalized_text_hash(F.col(text_col)).alias("text_hash"))
    return (hashed.groupBy("text_hash").applyInPandasWithState(
        _dedup_group,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout))


def stream_image_dedup(assets: DataFrame, fake: bool = False) -> DataFrame:
    """Cross-micro-batch image dedup at INGEST time: incoming image
    assets are resized + dHashed (the batch operators run unchanged on
    the streaming input — Arrow ``mapInPandas`` and the codegen hash
    projection are both streamable) and keyed by the 64-bit perceptual
    signature through the same first-arrival-wins state machine as
    :func:`stream_exact_dedup` (state = one keeper id per distinct
    signature — bounded by distinct content, not stream length).

    Exact-signature semantics (Hamming 0): byte-identical and
    decode-identical re-crawls flag at arrival; near-dups within a few
    bits are the batch pass's job (``dhash_pairs`` needs a self-join no
    streaming state machine should emulate). Returns
    ``(dhash_hex, asset_id, is_duplicate, keeper_asset_id)``."""
    from .functions.multimodal import image_dhash, resize_images
    hashed = (image_dhash(resize_images(assets, out_w=9, out_h=8,
                                        fake=fake))
              .select(F.col("asset_id").alias("doc_id"),
                      F.col("dhash_hex").alias("text_hash")))
    out = (hashed.groupBy("text_hash").applyInPandasWithState(
        _dedup_group,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout))
    return out.select(F.col("text_hash").alias("dhash_hex"),
                      F.col("doc_id").alias("asset_id"),
                      "is_duplicate",
                      F.col("keeper_doc_id").alias("keeper_asset_id"))


# ---------------------------------------------------------------------------
# Gap-based sessionization (batch formulation of session windows)
# ---------------------------------------------------------------------------

def sessionize_events(events: DataFrame, gap_sec: int = 1800,
                      key: str = "user_id", ts_col: str = "ts",
                      order_col: str = "event_id") -> DataFrame:
    """Assign gap-based session ids per key: a new session starts when
    the time since the previous event exceeds ``gap_sec`` — the
    corpus-scale generalization of the span-merge kernel's 1-D gap
    session (StreamParser.java:190-208) applied to event logs, and the
    batch analog of a streaming ``F.session_window`` aggregation.

    One shuffle (window over ``key``); epoch differences cancel any
    timezone offset, so NTZ and LTZ inputs sessionize identically.
    ``order_col`` breaks equal-timestamp ties deterministically.
    """
    ep = F.col(ts_col).cast("timestamp").cast("long")
    w = Window.partitionBy(key).orderBy(ts_col, order_col)
    e = (events
         .withColumn("_ep", ep)
         .withColumn("_gap", F.col("_ep") - F.lag("_ep").over(w))
         .withColumn("_brk", F.when(F.col("_gap").isNull()
                                    | (F.col("_gap") > gap_sec), 1)
                     .otherwise(0))
         .withColumn("session_id",
                     F.sum("_brk").over(
                         w.rowsBetween(Window.unboundedPreceding, 0))
                     .cast("long")))
    return e.drop("_ep", "_gap", "_brk")


def session_metrics(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Per-session rollup over :func:`sessionize_events`: start label
    (formatted like windowed_event_metrics), event count, duration in
    seconds, value sum."""
    s = sessionize_events(events, gap_sec)
    ep = F.col("ts").cast("timestamp").cast("long")
    return (s.groupBy("user_id", "session_id")
            .agg(F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")
                 .alias("session_start"),
                 F.count("*").alias("n_events"),
                 (F.max(ep) - F.min(ep)).alias("duration_sec"),
                 F.round(F.sum("value"), 6).alias("value_sum")))


# ---------------------------------------------------------------------------
# Streaming fuzzy dedup (cross-batch near-dup removal with signature state)
# ---------------------------------------------------------------------------

def stream_fuzzy_dedup(spark: SparkSession, documents_path: str,
                       out_dir: str, sigs_dir: str, checkpoint_dir: str,
                       schema: str = "doc_id long, text string",
                       trigger_once: bool = True,
                       **fuzzy_kwargs: Any):
    """Continuously ingest documents with NEAR-duplicate removal: each
    micro-batch is deduplicated against everything already kept (the
    streaming composition of
    :func:`~.functions.dedup.fuzzy_dedup_against_corpus`), then within
    itself; survivors append to ``out_dir`` and their MinHash signatures
    append to ``sigs_dir``. Returns the StreamingQuery.

    Keeper semantics follow :func:`stream_exact_dedup`: arrival time
    wins — a near-dup of anything kept by an earlier batch drops at
    arrival, regardless of id ordering across batches (within a batch
    the min-id rule applies). State is the kept corpus plus its
    signature table; candidate generation reads ONLY the signature
    table (``corpus_sigs`` seam), and kept text is read back just for
    the candidate-restricted verification — per batch that costs one
    anti-join-sized scan, never a corpus re-shingle. The stream
    checkpoint gives exactly-once per-batch appends."""
    from .functions.dedup import (fuzzy_dedup, fuzzy_dedup_against_corpus,
                                  minhash_signatures)
    text_col = fuzzy_kwargs.get("text_col", "text")
    id_col = fuzzy_kwargs.get("id_col", "doc_id")
    k = fuzzy_kwargs.get("k", 8)
    shingle_n = fuzzy_kwargs.get("shingle_n", 3)

    docs_stream = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", "1")
                   .parquet(documents_path))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        try:
            corpus = s.read.parquet(f"{out_dir}/kept")
            sigs = s.read.parquet(sigs_dir)
            has_state = True
        except Exception:
            has_state = False
        if has_state:
            kept = fuzzy_dedup_against_corpus(
                batch_df, corpus, corpus_sigs=sigs, **fuzzy_kwargs)
        else:
            kept = fuzzy_dedup(batch_df, **fuzzy_kwargs)
        kept = kept.localCheckpoint(eager=True)
        kept.write.mode("append").parquet(f"{out_dir}/kept")
        (minhash_signatures(kept, text_col, id_col, k, shingle_n)
         .write.mode("append").parquet(sigs_dir))

    writer = (docs_stream.writeStream
              .option("checkpointLocation", checkpoint_dir)
              .foreachBatch(process_batch))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Stream-stream attribution join
# ---------------------------------------------------------------------------

def stream_event_join(left: DataFrame, right: DataFrame,
                      key_col: str = "user_id", ts_col: str = "ts",
                      max_delay_sec: int = 1800,
                      watermark: str = "10 minutes") -> DataFrame:
    """Watermarked stream-stream inner join: every ``right`` event is
    matched to the same key's ``left`` events that happened at most
    ``max_delay_sec`` earlier (the classic impression→conversion
    attribution join). Returns ``(key, l_event_id, r_event_id,
    delay_sec)``; ``delay_sec`` is floor-epoch-second arithmetic, so it
    is engine-exact regardless of the session timezone (differences
    cancel any NTZ/LTZ offset — the q_event_sessions convention).

    On streaming inputs both sides carry a watermark and the join
    condition carries the time bound — exactly what Spark needs to
    EXPIRE buffered rows: a left event older than ``max_delay_sec`` +
    watermark past the right-side watermark can never match again and
    its state is dropped, so state is bounded by the join window, not
    the stream length. On batch inputs the same expression computes the
    exact answer (the gate query ``q_event_join`` uses it that way).

    Scale shape: one shuffle per side on the join key; the range bound
    is evaluated post-match (codegen). Hot keys (one user generating a
    flood) are AQE skew-join territory in batch; in streaming, cap the
    per-key event rate upstream."""
    lts = F.col(ts_col).cast("timestamp")
    l = left.select(F.col(key_col).alias("_k"),
                    F.col("event_id").alias("l_event_id"),
                    lts.alias("_lts"))
    r = right.select(F.col(key_col).alias("_rk"),
                     F.col("event_id").alias("r_event_id"),
                     lts.alias("_rts"))
    if l.isStreaming:
        l = l.withWatermark("_lts", watermark)
    if r.isStreaming:
        r = r.withWatermark("_rts", watermark)
    cond = ((F.col("_k") == F.col("_rk"))
            & (F.col("_rts") >= F.col("_lts"))
            & (F.col("_rts") <= F.col("_lts")
               + F.expr(f"INTERVAL {int(max_delay_sec)} SECONDS")))
    delay = (F.col("_rts").cast("long")
             - F.col("_lts").cast("long")).alias("delay_sec")
    return (l.join(r, cond)
            .select(F.col("_k").alias(key_col),
                    "l_event_id", "r_event_id", delay))


# ---------------------------------------------------------------------------
# Streaming training-shard sink
# ---------------------------------------------------------------------------

def stream_write_training_shards(stream_docs: DataFrame, out_dir: str,
                                 checkpoint_dir: str, token_col: str,
                                 budget: int, n_buckets: int = 4,
                                 key_col: str = "doc_id",
                                 trigger_once: bool = True):
    """Continuous corpus building: pack each micro-batch into
    EPOCH-scoped training shards (``epoch = batch_id``) and append the
    mergeable per-shard manifest. Returns the StreamingQuery.

    Idempotent under batch replay (the foreachBatch at-least-once
    contract): shard data lands via DYNAMIC partition overwrite of
    ``epoch=<batch_id>/...`` and the manifest is rewritten at
    ``_manifest/epoch=<batch_id>``, so a replayed batch overwrites its
    own partitions instead of double-appending — effectively
    exactly-once on disk. The bit_xor fingerprint is mergeable, so a
    whole-corpus manifest is one further groupBy over the epoch rows.
    ``sinks.validate_training_shards`` picks up the epoch level
    automatically. Shard numbering restarts per epoch by design: a
    loader consumes (epoch, bucket, shard) directories as atomic units
    in arrival order."""
    from .functions.corpusops import pack_shards
    from .sinks import _shard_manifest

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            # a zero-row partitionBy write creates nothing under
            # epoch=<id> and the manifest read-back would crash the
            # stream; an empty batch simply has no epoch
            return
        spark = batch_df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       "dynamic")
        try:
            packed = (pack_shards(batch_df, token_col=token_col,
                                  budget=budget, n_buckets=n_buckets,
                                  key_col=key_col)
                      .withColumn("epoch",
                                  F.lit(batch_id).cast("long")))
            (packed.write.partitionBy("epoch", "bucket", "shard")
             .mode("overwrite").parquet(f"{out_dir}/shards"))
            # manifest over the rows actually written (read-back), the
            # same contract as the batch sink
            written = spark.read.parquet(
                f"{out_dir}/shards/epoch={batch_id}")
            manifest = _shard_manifest(written, token_col, key_col,
                                       group_cols=("bucket", "shard"))
            (manifest.write.mode("overwrite")
             .parquet(f"{out_dir}/_manifest/epoch={batch_id}"))
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                           prev)

    writer = (stream_docs.writeStream
              .option("checkpointLocation", checkpoint_dir)
              .foreachBatch(process_batch))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
