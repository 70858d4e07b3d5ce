"""Structured Streaming surface + single-document library API."""

import json
import time

import pytest

from extractpdf4j_spark.config import ExtractConfig
from extractpdf4j_spark.fixtures import FixtureBuilder
from extractpdf4j_spark.pipeline import DOCUMENTS_SCHEMA, MEDIA_SCHEMA


def test_stream_extraction_available_now(spark, tmp_path):
    from extractpdf4j_spark.streaming import stream_extraction
    fb = FixtureBuilder(seed=42)
    fb.stmt_text("sd-1")
    fb.stmt_text("sd-2", n_rows=4)
    docs_pdf, media_pdf = fb.to_pandas()
    src = str(tmp_path / "incoming")
    spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA) \
        .write.parquet(src)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)

    q = stream_extraction(
        spark, src, media, ExtractConfig(),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_once=True, num_partitions=2)
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out" / "combined"))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {"sd-1", "sd-2"}
    assert all(r["status"] == "ok" for r in rows.values())

    # second micro-batch: append two more docs, restart with same checkpoint
    fb2 = FixtureBuilder(seed=43)
    fb2.stmt_text("sd-3")
    docs2, _ = fb2.to_pandas()
    spark.createDataFrame(docs2, schema=DOCUMENTS_SCHEMA) \
        .write.mode("append").parquet(src)
    q2 = stream_extraction(
        spark, src, media, ExtractConfig(),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_once=True, num_partitions=2)
    q2.awaitTermination(120)
    out2 = spark.read.parquet(str(tmp_path / "out" / "combined"))
    got = out2.groupBy("doc_id").count().collect()
    # checkpoint means sd-1/sd-2 are NOT reprocessed
    assert {r["doc_id"]: r["count"] for r in got} == {
        "sd-1": 1, "sd-2": 1, "sd-3": 1}


def test_stream_extraction_replay_writes_each_doc_once(spark, tmp_path):
    """A replayed micro-batch (here: the same source under a fresh
    checkpoint) resumes against the output instead of appending every
    document again, and the output carries run_id/lineage so the metrics
    view reads it."""
    from extractpdf4j_spark.pipeline import metrics_view
    from extractpdf4j_spark.streaming import stream_extraction
    fb = FixtureBuilder(seed=44)
    fb.stmt_text("rp-1")
    fb.stmt_text("rp-2", n_rows=4)
    docs_pdf, media_pdf = fb.to_pandas()
    src = str(tmp_path / "incoming")
    spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA) \
        .write.parquet(src)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    out = str(tmp_path / "out")
    for ckpt in ("ckpt-a", "ckpt-b"):
        stream_extraction(
            spark, src, media, ExtractConfig(), out_dir=out,
            checkpoint_dir=str(tmp_path / ckpt), trigger_once=True,
            num_partitions=2).awaitTermination(120)

    combined = spark.read.parquet(out + "/combined")
    assert sorted(r["doc_id"] for r in combined.collect()) == [
        "rp-1", "rp-2"]
    rows = metrics_view(combined).collect()
    assert {r["run_id"] for r in rows} == {"stream-0"}
    assert all(json.loads(r["lineage"])["run_id"] == "stream-0"
               for r in rows)


def test_local_extract_document_matches_oracle():
    from extractpdf4j_spark.local import extract_document
    from extractpdf4j_spark.docmodel import decode_media_payload, decode_text_span
    from extractpdf4j_spark.ocr import EmbeddedWordsBackend
    import oracle

    fb = FixtureBuilder(seed=42).standard_corpus()
    docs_pdf, media_pdf = fb.to_pandas()
    payload_by_ref = dict(zip(media_pdf["media_ref"], media_pdf["payload"]))
    backend = EmbeddedWordsBackend()

    for t in docs_pdf.itertuples(index=False):
        out_spans, status, strategy, tables = extract_document(
            list(t.spans), payload_by_ref, ExtractConfig(), backend)
        # oracle comparison (same page decomposition)
        pages = {}
        for s in t.spans:
            if s["kind"] == "text":
                g = decode_text_span(s["text"])
                pages.setdefault(g.page, [None, None])[0] = g
            else:
                p = decode_media_payload(payload_by_ref[s["media_ref"]])
                pages.setdefault(p.page, [None, None])[1] = p
        page_list = [(pg, g, p) for pg, (g, p) in sorted(pages.items())]
        want_spans, want_status, want_strategy = oracle.oracle_hybrid_doc(
            page_list, backend)
        assert status == want_status, t.doc_id
        if status == "ok":
            assert strategy == want_strategy, t.doc_id
        assert out_spans == want_spans, t.doc_id


def test_local_extract_page_selection():
    from extractpdf4j_spark.local import extract_document
    fb = FixtureBuilder(seed=42)
    fb.stmt_text("d", n_rows=4, n_pages=3)
    doc = fb.documents[0]
    out, status, strategy, tables = extract_document(
        doc["spans"], {}, ExtractConfig(pages="2"))
    assert status == "ok"
    assert len(tables) == 1
    refs = [s["media_ref"] for s in out if s["kind"] == "media"]
    assert refs and all(r.startswith("table:stream:p2") for r in refs)


def test_windowed_event_metrics_streaming_with_watermark(spark, tmp_path):
    """Watermarked tumbling windows over a streaming event source: the
    streaming answer equals the batch answer on the same closed input
    (availableNow drains everything, no late rows dropped)."""
    from pyspark.sql.types import (StructType, StructField, StringType,
                                   TimestampNTZType, DoubleType)
    from extractpdf4j_spark.streaming import windowed_event_metrics
    import datetime as dt

    schema = StructType([
        StructField("ts", TimestampNTZType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    import time as _time
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(base + dt.timedelta(minutes=7 * i), ["click", "view"][i % 2],
             float(i)) for i in range(40)]
    src = str(tmp_path / "events")
    batch_df = spark.createDataFrame(rows, schema)
    batch_df.write.parquet(src)
    # append-mode windows only finalize once the watermark passes them;
    # a far-future sentinel in a SECOND micro-batch advances the
    # watermark so every real window closes before the stream drains
    _time.sleep(1.1)
    sentinel = [(base + dt.timedelta(days=2), "sentinel", 0.0)]
    spark.createDataFrame(sentinel, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    agg = windowed_event_metrics(stream, watermark="10 minutes",
                                 window="1 hour")
    assert agg.isStreaming
    q = (agg.writeStream.format("memory").queryName("winagg")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["window_start"], r["event_type"]): (r["n_events"],
                                                  r["value_sum"])
           for r in spark.sql("select * from winagg").collect()
           if r["event_type"] != "sentinel"}
    want = {(r["window_start"], r["event_type"]): (r["n_events"],
                                                   r["value_sum"])
            for r in windowed_event_metrics(batch_df).collect()}
    assert got == want
    assert len(want) > 4  # several hour windows x 2 types


def test_stream_assemble_documents_stateful(spark, tmp_path):
    """applyInPandasWithState across micro-batches: a document whose
    spans are split over two files (maxFilesPerTrigger=1 forces two
    micro-batches) assembles exactly once, ordered by offset, with
    state carried between batches."""
    import pandas as pd
    from extractpdf4j_spark.streaming import (SPAN_EVENT_SCHEMA,
                                              stream_assemble_documents)

    src = str(tmp_path / "spans")
    b1 = [("doc-a", "text", "p=1\n1|2|3|4|x", "", 0, 3),
          ("doc-a", "media", "", "m1", 1, 3),
          ("doc-b", "text", "p=1\n5|6|7|8|y", "", 0, 1)]
    b2 = [("doc-a", "text", "p=2\n9|9|9|9|z", "", 2, 3)]
    spark.createDataFrame(b1, SPAN_EVENT_SCHEMA).coalesce(1) \
        .write.parquet(src)
    spark.createDataFrame(b2, SPAN_EVENT_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(SPAN_EVENT_SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = stream_assemble_documents(stream)
    q = (out.writeStream.format("memory").queryName("assembled")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {r["doc_id"]: r for r in
            spark.sql("select * from assembled").collect()}
    assert "doc-b" in rows and rows["doc-b"]["complete"]
    assert rows["doc-b"]["n_received"] == 1
    # doc-a completes only after both micro-batches' spans merge in state
    assert "doc-a" in rows and rows["doc-a"]["complete"]
    assert rows["doc-a"]["n_received"] == 3
    assert [s["offset"] for s in rows["doc-a"]["spans"]] == [0, 1, 2]
    assert [s["kind"] for s in rows["doc-a"]["spans"]] == \
        ["text", "media", "text"]


def test_stream_exact_dedup_cross_batch(spark, tmp_path):
    """Cross-micro-batch exact dedup: the keeper is fixed by the first
    batch that carries a hash; later batches' re-arrivals (even with
    smaller doc_ids) flag as duplicates against that keeper."""
    from extractpdf4j_spark.streaming import stream_exact_dedup

    src = str(tmp_path / "docs")
    schema = "doc_id string, text string"
    # batch 1: d2 and d3 share content (keeper = min(d2,d3) = d2); d5 unique
    b1 = [("d2", "Hello   World"), ("d3", "hello world"), ("d5", "other")]
    # batch 2: d1 re-sends the same content — smaller id, but d2 stays keeper
    b2 = [("d1", "HELLO WORLD "), ("d6", "fresh content")]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (stream_exact_dedup(stream)
         .writeStream.format("memory").queryName("deduped")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {r["doc_id"]: r for r in
            spark.sql("select * from deduped").collect()}
    assert len(rows) == 5
    assert not rows["d2"]["is_duplicate"]
    assert rows["d3"]["is_duplicate"] and rows["d3"]["keeper_doc_id"] == "d2"
    assert rows["d1"]["is_duplicate"] and rows["d1"]["keeper_doc_id"] == "d2"
    assert not rows["d5"]["is_duplicate"]
    assert not rows["d6"]["is_duplicate"]


def test_stream_exact_dedup_keeper_spans_arrow_chunks(spark, tmp_path):
    """The keeper must be the min doc_id of the whole first micro-batch,
    not of whichever Arrow chunk arrives first: 300 identical docs with
    ids written in DESCENDING order, forced into many small chunks."""
    from extractpdf4j_spark.streaming import stream_exact_dedup

    src = str(tmp_path / "docs")
    schema = "doc_id string, text string"
    rows = [(f"d{n:04d}", "same text") for n in range(299, -1, -1)]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "32")
        stream = spark.readStream.schema(schema).parquet(src)
        q = (stream_exact_dedup(stream)
             .writeStream.format("memory").queryName("chunked_dedup")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
    finally:
        spark.conf.set(key, old)
    out = spark.sql("select * from chunked_dedup").collect()
    assert len(out) == 300
    keepers = {r["keeper_doc_id"] for r in out}
    assert keepers == {"d0000"}, keepers
    dup_flags = {r["doc_id"]: r["is_duplicate"] for r in out}
    assert dup_flags["d0000"] is False
    assert sum(dup_flags.values()) == 299


def test_stream_fuzzy_dedup_cross_batch(spark, tmp_path):
    """Cross-batch NEAR-dup removal with signature state: batch 2's
    near-dup of a batch-1 keeper drops at arrival (arrival-time wins);
    batch-2-internal near-dups keep min id; unique docs pass. The kept
    corpus and its signature table accumulate across batches."""
    from extractpdf4j_spark.streaming import stream_fuzzy_dedup

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest tonight")
    other = ("a completely different report about spark adaptive "
             "execution and shuffle partition coalescing behavior today")
    src = str(tmp_path / "docs")
    schema = "doc_id long, text string"
    b1 = [(10, base), (20, other)]
    b2 = [(11, base + " extra"),          # near-dup of kept 10 -> drop
          (30, "totally unrelated text mentioning parquet files and "
               "arrow batches moving between executors all day"),
          (31, "totally unrelated text mentioning parquet files and "
               "arrow batches moving between executors all night")]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    q = stream_fuzzy_dedup(
        spark, src, str(tmp_path / "out"), str(tmp_path / "sigs"),
        str(tmp_path / "ckpt"), schema=schema,
        jaccard_threshold=0.5, max_bucket=None, num_partitions=4)
    q.awaitTermination(240)

    kept = sorted(r["doc_id"] for r in
                  spark.read.parquet(str(tmp_path / "out" / "kept"))
                  .collect())
    assert kept == [10, 20, 30]
    sigs = spark.read.parquet(str(tmp_path / "sigs"))
    assert sorted(r["doc_id"] for r in sigs.collect()) == [10, 20, 30]
    assert {f"h{i}" for i in range(8)} <= set(sigs.columns)


def test_stream_event_join_attribution(spark, tmp_path):
    """Stream-stream inner join with watermarks on both sides: the
    streaming answer over micro-batched sources equals the batch answer
    on the same closed input, matches respect the 30-minute bound, and
    cross-key pairs never join."""
    from pyspark.sql.types import (StructType, StructField, LongType,
                                   TimestampNTZType)
    from extractpdf4j_spark.streaming import stream_event_join
    import datetime as dt

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampNTZType()),
    ])
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    # user u: a signup every 25 min; purchases offset so some fall
    # inside the 30-min window and some outside
    signups = [(i, i % 3, base + dt.timedelta(minutes=25 * (i // 3)))
               for i in range(12)]
    purchases = [(100 + i, i % 3,
                  base + dt.timedelta(minutes=25 * (i // 3) + 10 + 20 * (i % 2)))
                 for i in range(12)]
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    lb = spark.createDataFrame(signups, schema)
    rb = spark.createDataFrame(purchases, schema)
    lb.repartition(3).write.parquet(lsrc)
    rb.repartition(3).write.parquet(rsrc)

    want = sorted((r["user_id"], r["l_event_id"], r["r_event_id"],
                   r["delay_sec"])
                  for r in stream_event_join(lb, rb,
                                             max_delay_sec=1800).collect())
    assert want, "batch join must produce matches"
    assert all(0 <= w[3] <= 1800 for w in want)

    ls = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(lsrc))
    rs = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(rsrc))
    # the two sources replay files in arbitrary event-time order, so the
    # watermark must cover the whole (closed) input span or genuinely
    # late rows are dropped — the correct streaming semantics, but not
    # what an equals-batch assertion wants
    joined = stream_event_join(ls, rs, max_delay_sec=1800,
                               watermark="3 hours")
    assert joined.isStreaming
    q = (joined.writeStream.format("memory").queryName("evjoin")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["user_id"], r["l_event_id"], r["r_event_id"],
                  r["delay_sec"])
                 for r in spark.sql("select * from evjoin").collect())
    assert got == want


def test_windowed_distinct_sketch_stream_matches_batch(spark, tmp_path):
    """The streaming (watermarked, append-mode) register table must be
    bit-identical to the batch registers over the same drained input,
    and the estimate from those registers is the batch estimate."""
    import datetime
    from pyspark.sql import functions as F
    from extractpdf4j_spark.streaming import windowed_distinct_sketch
    from extractpdf4j_spark.functions.sketches import hll_estimate

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(i, base + datetime.timedelta(minutes=7 * i),
             i % 23, "click" if i % 2 == 0 else "view", 1.0, "{}")
            for i in range(200)]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "ev")
    df.write.parquet(src)
    # append-mode windows only finalize once the watermark passes them;
    # a far-future sentinel in a SECOND micro-batch closes every real
    # window before the stream drains (the windowed_event_metrics trick)
    import time as _time
    _time.sleep(1.1)
    sentinel = [(9999, base + datetime.timedelta(days=2), 0,
                 "sentinel", 0.0, "{}")]
    spark.createDataFrame(sentinel, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (windowed_distinct_sketch(stream, p=8)
         .writeStream.format("memory").queryName("distsketch")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.table("distsketch")
           .filter(F.col("event_type") != "sentinel"))

    batch = (windowed_distinct_sketch(
        spark.read.parquet(src)
        .filter(F.col("event_type") != "sentinel"), p=8))
    key = lambda r: (r["window_start"], r["event_type"], r["bucket"])
    s_regs = {key(r): r["register"] for r in got.collect()}
    b_regs = {key(r): r["register"] for r in batch.collect()}
    assert s_regs == b_regs and len(s_regs) > 0

    est = {(r["window_start"], r["event_type"]): r["est_distinct"]
           for r in hll_estimate(got, ["window_start", "event_type"],
                                 p=8).collect()}
    bst = {(r["window_start"], r["event_type"]): r["est_distinct"]
           for r in hll_estimate(batch, ["window_start", "event_type"],
                                 p=8).collect()}
    assert est == bst


def test_windowed_cms_sketch_stream_matches_batch(spark, tmp_path):
    """The streaming (watermarked, append-mode) CMS cell table must be
    bit-identical to the batch sketch over the same drained input, and
    point-querying the streamed sketch upper-bounds the true counts."""
    import datetime
    from pyspark.sql import functions as F
    from extractpdf4j_spark.streaming import windowed_cms_sketch
    from extractpdf4j_spark.functions.sketches import cms_query

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    # user 3 is the planted heavy hitter (every third event)
    rows = [(i, base + datetime.timedelta(minutes=7 * i),
             3 if i % 3 == 0 else i % 29,
             "click" if i % 2 == 0 else "view", 1.0, "{}")
            for i in range(200)]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "ev")
    df.write.parquet(src)
    import time as _time
    _time.sleep(1.1)
    sentinel = [(9999, base + datetime.timedelta(days=2), 0,
                 "sentinel", 0.0, "{}")]
    spark.createDataFrame(sentinel, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (windowed_cms_sketch(stream, depth=3, width=64)
         .writeStream.format("memory").queryName("cmssketch")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.table("cmssketch")
           .filter(F.col("event_type") != "sentinel"))

    batch = windowed_cms_sketch(
        spark.read.parquet(src).filter(F.col("event_type") != "sentinel"),
        depth=3, width=64)
    key = lambda r: (r["window_start"], r["event_type"],
                     r["row"], r["col"])
    s_cells = {key(r): r["cnt"] for r in got.collect()}
    b_cells = {key(r): r["cnt"] for r in batch.collect()}
    assert s_cells == b_cells and len(s_cells) > 0

    # point-query the streamed sketch: CMS never undercounts
    items = spark.createDataFrame(
        [(w, e, "3") for (w, e) in
         {(r["window_start"], r["event_type"]) for r in got.collect()}],
        "window_start string, event_type string, item string")
    est = {(r["window_start"], r["event_type"]): r["est_count"]
           for r in cms_query(got, items, "item", depth=3, width=64,
                              key_cols=["window_start", "event_type"])
           .collect()}
    truth = {(r["window_start"], r["event_type"]): r["n"]
             for r in spark.read.parquet(src)
             .filter((F.col("event_type") != "sentinel")
                     & (F.col("user_id") == 3))
             .groupBy(F.date_format(F.window("ts", "1 hour").start,
                                    "yyyy-MM-dd HH:mm:ss")
                      .alias("window_start"), "event_type")
             .agg(F.count("*").alias("n")).collect()}
    for k, n in truth.items():
        assert est[k] >= n


def test_windowed_qhist_sketch_stream_matches_batch(spark, tmp_path):
    """Streaming per-window quantile-sketch buckets must be
    bit-identical to the batch sketch, and the percentile answered
    from the streamed sketch must underestimate within one bucket."""
    import datetime
    import math
    from pyspark.sql import functions as F
    from extractpdf4j_spark.streaming import windowed_qhist_sketch
    from extractpdf4j_spark.functions.sketches import qhist_quantiles

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(i, base + datetime.timedelta(minutes=7 * i),
             i % 23, "click" if i % 2 == 0 else "view",
             float((i * 37) % 1000 + 1), "{}")
            for i in range(200)]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "ev")
    df.write.parquet(src)
    import time as _time
    _time.sleep(1.1)
    sentinel = [(9999, base + datetime.timedelta(days=2), 0,
                 "sentinel", 1.0, "{}")]
    spark.createDataFrame(sentinel, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (windowed_qhist_sketch(stream, value_col="value")
         .writeStream.format("memory").queryName("qhsketch")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.table("qhsketch")
           .filter(F.col("event_type") != "sentinel"))

    batch = windowed_qhist_sketch(
        spark.read.parquet(src).filter(F.col("event_type") != "sentinel"),
        value_col="value")
    key = lambda r: (r["window_start"], r["event_type"],
                     r["bl"], r["mant"], r["lo"])
    s_cells = {key(r): r["cnt"] for r in got.collect()}
    b_cells = {key(r): r["cnt"] for r in batch.collect()}
    assert s_cells == b_cells and len(s_cells) > 0

    # p50 from the streamed sketch underestimates exact within 3.2%
    est = {(r["window_start"], r["event_type"]): r["quantile"]
           for r in qhist_quantiles(
               got, ["window_start", "event_type"],
               quantiles_bp=(5000,)).collect()}
    truth_rows = (spark.read.parquet(src)
                  .filter(F.col("event_type") != "sentinel")
                  .select(F.date_format(F.window("ts", "1 hour").start,
                                        "yyyy-MM-dd HH:mm:ss")
                          .alias("ws"), "event_type",
                          F.floor("value").cast("long").alias("v"))
                  .collect())
    from collections import defaultdict
    groups = defaultdict(list)
    for r in truth_rows:
        groups[(r["ws"], r["event_type"])].append(r["v"])
    for k, vs in groups.items():
        vs.sort()
        exact = vs[math.ceil(0.5 * len(vs)) - 1]
        assert est[k] <= exact
        assert exact <= 32 or (exact - est[k]) / exact <= 0.032


def test_stream_image_dedup_cross_batch(spark, tmp_path):
    """Perceptual-signature dedup at ingest: a re-crawl of the same
    image bytes in a LATER batch flags against the batch-1 keeper even
    with a smaller asset_id; distinct images pass untouched."""
    from extractpdf4j_spark.functions.multimodal import MEDIA_ASSET_SCHEMA
    from extractpdf4j_spark.streaming import stream_image_dedup

    src = str(tmp_path / "assets")

    def asset(aid, payload):
        return (aid, "d", "image", "image/png", 8, 8, -1, payload)

    b1 = [asset("a2", b"same-bytes"), asset("a3", b"same-bytes"),
          asset("a5", b"unique-one")]
    b2 = [asset("a1", b"same-bytes"), asset("a6", b"unique-two")]
    spark.createDataFrame(b1, MEDIA_ASSET_SCHEMA).coalesce(1) \
        .write.parquet(src)
    spark.createDataFrame(b2, MEDIA_ASSET_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(MEDIA_ASSET_SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (stream_image_dedup(stream, fake=True)
         .writeStream.format("memory").queryName("img_deduped")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {r["asset_id"]: r for r in
            spark.sql("select * from img_deduped").collect()}
    assert len(rows) == 5
    assert not rows["a2"]["is_duplicate"]
    assert rows["a3"]["is_duplicate"]
    assert rows["a3"]["keeper_asset_id"] == "a2"
    assert rows["a1"]["is_duplicate"]
    assert rows["a1"]["keeper_asset_id"] == "a2"     # keeper fixed batch 1
    assert not rows["a5"]["is_duplicate"]
    assert not rows["a6"]["is_duplicate"]
    assert len(rows["a2"]["dhash_hex"]) == 16


def test_stream_write_training_shards_epochs_and_idempotency(spark,
                                                             tmp_path):
    """Each micro-batch lands as epoch-scoped shards plus a mergeable
    manifest; the validator understands the epoch layout; re-running
    the stream from a fresh checkpoint OVERWRITES its epoch partitions
    instead of double-appending (the replay-idempotency contract)."""
    from extractpdf4j_spark.sinks import validate_training_shards
    from extractpdf4j_spark.streaming import stream_write_training_shards

    src = str(tmp_path / "docs")
    schema = "doc_id string, n_tokens long"
    b1 = [(f"a{i}", 10) for i in range(12)]
    b2 = [(f"b{i}", 15) for i in range(8)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    out = str(tmp_path / "corpus")

    def run(ckpt):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = stream_write_training_shards(
            stream, out, checkpoint_dir=str(tmp_path / ckpt),
            token_col="n_tokens", budget=40, n_buckets=1)
        q.awaitTermination(120)

    run("ck1")
    data = spark.read.parquet(f"{out}/shards")
    assert data.count() == 20
    assert sorted(r["epoch"] for r in
                  data.select("epoch").distinct().collect()) == [0, 1]
    manifest = spark.read.parquet(f"{out}/_manifest")
    assert sum(r["n_docs"] for r in manifest.collect()) == 20
    assert sum(r["n_tokens"] for r in manifest.collect()) \
        == 12 * 10 + 8 * 15
    assert validate_training_shards(spark, out,
                                    token_col="n_tokens").count() == 0

    # replay from a fresh checkpoint: same batches rewrite their epoch
    # partitions — totals unchanged, directory still validates
    run("ck2")
    assert spark.read.parquet(f"{out}/shards").count() == 20
    assert validate_training_shards(spark, out,
                                    token_col="n_tokens").count() == 0


def test_windowed_token_counts_stream_matches_batch(spark, tmp_path):
    """The streaming (watermarked, append-mode) windowed token counts
    must equal the batch counts over the same drained input, and the
    per-window drift vs a static reference must equal the batch
    distribution_divergence over each window's raw documents."""
    import datetime
    import time as _time
    from pyspark.sql import functions as F
    from extractpdf4j_spark.streaming import (
        window_drift_vs_reference, windowed_token_counts)
    from extractpdf4j_spark.functions.textstats import (
        distribution_divergence)

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    texts = ["the cat sat", "the dog ran far", "alpha beta beta",
             "the cat ate", "gamma gamma delta the"]
    rows = [(i, base + datetime.timedelta(minutes=25 * i),
             texts[i % len(texts)]) for i in range(20)]
    schema = "doc_id long, ts timestamp, text string"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "docs")
    # one data file: the file source orders same-batch part files by
    # mtime (concurrent writers -> effectively random), and an
    # out-of-order file advances the watermark past earlier windows,
    # legitimately dropping them as late — a flake, not a bug
    df.coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    sentinel = [(9999, base + datetime.timedelta(days=2), "zzsentinel")]
    spark.createDataFrame(sentinel, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (windowed_token_counts(stream)
         .writeStream.format("memory").queryName("tokcounts")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("tokcounts").filter(F.col("token") != "zzsentinel")

    batch = windowed_token_counts(
        spark.read.parquet(src).filter(F.col("text") != "zzsentinel"))
    s_cells = {(r["window_start"], r["token"]): r["cnt"]
               for r in got.collect()}
    b_cells = {(r["window_start"], r["token"]): r["cnt"]
               for r in batch.collect()}
    assert s_cells == b_cells and len(s_cells) > 0
    assert len({w for w, _ in s_cells}) >= 2     # multi-window coverage

    # drift vs reference == batch divergence over each window's docs
    ref_docs = spark.createDataFrame(
        [(100, "the cat sat on the mat"), (101, "alpha beta epsilon")],
        "doc_id long, text string")
    ref_counts = (ref_docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token").agg(F.count("*").cast("long").alias("cnt")))
    streamed_drift = {r["window_start"]: r for r in
                      window_drift_vs_reference(got, ref_counts)
                      .collect()}
    raw = spark.read.parquet(src).filter(F.col("text") != "zzsentinel") \
        .withColumn("window_start",
                    F.date_format(F.window("ts", "1 hour").start,
                                  "yyyy-MM-dd HH:mm:ss"))
    for w in streamed_drift:
        expected = distribution_divergence(
            raw.filter(F.col("window_start") == w), ref_docs
        ).collect()[0]
        r = streamed_drift[w]
        assert (r["vocab"], r["tot_a"], r["tot_b"],
                r["kl_ab"], r["kl_ba"], r["js"]) == \
            (expected["vocab"], expected["tot_a"], expected["tot_b"],
             expected["kl_ab"], expected["kl_ba"], expected["js"]), w
    assert set(streamed_drift) == {w for w, _ in s_cells}
