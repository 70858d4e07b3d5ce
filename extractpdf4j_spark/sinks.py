"""Output sinks beyond the primary span-table write.

* CSV sink — the reference's CsvExporter/Main multi-table file sink
  (CsvExporter.java:28-49): a distributed write partitioned by doc_id
  with the reference's exact quoting rules, plus
  :func:`export_numbered_csvs` reproducing Main.java:234-271's
  ``out-1.csv, out-2.csv`` per-table file naming via foreachPartition.
* debug artifacts — the reference writes grid overlays / cell crops /
  OCR dumps (LatticeParser.java:196-238, OcrStreamParser.java:136-140);
  :func:`write_debug_artifacts` is the scale analog: a SAMPLED side job
  (deterministic hash sample, never on the hot path) that re-runs the
  kernels on the sampled pages and writes rasters, per-strategy
  cell/bounds dumps, and the OCR word layer as parquet artifacts.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (BinaryType, IntegerType, StringType,
                               StructField, StructType)


def tables_as_rows(extracted: DataFrame) -> DataFrame:
    """Flatten documents_extracted spans back into (doc_id, table_idx,
    row_idx, col_idx, value) — pure native ops on the span encoding."""
    s = (extracted.select("doc_id", F.posexplode("spans").alias("pos", "sp")))
    tables = (s.filter(F.col("sp.kind") == "media")
              .select("doc_id", F.col("pos").alias("tstart"),
                      F.col("sp.media_ref").alias("table_ref")))
    w_tables = (tables
                .withColumn("table_idx",
                            F.row_number().over(
                                Window.partitionBy("doc_id")
                                .orderBy("tstart")) - 1))
    cells = (s.filter(F.col("sp.kind") == "text")
             .select("doc_id", F.col("pos").alias("cpos"),
                     F.col("sp.text").alias("value"),
                     F.col("sp.media_ref").alias("cell_ref")))
    j = (cells.join(w_tables, "doc_id")
         .filter(F.col("cpos") > F.col("tstart"))
         .groupBy("doc_id", "cpos", "value", "cell_ref")
         .agg(F.max("tstart").alias("tstart")))
    j = j.join(w_tables, ["doc_id", "tstart"])
    r = F.regexp_extract("cell_ref", r"r(\d+)c(\d+)", 1).cast("int")
    c = F.regexp_extract("cell_ref", r"r(\d+)c(\d+)", 2).cast("int")
    return j.select("doc_id", "table_idx", "table_ref",
                    r.alias("row_idx"), c.alias("col_idx"), "value")


def _csv_quote(col, sep: str):
    needs = (col.contains(sep) | col.contains('"')
             | col.contains("\n"))
    quoted = F.concat(F.lit('"'),
                      F.regexp_replace(col, '"', '""'), F.lit('"'))
    return F.when(needs, quoted).otherwise(col)


def write_tables_csv(extracted: DataFrame, out_dir: str,
                     sep: str = ",") -> None:
    """Serialize each document's tables with the reference's quoting rules
    (CsvExporter.java:38-43) and write text partitioned by doc_id."""
    (_doc_csv_frames(extracted, sep)
     .select("doc_id", "table_idx", "csv")
     .write.mode("overwrite").partitionBy("doc_id").parquet(out_dir))


def _doc_csv_frames(extracted: DataFrame, sep: str) -> DataFrame:
    cells = tables_as_rows(extracted)
    cells = cells.withColumn("cell_csv", _csv_quote(F.col("value"), sep))
    rows = (cells.groupBy("doc_id", "table_idx", "row_idx")
            .agg(F.concat_ws(
                sep, F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("col_idx", "cell_csv"))),
                    lambda s: s.cell_csv)).alias("line")))
    return (rows.groupBy("doc_id", "table_idx")
            .agg(F.concat_ws("\n", F.transform(
                F.array_sort(F.collect_list(F.struct("row_idx", "line"))),
                lambda s: s.line)).alias("csv")))


def export_numbered_csvs(extracted: DataFrame, out_dir: str,
                         sep: str = ",") -> None:
    """Main.java:234-271 file-naming parity: each document's tables land
    as ``{out_dir}/{doc_id}/out-1.csv, out-2.csv, ...`` (1-based, table
    order). Executors write files directly via foreachPartition, so the
    export distributes; ``out_dir`` must be a path every executor can
    reach (local/NFS — object stores want the parquet sink instead)."""
    frames = _doc_csv_frames(extracted, sep)

    def write_partition(rows) -> None:
        for r in rows:
            d = os.path.join(out_dir, str(r["doc_id"]))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"out-{int(r['table_idx']) + 1}.csv"),
                      "w", encoding="utf-8") as f:
                f.write(r["csv"] + "\n")

    frames.foreachPartition(write_partition)


# ---------------------------------------------------------------------------
# Sampled debug artifacts (op 7)
# ---------------------------------------------------------------------------

DEBUG_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("page", IntegerType()),
    StructField("strategy", StringType()),
    StructField("kind", StringType()),       # raster | table | ocr_words
    StructField("meta_json", StringType()),
    StructField("blob", BinaryType()),
])


def _make_debug_pages(cfg):
    from .kernels import page_extractor
    from .pipeline import _decode_page, _forget_zip_importers

    cols = [f.name for f in DEBUG_SCHEMA.fields]

    def debug_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _forget_zip_importers()
        extract_page = page_extractor(cfg)
        for pdf in batches:
            rows: list[tuple] = []
            for t in pdf.itertuples(index=False):
                doc_id = t.doc_id
                page = (int(t.page)
                        if t.page is not None and t.page == t.page else -1)
                if page < 0:
                    continue
                try:
                    glyphs, payload = _decode_page(page, t.glyph_blob,
                                                   t.payload)
                    if payload is not None:
                        rows.append((doc_id, page, "", "raster",
                                     json.dumps({
                                         "dpi": payload.dpi,
                                         "page_width_pt": payload.page_width_pt,
                                         "page_height_pt": payload.page_height_pt,
                                         "shape": list(payload.shape)}),
                                     bytes(t.payload)))
                        rows.append((doc_id, page, "", "ocr_words",
                                     payload.words.to_json(orient="records"),
                                     None))
                    for strat, tbl, _, _ in extract_page(glyphs, payload):
                        if tbl.nrows > 0:
                            rows.append((doc_id, page, strat, "table",
                                         json.dumps({
                                             "cells": tbl.cells,
                                             "col_bounds": tbl.col_bounds,
                                             "row_bounds": tbl.row_bounds}),
                                         None))
                except Exception as e:
                    rows.append((doc_id, page, "", "error",
                                 json.dumps({"error": str(e)[:500]}), None))
            yield pd.DataFrame(rows, columns=cols)

    return debug_pages


def write_debug_artifacts(docs: DataFrame, media: DataFrame | None, cfg,
                          out_dir: str, sample: float = 0.01) -> None:
    """The reference's debug artifacts (grid overlays, cell crops, OCR
    TSV dumps) as a deterministic hash-SAMPLED side job: page rasters,
    per-strategy cell grids + grid bounds (everything needed to redraw
    the overlay), and the OCR word layer, written as parquet partitioned
    by doc_id. Never touches the extraction hot path."""
    from .pipeline import build_page_work
    frac = max(0, min(10_000, int(sample * 10_000)))
    sampled = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10_000)) < frac)
    work = build_page_work(sampled, media, cfg)
    out = work.mapInPandas(_make_debug_pages(cfg), schema=DEBUG_SCHEMA)
    out.write.mode("overwrite").partitionBy("doc_id").parquet(out_dir)


# ---------------------------------------------------------------------------
# Training-shard sink (the last mile of the curation pipeline)
# ---------------------------------------------------------------------------

def _shard_manifest(data: DataFrame, token_col: str, key_col: str,
                    group_cols: tuple = ("bucket", "shard")) -> DataFrame:
    """Per-shard doc/token counts + an order-insensitive content
    fingerprint (bit_xor of the family's 60-bit key hash — mergeable,
    so recomputing it over any re-partitioning of the same rows gives
    the same value). ``group_cols`` gains an ``epoch`` level for the
    streaming sink's batch-scoped shards."""
    from .functions.dedup import _hash60
    return (data
            .withColumn("_kh", _hash60(F.col(key_col).cast("string")))
            .groupBy(*[F.col(c).cast("long").alias(c)
                       for c in group_cols])
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(token_col).cast("long").alias("n_tokens"),
                 F.expr("bit_xor(_kh)").alias("fingerprint")))


def write_training_shards(df: DataFrame, out_dir: str, token_col: str,
                          budget: int, n_buckets: int = 4,
                          key_col: str = "doc_id",
                          mode: str = "error") -> DataFrame:
    """Materialize the curated corpus as training shards: pack_shards'
    token-budget assignment written as one parquet partition per
    ``(bucket, shard)``, plus a ``_manifest`` table for integrity
    checks and dataloader planning (per-shard doc count, token count,
    content fingerprint).

    Returns the manifest READ BACK from disk, computed over the rows
    that were actually written — not over the in-memory plan — so what
    the caller records is what a loader will see.

    Scale shape: the pack window already clusters each bucket's rows in
    shard order, so the partitioned write streams without an extra
    sort-shuffle; the manifest is one map-side-combinable aggregation
    over the written files. A shard never splits a document (pack
    invariant), so a loader can treat each directory as an atomic unit.
    """
    from .functions.corpusops import pack_shards
    packed = pack_shards(df, token_col=token_col, budget=budget,
                         n_buckets=n_buckets, key_col=key_col)
    if packed.isEmpty():
        # a zero-row partitionBy write leaves NO files and the
        # read-back cannot infer a schema — write schema-only parquet
        # so an empty corpus yields an empty-but-readable directory
        packed.write.mode(mode).parquet(f"{out_dir}/shards")
    else:
        (packed.write.partitionBy("bucket", "shard").mode(mode)
         .parquet(f"{out_dir}/shards"))
    spark = df.sparkSession
    written = spark.read.parquet(f"{out_dir}/shards")
    manifest = _shard_manifest(written, token_col, key_col)
    manifest.write.mode(mode).parquet(f"{out_dir}/_manifest")
    return spark.read.parquet(f"{out_dir}/_manifest")


def validate_training_shards(spark, out_dir: str, token_col: str,
                             key_col: str = "doc_id") -> DataFrame:
    """Integrity check for a shard directory: recompute the manifest
    from the shard data and full-outer-diff it against the stored one.
    Returns the mismatch rows (empty = intact) with a ``problem``
    column: ``missing_data`` (manifest row with no files),
    ``unmanifested`` (files with no manifest row), or ``corrupt``
    (counts/fingerprint drifted — partial rewrite, lost files, or
    duplicated rows). Epoch-scoped directories (the streaming sink's
    layout) validate per (epoch, bucket, shard) automatically."""
    data = spark.read.parquet(f"{out_dir}/shards")
    stored = spark.read.parquet(f"{out_dir}/_manifest")
    keys = (("epoch", "bucket", "shard") if "epoch" in data.columns
            else ("bucket", "shard"))
    recomputed = _shard_manifest(data, token_col, key_col,
                                 group_cols=keys)
    stored = stored.select(*[F.col(c).cast("long").alias(c)
                             for c in keys],
                           "n_docs", "n_tokens", "fingerprint")
    r = recomputed.select(*keys,
                          F.col("n_docs").alias("r_docs"),
                          F.col("n_tokens").alias("r_tokens"),
                          F.col("fingerprint").alias("r_fp"))
    s = stored.select(*keys,
                      F.col("n_docs").alias("s_docs"),
                      F.col("n_tokens").alias("s_tokens"),
                      F.col("fingerprint").alias("s_fp"))
    j = s.join(r, list(keys), "full_outer")
    problem = (F.when(F.col("r_docs").isNull(), F.lit("missing_data"))
               .when(F.col("s_docs").isNull(), F.lit("unmanifested"))
               .when((F.col("r_docs") != F.col("s_docs"))
                     | (F.col("r_tokens") != F.col("s_tokens"))
                     | (F.col("r_fp") != F.col("s_fp")),
                     F.lit("corrupt")))
    return (j.withColumn("problem", problem)
            .filter(F.col("problem").isNotNull())
            .select(*keys, "problem",
                    "s_docs", "r_docs", "s_tokens", "r_tokens"))
