"""Corpus-scale fixture derivation as a Spark job.

Turns the driver's flat ``documents`` parquet (doc_id:int64, text) into the
engine's interleaved span documents + media payloads — deterministically
(seeded by doc_id), distributed (mapInPandas batch generation, no driver
loop), and cached as parquet so benchmarks time extraction, not
generation.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (BinaryType, IntegerType, StringType,
                               StructField, StructType)

from .fixtures import build_from_corpus_pdf
from .pipeline import SPAN_STRUCT

from pyspark.sql.types import ArrayType

GEN_SCHEMA = StructType([
    StructField("row_kind", StringType()),
    StructField("doc_id", StringType()),
    StructField("spans_json", StringType()),
    StructField("media_ref", StringType()),
    StructField("page", IntegerType()),
    StructField("payload", BinaryType()),
])

GEN_VERSION = "v5"  # bump to invalidate caches when generation changes


def _generate(batches):
    for pdf in batches:
        docs, media = build_from_corpus_pdf(pdf)
        rows = []
        for t in docs.itertuples(index=False):
            rows.append(("doc", t.doc_id, json.dumps(list(t.spans)),
                         None, None, None))
        for m in media.itertuples(index=False):
            rows.append(("media", m.doc_id, None, m.media_ref,
                         int(m.page), m.payload))
        yield pd.DataFrame(rows, columns=[f.name for f in GEN_SCHEMA.fields])


def ensure_fixture_corpus(spark: SparkSession, sf_dir: str,
                          cache_root: str = "/tmp/extractpdf4j_fixtures",
                          limit: int | None = None
                          ) -> tuple[DataFrame, DataFrame]:
    """Derive (documents, media) span tables from ``{sf_dir}/documents.parquet``,
    caching the result on disk keyed by (sf_dir, generator version)."""
    key = hashlib.sha256(f"{sf_dir}:{GEN_VERSION}:{limit}".encode()).hexdigest()[:12]
    cache = os.path.join(cache_root, key)
    marker = os.path.join(cache, "_SUCCESS_GEN")
    if not os.path.exists(marker):
        raw = spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .select("doc_id", "text")
        if limit:
            # deterministic subset (limit() without order is not stable
            # across plans; the correctness gate re-runs must agree)
            raw = raw.filter(F.col("doc_id") < limit)
        gen = raw.repartition(8).mapInPandas(_generate, schema=GEN_SCHEMA)
        gen.write.mode("overwrite").parquet(cache)
        with open(marker, "w") as f:
            f.write("ok")
    gen = spark.read.parquet(cache)
    docs = (gen.filter(F.col("row_kind") == "doc")
            .select("doc_id",
                    F.from_json("spans_json", ArrayType(SPAN_STRUCT))
                    .alias("spans")))
    media = (gen.filter(F.col("row_kind") == "media")
             .select("media_ref", "doc_id", "page", "payload"))
    return docs, media
