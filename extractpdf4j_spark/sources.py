"""Table IO seam: parquet paths or catalog (Iceberg) table identifiers.

The north rule's corpus lives in Iceberg tables; this sandbox has no
Iceberg runtime, so all table IO routes through one seam: a reference
that looks like a catalog identifier (``cat.db.documents``) reads/writes
through the session catalog — with Iceberg jars + catalog config that IS
an Iceberg table, and its metadata gives partition pruning and snapshot
isolation for free — while a path reads/writes parquet. The engine code
is identical either way; tests exercise the identifier branch through
Spark's built-in session catalog (same DataFrameWriterV2 API surface
Iceberg implements).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

# the only read failures that mean "no checkpoint yet"
_NOT_FOUND = frozenset({"PATH_NOT_FOUND", "TABLE_OR_VIEW_NOT_FOUND"})
# a parquet directory that exists but holds no data file yet: a first run
# that died before its append committed leaves it empty or holding only
# ``_temporary`` (hidden from the reader)
_NO_DATA = "UNABLE_TO_INFER_SCHEMA"


def is_table_identifier(ref: str) -> bool:
    """Catalog identifier vs filesystem path: paths contain '/' or a
    URI scheme; identifiers are dotted names."""
    return not ("/" in ref or "\\" in ref
                or ref.startswith(("s3:", "s3a:", "hdfs:", "file:", "gs:",
                                   "abfs:", "abfss:")))


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """Read documents/media from a catalog table or a parquet path."""
    if is_table_identifier(ref):
        return spark.read.table(ref)
    return spark.read.parquet(ref)


def append_table(df: DataFrame, ref: str) -> None:
    """Append rows to a catalog table (created on first write) or a
    parquet path. ``saveAsTable(mode='append')`` creates-if-missing and
    works against both the built-in v1 session catalog (tests/dev) and
    an Iceberg session catalog (production, where it rides Iceberg's
    transactional commit)."""
    if is_table_identifier(ref):
        df.write.mode("append").saveAsTable(ref)
    else:
        df.write.mode("append").parquet(ref)


def try_read_table(spark: SparkSession, ref: str) -> DataFrame | None:
    """Read for resume: None when the checkpoint target doesn't exist.

    Only a missing path or table, or a parquet directory with no data
    file in it, means "no checkpoint". Any other failure (a corrupt file,
    a permission or transient IO error) raises: treating it as "no
    checkpoint" would re-extract every document and append duplicate
    rows."""
    try:
        return read_table(spark, ref)
    except AnalysisException as e:
        # getCondition() is PySpark >= 4.0; getErrorClass() its 3.5 name
        cond = getattr(e, "getCondition", e.getErrorClass)()
        if cond in _NOT_FOUND or (cond == _NO_DATA
                                  and not is_table_identifier(ref)):
            return None
        raise


def write_bucketed(df: DataFrame, ref: str, bucket_col: str,
                   n_buckets: int = 256, sort: bool = True) -> None:
    """Create/replace catalog table ``ref`` bucketed by ``bucket_col`` —
    the table layout that makes the engine's stage-0 equi-joins
    (documents ⋈ media on doc_id / media_ref) shuffle-free, per the
    README scale note.

    Against the v1 session catalog (tests/dev) this is Hive-style
    ``bucketBy``: when both join sides are bucketed on the join key with
    matching bucket counts, Spark's bucketed scan elides BOTH exchanges
    (asserted with plan evidence in
    test_bucketed_join_is_shuffle_free). On an Iceberg catalog the same
    intent is the ``bucket(N, col)`` partition transform plus
    storage-partitioned joins
    (``spark.sql.sources.v2.bucketing.enabled``); the identifier
    routing through this seam is unchanged.
    """
    if not is_table_identifier(ref):
        raise ValueError(
            "bucketed write requires a catalog table identifier, "
            f"got path-like ref {ref!r}")
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.format("parquet").saveAsTable(ref)


# ---------------------------------------------------------------------------
# WARC source (ISO 28500 — the web-crawl archive format)
# ---------------------------------------------------------------------------

# Imported lazily-light: everything below is stdlib + pyspark.
import gzip
import io

import pandas as pd

from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType)

WARC_SCHEMA = StructType([
    StructField("warc_path", StringType()),
    StructField("record_id", StringType()),
    StructField("warc_type", StringType()),
    StructField("target_uri", StringType()),
    StructField("warc_date", StringType()),
    StructField("content_type", StringType()),
    StructField("http_status", IntegerType()),
    StructField("payload", BinaryType()),
    StructField("payload_text", StringType()),
    StructField("record_length", LongType()),
])


def _iter_warc_records(data: bytes):
    """Walk WARC records by Content-Length (the spec's framing — never
    by regex-splitting on the version line, which can occur inside
    payloads). Yields (headers dict lowercase, block bytes).

    A record with a missing/garbage Content-Length or no header
    terminator RESYNCS to the next ``WARC/`` magic instead of ending
    the walk — one corrupt record in a 1 GB crawl archive must not
    lose the rest of the file (same malformed-input contract as the
    PDF pipeline). Only a truncated tail ends the walk early."""
    pos = 0
    n = len(data)
    while pos < n:
        while pos < n and data[pos:pos + 2] in (b"\r\n", b"\n\n"):
            pos += 2
        if not data.startswith(b"WARC/", pos):
            break
        hend = data.find(b"\r\n\r\n", pos)
        if hend < 0:
            break
        headers = {}
        for line in data[pos:hend].split(b"\r\n")[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower().decode("ascii", "replace")] = \
                    v.strip().decode("utf-8", "replace")
        body_start = hend + 4
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            pos = data.find(b"\r\nWARC/", body_start)
            pos = n if pos < 0 else pos + 2
            continue
        yield headers, data[body_start:body_start + clen]
        pos = body_start + clen


def _split_http(block: bytes):
    """(status, payload) from an HTTP response block; non-HTTP blocks
    (warcinfo, metadata, conversion records) pass through whole."""
    if not block.startswith(b"HTTP/"):
        return None, block
    hend = block.find(b"\r\n\r\n")
    if hend < 0:
        return None, block
    status_line = block[:block.find(b"\r\n")].split(b" ")
    try:
        status = int(status_line[1])
    except (IndexError, ValueError):
        status = None
    return status, block[hend + 4:]


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read WARC archives (plain or gzipped, incl. the member-per-record
    gzip Common Crawl ships) into one row per record.

    Scale shape: ``binaryFile`` gives one task per archive — the natural
    WARC parallelism, since crawl archives are written as ~1 GB
    segments and records inside a segment must be walked sequentially
    (Content-Length framing). Parsing is an Arrow-batched ``mapInPandas``
    IO seam, not a per-row UDF; downstream curation (urlops → htmlops →
    dedup families) runs on the emitted columns fully JVM-side.
    ``payload_text`` is the UTF-8 (errors=replace) decode for the text
    pipeline; ``payload`` keeps the exact bytes for multimodal columns.
    """
    files = (spark.read.format("binaryFile").load(path)
             .select("path", "content"))

    def parse(batches):
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if data[:2] == b"\x1f\x8b":
                    # concatenated gzip members decompress transparently
                    data = gzip.GzipFile(fileobj=io.BytesIO(data)).read()
                for headers, block in _iter_warc_records(data):
                    status, payload = _split_http(block)
                    rows.append((
                        fpath,
                        headers.get("warc-record-id"),
                        headers.get("warc-type"),
                        headers.get("warc-target-uri"),
                        headers.get("warc-date"),
                        headers.get("content-type"),
                        status,
                        payload,
                        payload.decode("utf-8", "replace"),
                        len(block),
                    ))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              WARC_SCHEMA.fields])

    return files.mapInPandas(parse, WARC_SCHEMA)


def read_jsonl_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read a crawl-dump JSONL directory into the engine's document
    model — the other wire format (besides parquet/Iceberg and WARC)
    corpora actually arrive in.

    Scale shape: the schema is PINNED to the document model (no
    inference pass over 100 TB of text), the scan is Spark's native
    line-splittable JSON reader (per-split parallelism, predicate/
    column pruning as usual), and malformed lines follow the
    pipeline's no-process-death rule: PERMISSIVE mode routes them to a
    ``parse_status='malformed_json'`` row carrying the raw line, so a
    corrupt shard costs rows, not the job. Good rows return
    ``parse_status='ok'`` and flow straight into ``extract``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from .pipeline import DOCUMENTS_SCHEMA

    schema = StructType(list(DOCUMENTS_SCHEMA.fields)
                        + [StructField("_corrupt_record", StringType())])
    df = (spark.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(path))
    return df.select(
        "doc_id", "spans",
        F.when(F.col("_corrupt_record").isNull(), F.lit("ok"))
        .otherwise(F.lit("malformed_json")).alias("parse_status"),
        F.col("_corrupt_record").alias("raw_line"))
