"""Spark session, the workloads, output checks, end-to-end metrics.

Each workload runs at ``local[4]`` with 8 Arrow-stage partitions, in a
session carrying the confs ``job.py`` sets (AQE on, partition coalescing
off, Arrow on, 64-row batches) and BLAS pinned to one thread.

Timeline of one run: generate or reuse the pool and draw the seed's
inputs (untimed, not in ``setup_s``), then set up (session start plus
the median of three rounds of input load and warm-up), then one full
pass that is checked but not timed, then timed passes until their walls
add up to ``--seconds``, each pass checked as it ends.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

import pandas as pd

from . import corpus, procmon

CORES = 4
PARTITIONS = 8
SETUP_ROUNDS = 3
WARMUP_EVERY = 40     # each set-up round warms up on every 40th drawn doc
# full passes run and checked before timing starts: the first full pass
# after set-up runs 5-6% slower than the next, even when set-up warms up
# on 10% of the documents
WARM_PASSES = 1
PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "pinned.json")


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------

def configure_env() -> None:
    """Environment the JVM and its Python workers inherit: the checkout on
    the path, one BLAS thread, and every temporary file inside the
    checkout."""
    tmp = os.path.join(corpus.cache_root(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": corpus.ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })


def start_session():
    from pyspark.sql import SparkSession
    tmp = os.path.join(corpus.cache_root(), "tmp")
    spark = (SparkSession.builder
             .master(f"local[{CORES}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(PARTITIONS))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", tmp)
             .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext
    tree = procmon.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()     # the JVM exits when its stdin pipe breaks
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    procmon.wait_gone(tree, 30)


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------

def summarize(df, sample_ids: list[str], new_run_id: str | None = None):
    """One aggregate over an output table: row and doc counts, the doc-id
    checksum, an order-independent digest of (doc_id, status, strategy,
    spans_json), error count and the rows of the oracle sample. With
    ``new_run_id`` the error count covers that run's rows only and the
    ``preseed`` rows are counted apart."""
    from pyspark.sql import functions as F
    dec = "decimal(38,0)"
    new = (F.col("run_id") == new_run_id) if new_run_id else F.lit(True)
    pre = F.col("run_id") == corpus.PRESEED_RUN_ID
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("doc_id").alias("distinct"),
        F.sum(F.xxhash64("doc_id").cast(dec)).alias("idsum"),
        F.sum(F.xxhash64("doc_id", "status", "strategy", "spans_json")
              .cast(dec)).alias("digest"),
        F.sum(F.when(new & (F.col("status") == "error"), 1).otherwise(0))
        .alias("errors"),
        F.sum(F.when(new, 1).otherwise(0)).alias("new_rows"),
        F.collect_list(F.when(F.col("doc_id").isin(sample_ids),
                              F.struct("doc_id", "status", "strategy",
                                       "spans_json"))).alias("sample"),
    ]
    if new_run_id:
        aggs += [F.sum(F.when(pre, 1).otherwise(0)).alias("pre_rows"),
                 F.sum(F.when(pre, F.xxhash64("doc_id").cast(dec)))
                 .alias("pre_idsum")]
    return df.agg(*aggs).collect()[0]


def id_checksum(df):
    from pyspark.sql import functions as F
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.xxhash64("doc_id").cast("decimal(38,0)")).alias("s")
               ).collect()[0]
    return r["n"], r["s"]


def oracle_failures(sample_rows, expect: pd.DataFrame) -> list[str]:
    """Span-sequence equality (kind, text, media_ref, offset), status and
    winning strategy against the reference oracle."""
    got = {r["doc_id"]: r for r in sample_rows}
    out = []
    for e in expect.itertuples(index=False):
        g = got.get(e.doc_id)
        if g is None:
            out.append(f"oracle: {e.doc_id} missing from output")
            continue
        key = lambda spans: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                             for s in spans]
        if (g["status"] != e.status
                or (e.status == "ok" and g["strategy"] != e.strategy)
                or key(json.loads(g["spans_json"])) != key(json.loads(e.spans_json))):
            out.append(f"oracle: {e.doc_id} differs from the reference "
                       f"(status {g['status']} vs {e.status})")
    return out


def digest_failures(scale_name: str, workload: str, seed: int, pool: str,
                    digest) -> list[str]:
    """Compare with the digest pinned for (workload, seed); seeds not pinned
    in ``pinned.json`` are pinned in the checkout by their first run."""
    with open(PINNED) as f:
        pinned = json.load(f).get(f"{scale_name}:{workload}", {})
    want = pinned.get(str(seed))
    if want is None:
        rec = os.path.join(pool, "digests", f"{workload}-{seed}.txt")
        if os.path.exists(rec):
            with open(rec) as f:
                want = f.read().strip()
        else:
            os.makedirs(os.path.dirname(rec), exist_ok=True)
            with open(rec, "w") as f:
                f.write(f"{digest}\n")
            want = str(digest)
    if str(digest) != want:
        return [f"digest {digest} != pinned {want}"]
    return []


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

class Workload:
    """One workload for one seed: ``prepare`` (untimed), ``load`` and
    ``warmup`` (set-up), ``run_pass`` (timed), ``check_pass`` (untimed).
    Extraction runs in hybrid mode."""

    name = ""

    def __init__(self, scale: corpus.Scale, seed: int):
        from extractpdf4j_spark.config import ExtractConfig
        self.scale = scale
        self.seed = seed
        self.cfg = ExtractConfig()
        self.docs = self.media = None
        self.draw: corpus.Draw | None = None
        self.input_ids = None            # (count, checksum) of input doc ids

    # -- hooks ---------------------------------------------------------------
    def prepare(self, spark) -> None:
        raise NotImplementedError

    def load(self, spark) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def before_pass(self, i: int) -> None:
        pass

    def cleanup(self) -> None:
        pass

    def run_pass(self, spark, i: int):
        raise NotImplementedError

    def check_pass(self, spark, result, i: int) -> tuple[list[str], int, int]:
        """(failures, failed docs, error rows the pass produced)."""
        raise NotImplementedError

    # -- shared --------------------------------------------------------------
    @property
    def attempted_docs(self) -> int:
        return len(self.draw.run_ids) + len(self.draw.planted)

    @property
    def attempted_pages(self) -> int:
        return self.draw.pages

    @property
    def planted_errors(self) -> int:
        return len(self.draw.planted)

    def sample_ids(self) -> list[str]:
        return sorted(self.draw.expect["doc_id"])

    def warm_docs(self):
        """A fixed slice of the drawn documents, enough to start the Python
        workers and JIT the pipeline's code paths."""
        from pyspark.sql import functions as F
        return self.docs.filter(F.col("doc_id").isin(self.draw.run_ids[::WARMUP_EVERY]))

    def unpersist(self) -> None:
        for df in (self.docs, self.media):
            if df is not None:
                df.unpersist(blocking=True)

    def _planted_df(self, spark):
        from extractpdf4j_spark.pipeline import DOCUMENTS_SCHEMA
        return spark.createDataFrame(self.draw.planted, schema=DOCUMENTS_SCHEMA)

    def _cache(self, spark) -> None:
        self.docs = self.docs.cache()
        self.docs.count()
        if self.media is not None:
            self.media = self.media.cache()
            self.media.count()
        if self.input_ids is None:
            self.input_ids = id_checksum(self.docs)

    def common_failures(self, s, n_rows: int) -> tuple[list[str], int, int]:
        out = []
        if s["rows"] != n_rows or s["distinct"] != n_rows:
            out.append(f"rows {s['rows']} / distinct doc_ids {s['distinct']}"
                       f" != {n_rows} input documents")
        if s["idsum"] != self.input_ids[1]:
            out.append("output doc_ids differ from the input doc_ids")
        if s["errors"] != self.planted_errors:
            out.append(f"error rows {s['errors']} != planted {self.planted_errors}")
        ids = self.sample_ids()
        if len(ids) < self.scale.min_oracle:
            out.append(f"oracle sample {len(ids)} < {self.scale.min_oracle}")
        out += oracle_failures(s["sample"], self.draw.expect)
        out += digest_failures(self.scale.name, self.name, self.seed,
                               self.draw.pool, s["digest"])
        failed = abs(s["rows"] - n_rows) + (s["rows"] - s["distinct"])
        return out, failed, s["errors"]


class HybridMix(Workload):
    """``extract(...)`` over the seed's sf draw; the timed action is the
    aggregate the checks read (counts, digest, oracle sample)."""

    name = "hybrid_mix"

    def prepare(self, spark) -> None:
        pool = corpus.ensure_pools(spark, self.scale)["sf"]
        self.draw = corpus.draw_sf(pool, self.scale, self.seed)

    def load(self, spark) -> None:
        from pyspark.sql import functions as F
        self.unpersist()
        keep = F.broadcast(spark.createDataFrame(
            pd.DataFrame({"doc_id": self.draw.run_ids})))
        self.docs = (spark.read.parquet(os.path.join(self.draw.pool, "docs"))
                     .join(keep, "doc_id", "left_semi")
                     .unionByName(self._planted_df(spark)))
        self.media = (spark.read.parquet(os.path.join(self.draw.pool, "media"))
                      .join(keep, "doc_id", "left_semi"))
        self._cache(spark)

    def warmup(self, spark) -> None:
        from extractpdf4j_spark.pipeline import extract
        extract(self.warm_docs(), self.media, self.cfg, PARTITIONS).count()

    def run_pass(self, spark, i: int):
        from extractpdf4j_spark.pipeline import extract
        return summarize(extract(self.docs, self.media, self.cfg, PARTITIONS),
                         self.sample_ids())

    def check_pass(self, spark, result, i: int):
        return self.common_failures(result, self.input_ids[0])


class ResumeSkew(Workload):
    """``run_extraction(resume=True)`` into a checkpoint pre-seeded with
    half the multi-page corpus; each pass starts from a fresh copy."""

    name = "resume_skew"

    def prepare(self, spark) -> None:
        pool = corpus.ensure_pools(spark, self.scale)["rs"]
        self.draw = corpus.draw_rs(pool, self.scale, self.seed)
        self.checkpoint = corpus.seed_checkpoint(spark, self.draw, self.seed)
        self.pre_ids = id_checksum(spark.read.parquet(self.checkpoint))
        self.work = os.path.join(corpus.cache_root(), "tmp", f"work{os.getpid()}")

    def load(self, spark) -> None:
        self.unpersist()
        self.docs = (spark.read.parquet(os.path.join(self.draw.pool, "docs"))
                     .unionByName(self._planted_df(spark)))
        self.media = spark.read.parquet(os.path.join(self.draw.pool, "media"))
        self._cache(spark)

    def warmup(self, spark) -> None:
        from extractpdf4j_spark.pipeline import run_extraction
        shutil.rmtree(self.work, ignore_errors=True)
        run_extraction(spark, self.warm_docs(), self.media, self.cfg, self.work,
                       "warmup", resume=True, num_partitions=PARTITIONS)
        shutil.rmtree(self.work, ignore_errors=True)

    def run_id(self, i: int) -> str:
        return f"bench-{self.seed}-{i}"

    def before_pass(self, i: int) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        shutil.copytree(self.checkpoint, os.path.join(self.work, "combined"))

    def run_pass(self, spark, i: int):
        from extractpdf4j_spark.pipeline import run_extraction
        run_extraction(spark, self.docs, self.media, self.cfg, self.work,
                       self.run_id(i), resume=True, num_partitions=PARTITIONS)

    def check_pass(self, spark, result, i: int):
        out_df = spark.read.parquet(os.path.join(self.work, "combined"))
        s = summarize(out_df, self.sample_ids(), self.run_id(i))
        out, failed, errors = self.common_failures(s, self.input_ids[0])
        if s["new_rows"] != self.attempted_docs:
            out.append(f"run rows {s['new_rows']} != {self.attempted_docs}")
        if (s["pre_rows"], s["pre_idsum"]) != self.pre_ids:
            out.append("pre-seeded documents lost their first run_id")
        return out, failed, errors

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


WORKLOADS = {w.name: w for w in (HybridMix, ResumeSkew)}


# ---------------------------------------------------------------------------
# One untraced run
# ---------------------------------------------------------------------------

def setup(spark, wl: Workload) -> list[float]:
    rounds = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        wl.load(spark)
        wl.warmup(spark)
        rounds.append(time.perf_counter() - t0)
    return rounds


def timed_passes(spark, wl: Workload, seconds: float, min_passes: int = 1):
    """WARM_PASSES untimed passes, then timed passes until their walls add
    up to ``seconds`` (and at least ``min_passes``). Every pass is checked
    after its wall is taken. Returns (walls, failures, failed docs, error
    rows of each timed pass)."""
    walls, errors, failures, failed, i = [], [], [], 0, 0
    while sum(walls) < seconds or len(walls) < min_passes:
        wl.before_pass(i)
        t0 = time.perf_counter()
        result = wl.run_pass(spark, i)
        wall = time.perf_counter() - t0
        f, n, e = wl.check_pass(spark, result, i)
        failures += f
        failed += n
        if i >= WARM_PASSES:
            walls.append(wall)
            errors.append(e)
        i += 1
    return walls, failures, failed, errors


def end_to_end(wl: Workload, session_s: float, rounds: list[float],
               walls: list[float], errors: list[int], peak_mb: float) -> dict:
    wall = statistics.median(walls)
    return {
        "wall_s": {"value": wall, "unit": "s"},
        "docs_per_s": {"value": wl.attempted_docs / wall, "unit": "1/s"},
        "pages_per_s": {"value": wl.attempted_pages / wall, "unit": "1/s"},
        "setup_s": {"value": session_s + statistics.median(rounds), "unit": "s"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        "error_frac": {"value": statistics.median(errors) / wl.attempted_docs,
                       "unit": "ratio"},
    }
