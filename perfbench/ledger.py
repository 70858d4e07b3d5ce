"""The traced run: a per-layer ledger timed from outside the package.

Spark side: the workload's plan is cut at layer boundaries with the noop
sink, in the manner of ``bench_extra.py --stages``, and each cut runs as
its own job group so Spark's status store attributes stages, CPU, shuffle
and spill to it. A layer's figure is its cut minus the cut before it:

    resume_read  docs anti-joined against the checkpoint (resume_skew)
    page_work    pipeline.build_page_work
    stage1       + mapInPandas(pipeline._make_extract_pages)
    stage2       + repartition + mapInPandas(_make_assemble_partition);
                 on hybrid_mix the last cut is the timed pass itself, so
                 stage2 also holds the checks' aggregate
    output       run_extraction's parquet append (resume_skew)

The cut sequence runs twice and each layer's figure is its median over
the two, so the layers add up to the median traced full pass, which is
compared with the untraced median ``wall_s`` of the same run. A layer whose cost is below
the run-to-run noise (the resume append, say) can come out slightly
negative.

Python side: the package's public functions called one at a time, in
this process and single-threaded, over the page-work rows of a fixed
sample of documents. ``stage1_fn`` runs the real stage-1 batch function;
the same rows are then pushed through each decode, kernel and score call
alone, and the batch function's time minus those is the per-page loop and
JSON cost around the kernels (``stage1_fn.overhead_ms_per_page``).

Spans (name, start, end, parent, trace id) and counters are kept in memory
and written as JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

import pandas as pd

from . import harness, procmon

MICRO_DOCS = 96
MICRO_REPS = 3
# cut sequences; a layer's figure is its median over them (one full pass
# varies by up to 10% on a 4-vCPU VM, as much as the ledger's done-check)
CUT_REPS = 2
MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "trace_id": self.trace_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans,
                       "counters": self.counters,
                       "self_s": self.self_times(), **extra}, f, indent=1)


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _group_stats(spark, group: str) -> dict:
    """Totals over the stages of a job group, from the status store."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    jvm = sc._jvm
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    stage_ids = sorted({int(sid) for j in job_ids
                        for sid in _seq(store.job(j).stageIds())})
    t = {"jobs": len(job_ids), "cpu_s": 0.0, "shuffle_read": 0,
         "shuffle_write": 0, "spill": 0, "output": 0, "gc_s": 0.0,
         "last_stage": None}
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for sid in stage_ids:
        for sd in _seq(store.stageData(sid, False, jvm.java.util.ArrayList(),
                                       False, no_quantiles)):
            if sd.numTasks() == 0 or str(sd.status()) != "COMPLETE":
                continue
            t["cpu_s"] += sd.executorCpuTime() / 1e9
            t["shuffle_read"] += sd.shuffleReadBytes()
            t["shuffle_write"] += sd.shuffleWriteBytes()
            t["spill"] += sd.diskBytesSpilled()
            t["output"] += sd.outputBytes()
            t["gc_s"] += sd.jvmGcTime() / 1e3
            t["last_stage"] = (sid, sd.attemptId())
    return t


def _task_skew(spark, stage) -> float:
    """Longest task over the median task of one stage attempt."""
    store = spark.sparkContext._jsc.sc().statusStore()
    durs = [int(td.duration().get()) for td in _seq(store.taskList(stage[0], stage[1], 100_000))
            if td.duration().isDefined()]
    med = statistics.median(durs) if durs else 0
    return max(durs) / med if med else 0.0


def _gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cut(spark, tracer: Tracer, name: str, rep: int, thunk, prep=None) -> dict:
    """Run one cut in its own job group; ``prep`` runs first, untimed."""
    sc = spark.sparkContext
    group = f"perfbench:{name}:{rep}"
    if prep is not None:
        prep()
    sc.setJobGroup(group, group)
    cpu0, gc0 = procmon.tree_cpu_s(os.getpid()), _gc_s(spark)
    try:
        with tracer.span(name) as rec:
            thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    stats = _group_stats(spark, group)
    stats.update(wall_s=rec["end"] - rec["start"],
                 tree_cpu_s=procmon.tree_cpu_s(os.getpid()) - cpu0,
                 jvm_gc_s=_gc_s(spark) - gc0)
    tracer.counters.update({f"cut.{name}.{rep}.{k}": v for k, v in stats.items()
                            if isinstance(v, (int, float))})
    return stats


def _plan_build_s(spark, build) -> float:
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        build()._jdf.queryExecution().executedPlan()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _cut_sequence(spark, wl: harness.Workload, tracer: Tracer, docs, rep: int,
                  between=None) -> list[tuple[str, dict]]:
    """One run of every cut, each a prefix of the full pass; ``between``
    runs untimed after the stage-1 cut."""
    from pyspark.sql import functions as F
    from extractpdf4j_spark.pipeline import (PAGE_RESULT_SCHEMA, _make_extract_pages,
                                             build_page_work, extract)
    cfg, P = wl.cfg, harness.PARTITIONS
    resume = isinstance(wl, harness.ResumeSkew)
    if resume:
        wl.before_pass(-1)

    def cut(layer, name, thunk, prep=None):
        return layer, _cut(spark, tracer, name, rep, thunk, prep)

    cuts = []
    if resume:
        cuts.append(cut("resume_read", "sources.try_read_table+anti_join",
                        lambda: _noop(docs)))
    cuts.append(cut("page_work", "pipeline.build_page_work",
                    lambda: _noop(build_page_work(docs, wl.media, cfg, P))))
    cuts.append(cut("stage1", "pipeline._make_extract_pages",
                    lambda: _noop(build_page_work(docs, wl.media, cfg, P)
                                  .mapInPandas(_make_extract_pages(cfg),
                                               schema=PAGE_RESULT_SCHEMA))))
    if between is not None:
        between()
    if resume:
        cuts.append(cut("stage2", "pipeline._make_assemble_partition",
                        lambda: _noop(extract(docs, wl.media, cfg, P)
                                      .withColumn("run_id", F.lit("trace"))
                                      .withColumn("lineage", F.lit("")))))
        cuts.append(cut("output", "pipeline.run_extraction",
                        lambda: wl.run_pass(spark, -1),
                        prep=lambda: wl.before_pass(-1)))
    else:
        cuts.append(cut("stage2", "pipeline.extract", lambda: wl.run_pass(spark, -1)))
    return cuts


def spark_layers(spark, wl: harness.Workload, tracer: Tracer) -> dict:
    from extractpdf4j_spark.pipeline import build_page_work, extract
    from extractpdf4j_spark.sources import try_read_table

    cfg, P = wl.cfg, harness.PARTITIONS
    resume = isinstance(wl, harness.ResumeSkew)
    if resume:
        wl.before_pass(-1)
        prev = try_read_table(spark, os.path.join(wl.work, "combined"))
        docs = wl.docs.join(prev.select("doc_id").distinct(), "doc_id", "left_anti")
    else:
        docs = wl.docs
    counted = {}

    def count_rows():
        # counted before the output cut appends to the checkpoint the
        # anti-join reads
        sc = spark.sparkContext
        sc.setJobDescription("perfbench: page-work rows")
        counted["pw_rows"] = build_page_work(docs, wl.media, cfg, P).count()
        counted["skipped"] = wl.input_ids[0] - docs.count() if resume else 0
        sc.setJobDescription(None)

    reps = [_cut_sequence(spark, wl, tracer, docs, r, count_rows if r == 0 else None)
            for r in range(CUT_REPS)]
    plan_s = _plan_build_s(spark, lambda: extract(docs, wl.media, cfg, P))

    keys = ("wall_s", "tree_cpu_s", "shuffle_read", "shuffle_write", "spill", "output")
    per_rep = []
    for cuts in reps:
        layer, prev_cut = {}, None
        for name, c in cuts:
            layer[name] = {k: c[k] - (prev_cut[k] if prev_cut else 0) for k in keys}
            prev_cut = c
        per_rep.append(layer)
    layer = {name: {k: statistics.median(l[name][k] for l in per_rep) for k in keys}
             for name in per_rep[0]}
    full = reps[-1][-1][1]
    stage1 = dict(reps[-1])["stage1"]

    zero = dict.fromkeys(keys, 0.0)
    out = layer.get("output", zero)
    m = {
        "driver.plan_build_s": plan_s,
        "driver.jobs": full["jobs"],
        "page_work.wall_s": layer["page_work"]["wall_s"],
        "page_work.rows": counted["pw_rows"],
        "page_work.shuffle_write_mb": layer["page_work"]["shuffle_write"] / MB,
        "stage1.wall_s": layer["stage1"]["wall_s"],
        "stage1.cpu_s": layer["stage1"]["tree_cpu_s"],
        "stage1.task_max_over_median": _task_skew(spark, stage1["last_stage"]),
        "stage2.wall_s": layer["stage2"]["wall_s"],
        "stage2.shuffle_read_mb": layer["stage2"]["shuffle_read"] / MB,
        "stage2.spill_mb": layer["stage2"]["spill"] / MB,
        "output.wall_s": out["wall_s"],
        "output.mb_written": out["output"] / MB,
        "resume.read_s": layer.get("resume_read", zero)["wall_s"],
        "resume.docs_skipped": counted["skipped"],
        "jvm.gc_s": full["jvm_gc_s"],
    }
    ledger = {name: v["wall_s"] for name, v in layer.items()}
    full_walls = [cuts[-1][1]["wall_s"] for cuts in reps]
    return {"metrics": m, "layers": ledger,
            "full_wall_s": statistics.median(full_walls)}


# ---------------------------------------------------------------------------
# Python side
# ---------------------------------------------------------------------------

def _median_span(tracer: Tracer, name: str, fn):
    """Run ``fn`` MICRO_REPS times, each in its own span; return
    (median seconds, last result)."""
    walls, res = [], None
    for _ in range(MICRO_REPS):
        with tracer.span(name) as rec:
            res = fn()
        walls.append(rec["end"] - rec["start"])
    return statistics.median(walls), res


def python_layers(spark, wl: harness.Workload, tracer: Tracer) -> dict:
    from pyspark.sql import functions as F
    from extractpdf4j_spark.config import MODE_LATTICE, MODE_OCRSTREAM, MODE_STREAM
    from extractpdf4j_spark.docmodel import (decode_glyph_blob, decode_media_payload,
                                             serialize_tables)
    from extractpdf4j_spark.kernels.lattice import lattice_extract_page
    from extractpdf4j_spark.kernels.ocrstream import ocrstream_extract_page
    from extractpdf4j_spark.kernels.stream import stream_extract_page
    from extractpdf4j_spark.ocr import default_backend
    from extractpdf4j_spark.pipeline import (PAGE_MARKER, _make_assemble_partition,
                                             _make_extract_pages, build_page_work)
    from extractpdf4j_spark.scoring import score_cells_vectorized
    from extractpdf4j_spark.table import Table

    cfg = wl.cfg
    ids = wl.sample_ids()[:MICRO_DOCS]
    spark.sparkContext.setJobDescription("perfbench: sample page work")
    pw = (build_page_work(wl.docs.filter(F.col("doc_id").isin(ids)), wl.media, cfg)
          .toPandas().sort_values(["doc_id", "page"], kind="stable")
          .reset_index(drop=True))
    spark.sparkContext.setJobDescription(None)
    batches = [pw.iloc[i:i + 64].reset_index(drop=True) for i in range(0, len(pw), 64)]

    stage1 = _make_extract_pages(cfg)
    s1_s, out1 = _median_span(tracer, "pipeline._make_extract_pages[batch fn]",
                              lambda: pd.concat(list(stage1(iter(batches))),
                                                ignore_index=True))

    # the same rows, one public call at a time
    pages = [t for t in pw.itertuples(index=False)
             if t.page == t.page and int(t.page) >= 0]
    blobs = [(int(t.page), t.glyph_blob) for t in pages
             if isinstance(t.glyph_blob, str) and t.glyph_blob]
    payload_bytes = [t.payload for t in pages if t.payload is not None]
    glyph_s, glyphs = _median_span(tracer, "docmodel.decode_glyph_blob",
                                   lambda: [decode_glyph_blob(p, b) for p, b in blobs])
    media_s, payloads = _median_span(tracer, "docmodel.decode_media_payload",
                                     lambda: [decode_media_payload(b) for b in payload_bytes])
    by_page_glyphs = iter(glyphs)
    by_page_payload = iter(payloads)
    inputs = [(next(by_page_glyphs) if isinstance(t.glyph_blob, str) and t.glyph_blob else None,
               next(by_page_payload) if t.payload is not None else None) for t in pages]
    backend = default_backend(cfg.tess_lang, cfg.tess_oem, cfg.ocr_backend)
    kernels = {
        MODE_STREAM: lambda g, p: (stream_extract_page(g.x, g.y, g.w, g.tokens, cfg.strip_text,
                                                       cfg.columns, cfg.table_areas)
                                   if g is not None else Table([], [], []), 0),
        MODE_LATTICE: lambda g, p: lattice_extract_page(p, g, backend, cfg.min_cell_w,
                                                        cfg.min_cell_h),
        MODE_OCRSTREAM: lambda g, p: ocrstream_extract_page(p, backend, cfg.required_headers,
                                                            psm=cfg.tess_psm),
    }
    m: dict[str, float] = {}
    kernel_s, tables = 0.0, []
    n = max(1, len(pages))
    for strat, k in kernels.items():
        s, res = _median_span(tracer, f"kernels.{strat}", lambda: [k(g, p) for g, p in inputs])
        kernel_s += s
        found = [t for t, _ in res if t.nrows > 0]
        tables += found
        m[f"kernels.{strat}.ms_per_page"] = 1e3 * s / n
        m[f"kernels.{strat}.table_frac"] = len(found) / n
        if strat == MODE_LATTICE:
            m["kernels.lattice.ocr_fallbacks"] = sum(o for _, o in res)
    score_s, _ = _median_span(tracer, "scoring.score_cells_vectorized",
                              lambda: [score_cells_vectorized(t.cells) for t in tables])

    stage2 = _make_assemble_partition(cfg)
    sorted1 = out1.sort_values("doc_id", kind="stable").reset_index(drop=True)
    b2 = [sorted1.iloc[i:i + 64].reset_index(drop=True) for i in range(0, len(sorted1), 64)]
    s2_s, out2 = _median_span(tracer, "pipeline._make_assemble_partition[batch fn]",
                              lambda: pd.concat(list(stage2(iter(b2))), ignore_index=True))
    won = []
    for r in out2[out2["status"] == "ok"].itertuples(index=False):
        rows = sorted1[(sorted1["doc_id"] == r.doc_id) & (sorted1["strategy"] == r.strategy)]
        won.append([(int(x.page), r.strategy,
                     Table(json.loads(x.cells_json), list(x.col_bounds), list(x.row_bounds)))
                    for x in rows.sort_values("page").itertuples(index=False)])
    ser_s, _ = _median_span(tracer, "docmodel.serialize_tables",
                            lambda: [serialize_tables(w) for w in won])

    produced = int((out1["strategy"] != PAGE_MARKER).sum())
    rows_n = max(1, len(pw))
    m.update({
        "docmodel.decode_glyph_blob.ms_per_call": 1e3 * glyph_s / max(1, len(blobs)),
        "docmodel.decode_media_payload.ms_per_call": 1e3 * media_s / max(1, len(payload_bytes)),
        "scoring.score_cells_vectorized.ms_per_table": 1e3 * score_s / max(1, len(tables)),
        "stage1_fn.ms_per_page": 1e3 * s1_s / rows_n,
        "stage1_fn.overhead_ms_per_page":
            1e3 * (s1_s - glyph_s - media_s - kernel_s - score_s) / rows_n,
        "stage2_fn.ms_per_doc": 1e3 * s2_s / max(1, len(out2)),
        "docmodel.serialize_tables.ms_per_doc": 1e3 * ser_s / max(1, len(won)),
        "hybrid.winner_frac": float(out2["tables_found"].sum()) / max(1, produced),
    })
    tracer.counters.update({"micro.docs": len(ids), "micro.page_rows": len(pw),
                            "micro.pages": len(pages), "micro.tables": produced})
    return m


# ---------------------------------------------------------------------------
# The traced run
# ---------------------------------------------------------------------------

def traced_run(spark, wl: harness.Workload, untraced_wall_s: float,
               path: str) -> dict:
    tracer = Tracer(f"{wl.name}-seed{wl.seed}")
    with tracer.span("traced_run"):
        spark_side = spark_layers(spark, wl, tracer)
        with tracer.span("python_side"):
            py = python_layers(spark, wl, tracer)
    layer_sum = sum(spark_side["layers"].values())
    m = {**spark_side["metrics"], **py,
         "trace.overhead_s": spark_side["full_wall_s"] - untraced_wall_s,
         "ledger.sum_over_wall": layer_sum / untraced_wall_s}
    tracer.counters.update(m)
    tracer.write(path, {"ledger": {"layers_s": spark_side["layers"],
                                   "sum_s": layer_sum,
                                   "untraced_wall_s": untraced_wall_s,
                                   "traced_full_wall_s": spark_side["full_wall_s"],
                                   "within_10pct": abs(layer_sum / untraced_wall_s - 1) <= 0.10}})
    return m
