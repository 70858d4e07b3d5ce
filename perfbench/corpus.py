"""Seeded benchmark inputs: document pools cached on disk, per-seed draws.

Raster pages are what make inputs expensive: encoding one payload costs
about 10 ms and the reference oracle about 0.25 s a page, far more than one
run can spend per seed. So each corpus family is generated once per
checkout as a *pool*, from a fixed pool seed, together with the oracle's
expected output for a fixed sample of pool documents. A run's ``--seed``
then draws its workload from the pool (which documents run; which half of
the resume corpus is already checkpointed) and plants its own malformed
documents. The same seed always gives the same inputs.

The pool cache key hashes every source file a pool depends on (the
package, the oracle and this file) plus the scale, so changing any of them
regenerates the pool instead of reusing stale bytes.

Two pool families:

* ``sf``: flat documents drawn from the measured shape of the sf0.1
  ``documents`` table (see ``SF_VOCAB``) turned into span documents by
  ``fixtures.build_from_corpus_pdf``: one page each, 60% digital text,
  20% ruled with raster, 20% scanned with OCR words.
* ``rs``: multi-page documents assembled with ``FixtureBuilder``, with
  heavy-tailed page counts (mostly 1-3 pages, about 1% at 40-50) and the
  same text/ruled/scanned page mix. The whole pool is extracted once
  (run id ``preseed``); a seed's checkpoint is that output restricted to
  the seed's pre-seeded half.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import random
import shutil
import sys
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
POOL_SEED = 20_260_401
PRESEED_RUN_ID = "preseed"

# The shape of the sf0.1 documents table (5,000 rows), measured on its
# ``text`` column: 4,750 documents hold 10-99 words, every length about
# equally common (37-88 documents each, 53 on average); each word is one
# of these 30, every one 3.26-3.39% of all words; the other 250 documents
# (5%) are near-duplicates, another document's text followed by "dup".
SF_VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
            "filter", "group", "hash", "join", "key", "line", "merge",
            "order", "part", "query", "row", "scan", "slow", "small", "sort",
            "spark", "stream", "table", "the", "value", "vector", "window")
SF_WORDS = (10, 99)
SF_DUP_SHARE = 0.05


@dataclass(frozen=True)
class Scale:
    """Corpus sizes. ``full`` is the benchmark; ``tiny`` is the self-check."""
    name: str
    sf_pool: int                  # sf pool documents
    sf_draw: tuple[int, int, int]  # text / ruled / scanned docs per seed
    rs_pages: int                 # pages in each half of the resume corpus
    sf_oracle_mod: int            # 1 in N pool docs gets an expectation
    rs_oracle_mod: int
    min_oracle: int               # fewest oracle-checked docs a run accepts
    planted_per: int              # one planted malformed doc per N docs
    gen_partitions: int


SCALES = {
    "full": Scale("full", 6400, (3000, 1000, 1000), 5000, 20, 9, 200, 200, 32),
    "tiny": Scale("tiny", 200, (60, 20, 20), 120, 4, 3, 10, 25, 8),
}


def sampled(doc_id: str, mod: int) -> bool:
    return zlib.crc32(doc_id.encode()) % mod == 0


def load_oracle():
    """tests/oracle.py by path: ``tests`` is no package, and a ``tests``
    module elsewhere on sys.path must not shadow it."""
    mod = sys.modules.get("perfbench_oracle")
    if mod is None:
        path = os.path.join(ROOT, "tests", "oracle.py")
        spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        sys.modules["perfbench_oracle"] = mod
    return mod


def expected_output(oracle, backend, spans, payloads):
    """(spans_json, status, strategy) ``oracle_hybrid_doc`` gives one
    document."""
    from extractpdf4j_spark.docmodel import decode_text_span
    pages: dict[int, list] = {}
    for s in spans:
        if s["kind"] == "text":
            g = decode_text_span(s["text"])
            pages.setdefault(g.page, [None, None])[0] = g
        else:
            p = payloads[s["media_ref"]]
            pages.setdefault(p.page, [None, None])[1] = p
    ordered = [(pg, g, p) for pg, (g, p) in sorted(pages.items())]
    out, status, strategy = oracle.oracle_hybrid_doc(ordered, backend)
    return json.dumps(out), status, strategy


GEN_COLS = ["kind", "doc_id", "spans_json", "media_ref", "page", "payload",
            "family", "n_pages", "status", "strategy"]
GEN_DDL = ("kind string, doc_id string, spans_json string, media_ref string, "
           "page int, payload binary, family string, n_pages int, "
           "status string, strategy string")


def _page_of(span: dict) -> int:
    """Page number of a generated span (``p=<n>`` header or ``<doc>/p<n>``)."""
    if span["kind"] == "text":
        return int(span["text"].split("\n", 1)[0][2:])
    return int(span["media_ref"].rsplit("/p", 1)[1])


def _gen_frame(docs: pd.DataFrame, media: pd.DataFrame, families: dict,
               oracle_mod: int) -> pd.DataFrame:
    """One generator batch as GEN_COLS rows: documents, media payloads, and
    oracle expectations for the sampled documents."""
    from extractpdf4j_spark.docmodel import decode_media_payload
    from extractpdf4j_spark.ocr import EmbeddedWordsBackend
    oracle = load_oracle()
    backend = EmbeddedWordsBackend()
    rows = []
    for m in media.itertuples(index=False):
        rows.append(("media", m.doc_id, None, m.media_ref, int(m.page),
                     m.payload, None, None, None, None))
    payloads = None
    for t in docs.itertuples(index=False):
        spans = list(t.spans)
        n_pages = len({_page_of(s) for s in spans})
        rows.append(("doc", t.doc_id, json.dumps(spans), None, None, None,
                     families[t.doc_id], n_pages, None, None))
        if not sampled(t.doc_id, oracle_mod):
            continue
        if payloads is None:
            payloads = {r: decode_media_payload(p)
                        for r, p in zip(media["media_ref"], media["payload"])}
        sj, status, strategy = expected_output(oracle, backend, spans, payloads)
        rows.append(("expect", t.doc_id, sj, None, None, None, None, None,
                     status, strategy))
    return pd.DataFrame(rows, columns=GEN_COLS)


# ---------------------------------------------------------------------------
# sf pool: build_from_corpus_pdf over documents shaped like sf0.1's
# ---------------------------------------------------------------------------

def _sf_words(doc_id: int) -> str:
    rng = random.Random(f"sf:{POOL_SEED}:{doc_id}")
    return " ".join(rng.choice(SF_VOCAB) for _ in range(rng.randint(*SF_WORDS)))


def sf_text(doc_id: int, pool_size: int) -> str:
    rng = random.Random(f"sf-dup:{POOL_SEED}:{doc_id}")
    if rng.random() < SF_DUP_SHARE:
        return _sf_words(rng.randrange(pool_size)) + " dup"
    return _sf_words(doc_id)


def _sf_generate(scale: Scale):
    def gen(batches):
        from extractpdf4j_spark.fixtures import build_from_corpus_pdf, doc_family
        for b in batches:
            ids = [int(i) for i in b["id"]]
            flat = pd.DataFrame({"doc_id": ids,
                                 "text": [sf_text(i, scale.sf_pool) for i in ids]})
            docs, media = build_from_corpus_pdf(flat, POOL_SEED)
            families = {f"doc-{i}": doc_family(i) for i in ids}
            yield _gen_frame(docs, media, families, scale.sf_oracle_mod)
    return gen


# ---------------------------------------------------------------------------
# rs pool: heavy-tailed multi-page documents from FixtureBuilder
# ---------------------------------------------------------------------------

def rs_page_count(i: int) -> int:
    u = random.Random(f"rs:{POOL_SEED}:{i}").random()
    if u < 0.01:
        return 40 + int((u / 0.01) * 11)      # 40..50
    return 1 if u < 0.505 else (2 if u < 0.80 else 3)


def rs_pool_size(scale: Scale) -> int:
    """Fewest pool documents holding two halves of ``rs_pages`` pages."""
    n = total = 0
    while total < 2 * scale.rs_pages:
        total += rs_page_count(n)
        n += 1
    return n


def _rs_page(rng: random.Random) -> tuple[str, dict]:
    from extractpdf4j_spark import fixtures as fx
    u = rng.random()
    if u < 0.6:
        rows = fx.statement_rows(rng, rng.randint(4, 12))
        return "text", {"runs": fx.layout_text_rows(rows, fx.STMT_COL_X)}
    if u < 0.8:
        # digital ruled table: raster grid plus a text layer in its cells
        n_rows, n_cols = rng.randint(3, 8), rng.randint(3, 5)
        img = fx.blank_page()
        rows_y = [100 + r * 100 for r in range(n_rows + 1)]
        cols_x = [60 + c * 150 for c in range(n_cols + 1)]
        fx.draw_grid(img, rows_y, cols_x)
        runs = []
        for r in range(n_rows):
            cy_img = (rows_y[r] + rows_y[r + 1]) / 2.0
            y_pt = fx.PAGE_H_PT - cy_img * 72.0 / fx.DPI - fx.CHAR_H / 2.0
            for c in range(n_cols):
                tok = rng.choice(fx.VOCAB) + str(rng.randint(0, 99))
                x_pt = (cols_x[c] + 15.0) * 72.0 / fx.DPI
                runs.append((x_pt, y_pt, fx.CHAR_W * len(tok), fx.CHAR_H, tok))
        return "ruled", {"runs": runs, "image": img}
    if u < 0.9:
        # scanned statement: OCR word layer, typo'd header (ocr_words family)
        rows = fx.statement_rows(rng, rng.randint(4, 10))
        rows[0] = ["Datc", "Descriptlon", "Debit", "Credit", "Balance"]
        for r in rows[1:]:
            r[0] = r[0].replace(" ", "")
        entries = fx.layout_ocr_rows(rows, [60, 160, 400, 520, 650],
                                     right_edges={2: 450, 3: 575, 4: 760})
        return "scanned", {"image": fx.blank_page(),
                           "words": fx.words_df(entries)}
    # scanned ruled grid, OCR words on one line key (grid_scanned family)
    n_rows, n_cols = rng.randint(3, 6), rng.randint(3, 5)
    img = fx.blank_page()
    rows_y = [2 + r * (fx.IMG_H - 5) // n_rows for r in range(n_rows)] + [fx.IMG_H - 3]
    cols_x = [2 + c * (fx.IMG_W - 5) // n_cols for c in range(n_cols)] + [fx.IMG_W - 3]
    fx.draw_grid(img, rows_y, cols_x)
    entries = []
    for k, (r, c) in enumerate((r, c) for r in range(n_rows) for c in range(n_cols)):
        tok = rng.choice(fx.VOCAB) + str(rng.randint(0, 9))
        entries.append((tok, cols_x[c] + 30, rows_y[r] + 50, 9 * len(tok), 20,
                        1, 1, 1, k + 1))
    return "scanned", {"image": img, "words": fx.words_df(entries)}


def _rs_generate(scale: Scale):
    def gen(batches):
        from extractpdf4j_spark.fixtures import FixtureBuilder
        for b in batches:
            fb = FixtureBuilder(POOL_SEED)
            families = {}
            for i in (int(v) for v in b["id"]):
                doc_id = f"rs-{i}"
                rng = random.Random(f"{fb.seed}:{doc_id}")
                pages = [_rs_page(rng) for _ in range(rs_page_count(i))]
                families[doc_id] = "multi" if len(pages) > 1 else pages[0][0]
                fb.add_doc(doc_id, [p for _, p in pages])
            docs, media = fb.to_pandas()
            yield _gen_frame(docs, media, families, scale.rs_oracle_mod)
    return gen


# ---------------------------------------------------------------------------
# Pool cache
# ---------------------------------------------------------------------------

def _source_key(scale: Scale, family: str) -> str:
    h = hashlib.sha256(f"{family}:{POOL_SEED}:{scale}".encode())
    files = [os.path.join(ROOT, "tests", "oracle.py"), os.path.abspath(__file__)]
    pkg = os.path.join(ROOT, "extractpdf4j_spark")
    for d, _, names in os.walk(pkg):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(fh.read())
    return h.hexdigest()[:16]


def cache_root() -> str:
    return os.path.join(ROOT, ".perfbench")


def ensure_pool(spark, scale: Scale, family: str) -> str:
    """Path of the generated pool, building it first if absent. The pool is
    written under a temporary name and renamed into place when complete."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType
    from extractpdf4j_spark.config import ExtractConfig
    from extractpdf4j_spark.pipeline import SPAN_STRUCT, run_extraction

    path = os.path.join(cache_root(), "pools",
                        f"{family}-{scale.name}-{_source_key(scale, family)}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    n = scale.sf_pool if family == "sf" else rs_pool_size(scale)
    gen_fn = _sf_generate(scale) if family == "sf" else _rs_generate(scale)
    sc = spark.sparkContext
    sc.setJobDescription(f"perfbench: generate {family} pool")
    try:
        (spark.range(0, n, 1, scale.gen_partitions)
         .mapInPandas(gen_fn, schema=GEN_DDL)
         .write.parquet(os.path.join(tmp, "gen")))
        gen = spark.read.parquet(os.path.join(tmp, "gen"))
        docs = gen.filter(F.col("kind") == "doc")
        (docs.select("doc_id", F.from_json("spans_json", ArrayType(SPAN_STRUCT))
                     .alias("spans"))
         .coalesce(8).write.parquet(os.path.join(tmp, "docs")))
        (gen.filter(F.col("kind") == "media")
         .select("media_ref", "doc_id", "page", "payload")
         .coalesce(8).write.parquet(os.path.join(tmp, "media")))
        meta = docs.select("doc_id", "family", "n_pages").toPandas()
        meta.sort_values("doc_id", kind="stable").to_parquet(
            os.path.join(tmp, "meta.parquet"), index=False)
        (gen.filter(F.col("kind") == "expect")
         .select("doc_id", "status", "strategy", "spans_json")
         .toPandas().to_parquet(os.path.join(tmp, "expect.parquet"),
                                index=False))
        shutil.rmtree(os.path.join(tmp, "gen"))
        if family == "rs":
            run_extraction(spark, spark.read.parquet(os.path.join(tmp, "docs")),
                           spark.read.parquet(os.path.join(tmp, "media")),
                           ExtractConfig(), os.path.join(tmp, "preseed"),
                           PRESEED_RUN_ID, resume=False, num_partitions=8)
    finally:
        sc.setJobDescription(None)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def ensure_pools(spark, scale: Scale) -> dict[str, str]:
    """Every pool of the scale, by family. The first run in a checkout
    builds them all, so no later run pays for a pool."""
    return {family: ensure_pool(spark, scale, family) for family in ("sf", "rs")}


# ---------------------------------------------------------------------------
# Per-seed draws
# ---------------------------------------------------------------------------

@dataclass
class Draw:
    """What one seed runs: the pool, the documents that run (``run_ids``),
    planted malformed documents, and (resume) the pre-seeded documents."""
    pool: str
    run_ids: list[str]
    planted: pd.DataFrame          # DOCUMENTS_SCHEMA rows, each an error
    pages: int                     # pages in run_ids + planted
    preseeded: list[str]
    expect: pd.DataFrame           # oracle expectations within run_ids


def _planted_docs(seed: int, n: int) -> pd.DataFrame:
    """Malformed documents: even ones have a bad ``p=`` header, odd ones a
    media span whose ref resolves to nothing."""
    from extractpdf4j_spark import fixtures as fx
    from extractpdf4j_spark.docmodel import encode_text_span
    rows = []
    for k in range(n):
        doc_id = f"planted-{seed}-{k:04d}"
        if k % 2 == 0:
            rng = random.Random(f"planted:{seed}:{k}")
            runs = fx.layout_text_rows(fx.statement_rows(rng, 5), fx.STMT_COL_X)
            text = "x" + encode_text_span(1, runs)[1:]
            span = {"kind": "text", "text": text, "media_ref": "", "offset": 0}
        else:
            span = {"kind": "media", "text": "",
                    "media_ref": f"missing/{doc_id}/p1", "offset": 0}
        rows.append({"doc_id": doc_id, "spans": [span]})
    return pd.DataFrame(rows, columns=["doc_id", "spans"])


def _expectations(pool: str, ids: list[str]) -> pd.DataFrame:
    exp = pd.read_parquet(os.path.join(pool, "expect.parquet"))
    return exp[exp["doc_id"].isin(set(ids))].reset_index(drop=True)


def draw_sf(pool: str, scale: Scale, seed: int) -> Draw:
    """A seeded stratified draw keeping the exact 60/20/20 family mix."""
    meta = pd.read_parquet(os.path.join(pool, "meta.parquet"))
    rng = np.random.default_rng(seed)
    ids: list[str] = []
    for fam, k in zip(("text", "ruled", "scanned"), scale.sf_draw):
        pool_ids = meta.loc[meta["family"] == fam, "doc_id"].to_numpy()
        ids += sorted(rng.choice(pool_ids, size=k, replace=False).tolist())
    n_planted = max(1, len(ids) // scale.planted_per)
    planted = _planted_docs(seed, n_planted)
    return Draw(pool, ids, planted, len(ids) + n_planted, [],
                _expectations(pool, ids))


def draw_rs(pool: str, scale: Scale, seed: int) -> Draw:
    """A seeded split of the pool into two halves, stratified so each half
    holds half the 40-50 page documents: the run half's page count, and so
    the work and the planted share, hardly vary between seeds."""
    meta = pd.read_parquet(os.path.join(pool, "meta.parquet"))
    rng = np.random.default_rng(seed)
    run_ids, pre_ids = [], []
    for big in (True, False):
        ids = meta.loc[(meta["n_pages"] >= 40) == big, "doc_id"].to_numpy()
        ids = rng.permutation(ids)
        run_ids += ids[:len(ids) // 2].tolist()
        pre_ids += ids[len(ids) // 2:].tolist()
    run_ids.sort()
    pages = int(meta.loc[meta["doc_id"].isin(set(run_ids)), "n_pages"].sum())
    n_planted = max(1, len(run_ids) // scale.planted_per)
    return Draw(pool, run_ids, _planted_docs(seed, n_planted),
                pages + n_planted, sorted(pre_ids), _expectations(pool, run_ids))


def seed_checkpoint(spark, draw: Draw, seed: int) -> str:
    """Parquet checkpoint holding the pool's ``preseed`` rows for this
    seed's pre-seeded documents (cached per seed; callers copy it)."""
    path = os.path.join(draw.pool, "seeds", str(seed))
    target = os.path.join(path, "combined")
    if os.path.exists(os.path.join(path, "_DONE")):
        return target
    keep = spark.createDataFrame(pd.DataFrame({"doc_id": draw.preseeded}))
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (spark.read.parquet(os.path.join(draw.pool, "preseed", "combined"))
     .join(keep, "doc_id", "left_semi")
     .coalesce(8).write.parquet(os.path.join(tmp, "combined")))
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return target
