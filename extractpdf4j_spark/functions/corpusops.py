"""Corpus-curation operators for large-scale training-data pipelines.

The reference engine stops at extraction (tables out of documents);
these are the operations a 100 TB pre-training corpus build runs on the
extracted text afterwards: cross-document boilerplate removal,
deterministic hash sampling, per-group quota sampling, token-budget
shard packing, PII scrubbing, and corpus-LM quality scoring.

Scale design shared by all ops:
* pure JVM expressions (no Python UDFs, no driver-side collects);
* every shuffle is keyed on a fixed-width 60-bit hash or a small group
  key (never raw document text);
* frequency tables that are small by construction (boilerplate lines,
  vocabularies after pruning) are broadcast;
* global orderings are avoided — packing and quotas are windowed per
  bucket/group so no single-partition window appears at any scale.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import _hash60

__all__ = [
    "doc_lines", "boilerplate_lines", "strip_boilerplate",
    "hash_sample", "quota_sample", "pack_shards",
    "pii_scrub", "unigram_logprob", "chunk_documents",
    "repetition_metrics", "curate_corpus",
    "decontaminate", "remove_contaminated", "temperature_sample",
    "dedup_paragraphs", "pack_sequences", "pack_multimodal",
    "mix_corpora",
    "logprob_buckets", "bigram_logprob", "clean_text", "corpus_report",
    "split_corpus", "leakage_safe_split",
    "EMAIL_RE", "IPV4_RE", "LONGNUM_RE",
    "CTRL_RE", "USPACE_RE",
]


# ---------------------------------------------------------------------------
# Boilerplate removal (C4/CCNet-style repeated-line filtering)
# ---------------------------------------------------------------------------

def doc_lines(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Explode documents into ``(id, pos, line)`` rows on newlines.

    ``pos`` preserves reassembly order; the split is a codegen
    projection, so the only cost is the explode fan-out."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))


def boilerplate_lines(df: DataFrame, min_docs: int = 3,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Lines that occur in >= ``min_docs`` distinct documents.

    Returns ``(line_hash, line, n_docs)``. The aggregation shuffles on
    the 60-bit line hash (fixed-width key, map-side combine); the
    distinct-doc count is exact. At 100 TB the output is tiny relative
    to the corpus (that is what makes a line boilerplate), so callers
    can broadcast it."""
    lines = doc_lines(df, text_col, id_col)
    return (lines
            .select(_hash60(F.col("line")).alias("line_hash"),
                    "line", F.col(id_col))
            .groupBy("line_hash")
            .agg(F.countDistinct(id_col).alias("n_docs"),
                 F.min("line").alias("line"))
            .filter(F.col("n_docs") >= min_docs))


def strip_boilerplate(df: DataFrame, min_docs: int = 3,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Remove boilerplate lines and reassemble each document.

    Returns ``(id, text, n_lines_kept, n_lines_dropped)``; documents
    whose every line is boilerplate survive with empty text (the filter
    decision belongs to the caller, not this op).

    Plan: one line-hash aggregation to find the boilerplate set
    (broadcast), then a single rebuild pass — broadcast left join marks
    boilerplate lines and one shuffle on ``id`` reassembles kept lines
    in ``pos`` order while counting kept/dropped in the same aggregate
    (``collect_list`` skips the nulled-out boilerplate entries). Two
    passes over the exploded lines total; every document appears in the
    one groupBy, so no join back to the base table is needed.
    Reassembly memory is bounded by the largest single document, not
    the partition."""
    lines = doc_lines(df, text_col, id_col).withColumn(
        "line_hash", _hash60(F.col("line")))
    bp = (boilerplate_lines(df, min_docs, text_col, id_col)
          .select("line_hash", F.lit(True).alias("_is_bp")))
    marked = lines.join(F.broadcast(bp), "line_hash", "left")
    keep = F.col("_is_bp").isNull()
    return (marked.groupBy(id_col)
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(keep, F.struct("pos", "line")))),
                         lambda s: s["line"]),
                     "\n").alias(text_col),
                 F.count(F.when(keep, F.lit(1))).alias("n_lines_kept"),
                 (F.count("*") - F.count(F.when(keep, F.lit(1))))
                 .alias("n_lines_dropped")))


# ---------------------------------------------------------------------------
# Deterministic sampling
# ---------------------------------------------------------------------------

def hash_sample(df: DataFrame, keep_per_million: int,
                key_col: str = "doc_id", salt: str = "") -> DataFrame:
    """Deterministic Bernoulli-style sample: keep rows whose 60-bit key
    hash lands below ``keep_per_million``/1e6.

    Unlike ``df.sample`` this is stable across runs, partitionings and
    engines (the fraction is a pure function of the key), which is what
    a reproducible training-data pipeline needs. Pure map — no shuffle;
    the predicate is codegen and combines with scan-level pushdown of
    any other filters."""
    h = _hash60(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    return df.filter(h % 1_000_000 < keep_per_million)


def quota_sample(df: DataFrame, group_col: str, cap: int,
                 key_col: str = "doc_id") -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen deterministically by
    key hash (stratified down-sampling, e.g. per-language caps).

    One window shuffle on ``group_col``; the hash order makes the kept
    set a uniform pseudo-random subset of each group, independent of
    input order. Output adds ``sample_rank`` (1-based, long). At 100 TB
    a skewed group is bounded on output by ``cap`` but still sorts its
    full partition — for pathological single-group skew, pre-filter with
    :func:`hash_sample` at a rate that overshoots ``cap`` first."""
    h = _hash60(F.col(key_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (df.withColumn("sample_rank",
                          F.row_number().over(w).cast("long"))
            .filter(F.col("sample_rank") <= cap))


def pack_shards(df: DataFrame, token_col: str, budget: int,
                n_buckets: int = 4, key_col: str = "doc_id") -> DataFrame:
    """Greedy token-budget shard packing: assign each document to an
    output shard so shards hold ~``budget`` tokens.

    Documents are hash-bucketed (``n_buckets`` independent streams) and
    packed within each bucket by running token count — shard boundary =
    prefix-sum DIV budget. Windows are per-bucket, so parallelism is
    ``n_buckets`` regardless of corpus size: at 100 TB pick buckets ~=
    cluster cores and shard ids stay deterministic. Output adds
    ``bucket``, ``shard`` (both long); a shard never splits a document.
    """
    h = _hash60(F.col(key_col).cast("string"))
    w = (Window.partitionBy("bucket")
         .orderBy(F.col("_h").asc(), F.col(key_col).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    with_b = df.withColumn("_h", h).withColumn("bucket", h % n_buckets)
    cum_before = (F.sum(F.col(token_col)).over(w)
                  - F.col(token_col))
    # exact 64-bit integer division (SQL `div`), mirroring the oracle's
    # DuckDB `//`: floating floor(cum/budget) would diverge between the
    # engines once per-bucket prefix sums pass 2^53 tokens
    return (with_b
            .withColumn("_cum", cum_before.cast("long"))
            .withColumn("shard",
                        F.expr(f"_cum div {int(budget)}").cast("long"))
            .drop("_h", "_cum"))


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# RE2-safe patterns (run identically under Java regex and DuckDB/RE2):
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
LONGNUM_RE = r"\b\d{7,}\b"


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace emails, IPv4 addresses and long digit runs (phone/card
    numbers) with typed placeholder tokens; count each class.

    Counts are taken on the original text; replacement applies
    email -> ip -> longnum so earlier placeholders are never re-matched.
    Pure codegen projection — no shuffle, safe at any scale."""
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(EMAIL_RE))
    n_ips = F.regexp_count(t, F.lit(IPV4_RE))
    n_longnums = F.regexp_count(t, F.lit(LONGNUM_RE))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"),
            IPV4_RE, "<IP>"),
        LONGNUM_RE, "<NUM>")
    return (df.withColumn("n_emails", n_emails)
            .withColumn("n_ips", n_ips)
            .withColumn("n_longnums", n_longnums)
            .withColumn(text_col, scrubbed))


# ---------------------------------------------------------------------------
# Context-window chunking
# ---------------------------------------------------------------------------

def chunk_documents(df: DataFrame, chunk_tokens: int = 128,
                    overlap: int = 32, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split documents into overlapping token-window chunks (the
    pre-tokenization step of every training/RAG pipeline).

    Chunk ``k`` covers tokens ``[k*stride, k*stride + chunk_tokens)``
    with ``stride = chunk_tokens - overlap``; the last chunk may be
    short, and a document shorter than one chunk yields exactly one.
    Output: ``(id, chunk_id, n_chunk_tokens, chunk)``.

    Pure projection + explode: the token array is built once per row,
    chunk starts come from ``sequence()`` and each chunk is a
    ``slice``+``array_join`` — no shuffle, no UDF; output rows are
    ~``1/(1-overlap/chunk)``x the input bytes, which is the unavoidable
    cost of overlap."""
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not 0 <= overlap < chunk_tokens:
        # a negative overlap would silently SKIP tokens between chunks
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.regexp_replace(
        F.lower(F.col(text_col)), r"\s+", " ")), " ")
    n = F.size(toks)
    # number of chunks: 1 + ceil(max(n - chunk, 0) / stride)
    extra = F.greatest(n - chunk_tokens, F.lit(0))
    n_chunks = (F.lit(1)
                + F.ceil(extra / F.lit(stride)).cast("int"))
    staged = df.select(F.col(id_col), toks.alias("_toks"),
                       n_chunks.alias("_nc"))
    k = F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_id")
    staged = staged.select(id_col, "_toks", k)
    piece = F.slice("_toks", F.col("chunk_id") * stride + 1, chunk_tokens)
    return staged.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk"))


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style repetition filters)
# ---------------------------------------------------------------------------

def repetition_metrics(df: DataFrame, n: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Within-document repetition signals used by Gopher/FineWeb-class
    quality filters: the duplicate n-gram fraction (1 - distinct/total)
    and the most-frequent-token mass fraction.

    Returns ``(id, n_grams, distinct_grams, dup_gram_frac,
    top_token_frac)`` with fractions rounded to 6dp.

    N-gram rows reuse the dedup family's shuffle-free shifted-slice
    construction (``dedup._gram_rows`` — codegen arrays_zip, same
    boundary semantics as the DUCK_SHINGLES oracle CTE: sub-n-token
    docs yield one partial gram). One aggregation per signal, both
    keyed on ``id`` — partial aggregation absorbs the fan-out map-side.
    """
    from .dedup import _gram_rows, _tokens
    gram_rows = _gram_rows(df, text_col, id_col, n)
    gram_stats = (gram_rows.groupBy(id_col)
                  .agg(F.count("*").alias("n_grams"),
                       F.countDistinct("sh").alias("distinct_grams")))
    staged = df.select(F.col(id_col),
                       _tokens(F.col(text_col)).alias("_toks"))
    tok_rows = staged.select(id_col, F.explode("_toks").alias("tok"))
    tok_counts = (tok_rows.groupBy(id_col, "tok")
                  .agg(F.count("*").alias("c")))
    tok_stats = (tok_counts.groupBy(id_col)
                 .agg(F.max("c").alias("_top"),
                      F.sum("c").alias("_total")))
    return (gram_stats.join(tok_stats, id_col)
            .select(
                F.col(id_col),
                "n_grams", "distinct_grams",
                F.round(F.when(F.col("n_grams") > 0,
                               1.0 - F.col("distinct_grams")
                               / F.col("n_grams")).otherwise(0.0), 6)
                .alias("dup_gram_frac"),
                F.round(F.col("_top") / F.col("_total"), 6)
                .alias("top_token_frac")))


# ---------------------------------------------------------------------------
# Corpus-LM quality scoring
# ---------------------------------------------------------------------------

def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM (the classic cheap perplexity proxy for quality filtering:
    documents of rare/garbage tokens score low, fluent in-domain text
    scores high).

    Returns ``(id, n_tokens, avg_logprob)``; ``avg_logprob`` is the mean
    natural-log probability rounded to 6dp.

    Plan: one token-count aggregation (shuffle on token, map-side
    combine), corpus total carried by a broadcast single-row join, one
    shuffle join token->frequency, one final aggregation on ``id``. The
    vocabulary table is Zipf-small relative to the corpus; at 100 TB
    prune it to the top-K tokens and broadcast, with an OOV floor."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.trim(F.regexp_replace(
                F.lower(F.col(text_col)), r"\s+", " ")), " ")
        ).alias("tok"))
    # seam (lazy localCheckpoint — reference-tracked, leak-free unlike
    # .cache()): freq feeds the total and the scoring join —
    # unpersisted, the tokenize+aggregate lineage executes twice
    freq = toks.groupBy("tok").agg(
        F.count("*").alias("tok_count")).localCheckpoint(eager=False)
    total = freq.agg(F.sum("tok_count").alias("corpus_total"))
    scored = (toks.join(freq, "tok")
              .crossJoin(F.broadcast(total))
              .select(F.col(id_col),
                      F.log(F.col("tok_count")
                            / F.col("corpus_total")).alias("lp")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.round(F.avg("lp"), 6).alias("avg_logprob")))


# ---------------------------------------------------------------------------
# Trained quality classifier (hashed Naive Bayes)
# ---------------------------------------------------------------------------
# The GPT-3/CCNet-style quality filter: train a linear classifier on
# "known-good corpus vs raw crawl" labels, score every crawl document,
# keep the high scorers. Training here is hashed multinomial Naive Bayes
# — per-feature log-odds are a closed-form aggregation (no iterative
# optimizer), which is what makes training itself a one-pass distributed
# job at 100 TB. Inference is the fastText serving shape: hashing-trick
# features, broadcast weight table, evidence sum, sigmoid.
#
# Cross-engine determinism: weights and bias are micro-scaled integers
# (round(logodds * 1e6) as long), per-doc evidence sums are exact long
# sums, and the keep decision is the INTEGER sign test
# s_micro + bias_micro >= 0 — equivalent to score >= 0.5 with no float
# knife-edge. Only the reported sigmoid itself touches exp/ln.

def _hashed_tokens(df: DataFrame, text_col: str, id_col: str,
                   buckets: int):
    """(id, feature) rows: lowercase whitespace tokens through the
    hashing trick (repo-wide 60-bit md5 mod buckets)."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.regexp_replace(
            F.lower(F.col(text_col)), r"\s+", " ")), " ")).alias("tok"))
    return (toks.filter(F.col("tok") != "")
            .select(F.col(id_col),
                    F.pmod(_hash60(F.col("tok")), F.lit(buckets))
                    .alias("feature")))


def nb_train_quality_classifier(df: DataFrame, label_col: str,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                buckets: int = 1 << 20):
    """Train hashed-NB feature weights from a labeled corpus
    (``label_col`` boolean: True = good). Returns ``(weights, bias)``:
    ``weights`` is (feature long, w_micro long) — per-feature Laplace-
    smoothed log-odds ln((pos+1)/(tot_pos+B)) - ln((neg+1)/(tot_neg+B))
    micro-scaled — and ``bias`` is a single-row (bias_micro long) from
    the class prior. One token aggregation + one broadcast totals join;
    the weight table is at most ``buckets`` rows."""
    feats = (_hashed_tokens(df, text_col, id_col, buckets)
             .join(df.select(id_col, F.col(label_col).alias("_lbl")),
                   id_col))
    # counts is seam-persisted (<= buckets rows; lazy localCheckpoint,
    # reference-tracked) and totals folds out of it — summing
    # per-feature counts equals the corpus totals exactly, so the
    # token explosion runs once, not twice
    counts = feats.groupBy("feature").agg(
        F.sum(F.when(F.col("_lbl"), 1).otherwise(0)).cast("long")
         .alias("pos_cnt"),
        F.sum(F.when(F.col("_lbl"), 0).otherwise(1)).cast("long")
         .alias("neg_cnt")).localCheckpoint(eager=False)
    totals = counts.agg(
        F.sum("pos_cnt").cast("long").alias("tot_pos"),
        F.sum("neg_cnt").cast("long").alias("tot_neg"))
    b = float(buckets)
    weights = (counts.crossJoin(F.broadcast(totals))
               .select("feature",
                       F.round((F.log((F.col("pos_cnt") + 1)
                                      / (F.col("tot_pos") + b))
                                - F.log((F.col("neg_cnt") + 1)
                                        / (F.col("tot_neg") + b)))
                               * 1e6).cast("long").alias("w_micro")))
    bias = df.agg(F.round(F.log(
        F.sum(F.when(F.col(label_col), 1).otherwise(0)).cast("double")
        / F.sum(F.when(F.col(label_col), 0).otherwise(1)).cast("double"))
        * 1e6).cast("long").alias("bias_micro"))
    return weights, bias


def classifier_score(df: DataFrame, weights: DataFrame, bias: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     buckets: int = 1 << 20) -> DataFrame:
    """Score every document with a trained weight table: (id, n_tokens,
    score double, keep long). The multinomial-NB posterior: evidence =
    sum of matched token log-odds + class-prior bias (all micro-scaled
    longs, so the sum is exact and order-free); score =
    sigmoid(evidence / 1e6); keep = 1 iff evidence >= 0 — the exact
    integer equivalent of score >= 0.5, no float knife-edge. A
    zero-token document falls back to the prior alone. The weight and
    bias tables broadcast; the only doc-keyed work is one token
    aggregation — the fastText serving plan at corpus scale."""
    toks = _hashed_tokens(df, text_col, id_col, buckets)
    n = toks.groupBy(id_col).agg(F.count("*").cast("long")
                                 .alias("n_tokens"))
    s = (toks.join(F.broadcast(weights), "feature")
         .groupBy(id_col).agg(F.sum("w_micro").alias("s_micro")))
    out = (df.select(id_col).join(n, id_col, "left").join(s, id_col, "left")
           .crossJoin(F.broadcast(bias))
           .withColumn("n_tokens", F.coalesce("n_tokens", F.lit(0)))
           .withColumn("s_micro", F.coalesce("s_micro",
                                             F.lit(0).cast("long"))))
    evidence = F.col("s_micro") + F.col("bias_micro")
    return out.select(
        F.col(id_col), F.col("n_tokens"),
        (F.lit(1.0) / (F.lit(1.0)
                       + F.exp(-(evidence.cast("double") / 1e6))))
        .alias("score"),
        (evidence >= 0).cast("long").alias("keep"))


# ---------------------------------------------------------------------------
# Snapshot diff (incremental corpus versioning)
# ---------------------------------------------------------------------------

def snapshot_diff(old: DataFrame, new: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Content-level diff between two corpus snapshots: (id, status)
    with status in added / removed / changed / unchanged. The recrawl
    bookkeeping step of an incremental pipeline — downstream stages
    reprocess only ``added``/``changed`` ids and retire ``removed``
    ones, instead of rereading 100 TB.

    Content identity is :func:`dedup.normalized_text_hash` — THE
    repo-wide exact-dedup normalization, so "changed" means changed
    after the same lowercase/whitespace collapse every dedup path uses
    (a reformatted crawl of identical content is ``unchanged``).

    Plan: each side collapses to (id, 16-byte hash) at the scan, then
    ONE full-outer hash join on id. At scale, store snapshots bucketed
    by id so the join is exchange-free; the diff output is id+status
    only — no text ever shuffles."""
    from .dedup import normalized_text_hash
    o = old.select(F.col(id_col),
                   normalized_text_hash(F.col(text_col)).alias("_oh"))
    n = new.select(F.col(id_col),
                   normalized_text_hash(F.col(text_col)).alias("_nh"))
    status = (F.when(F.col("_oh").isNull(), F.lit("added"))
              .when(F.col("_nh").isNull(), F.lit("removed"))
              .when(F.col("_oh") != F.col("_nh"), F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return (o.join(n, id_col, "full_outer")
            .select(F.col(id_col), status.alias("status")))


# ---------------------------------------------------------------------------
# Corpus-wide paragraph dedup (keep first occurrence)
# ---------------------------------------------------------------------------

def dedup_paragraphs(df: DataFrame, min_chars: int = 5,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Remove repeated paragraphs across the corpus, keeping the single
    first occurrence (FineWeb/C4-style paragraph-level dedup; units are
    newline-delimited lines, same as :func:`doc_lines`).

    "First" is global and deterministic: minimum ``(id, pos)`` over all
    occurrences of the paragraph. Returns ``(id, text, n_kept,
    n_dropped)``; documents whose every paragraph was seen earlier
    survive with empty text (the drop decision belongs to the caller).

    Unlike :func:`strip_boilerplate` (which removes every copy of
    frequent lines given a frequency threshold), this keeps exactly one
    copy of everything — the right op when any repetition is
    contamination but the content itself should survive once.

    Skew design: paragraphs shorter than ``min_chars`` are exempt from
    dedup (always kept). That is both the C4 semantics — one-word lines
    and blanks aren't "paragraphs" — and the scale guard: the only
    corpus-wide exchange keyed on the paragraph hash carries ONLY
    eligible lines, so the pathological hot keys (empty line, single
    punctuation) never reach the rank window; real paragraphs are
    near-unique, so the window partitions stay small. Reassembly is one
    shuffle on the doc id, memory bounded by the largest single
    document."""
    lines = doc_lines(df, text_col, id_col)
    eligible = lines.filter(F.length("line") >= min_chars)
    exempt = lines.filter(F.length("line") < min_chars)
    w = Window.partitionBy(_hash60(F.col("line"))).orderBy(id_col, "pos")
    ranked = eligible.withColumn("_rn", F.row_number().over(w))
    marked = ranked.unionByName(exempt.withColumn("_rn", F.lit(1)))
    keep = F.col("_rn") == 1
    return (marked.groupBy(id_col)
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(keep, F.struct("pos", "line")))),
                         lambda s: s["line"]),
                     "\n").alias(text_col),
                 F.count(F.when(keep, F.lit(1))).cast("long")
                 .alias("n_kept"),
                 (F.count("*") - F.count(F.when(keep, F.lit(1))))
                 .cast("long").alias("n_dropped")))


# ---------------------------------------------------------------------------
# Temperature sampling (multilingual/domain rebalancing)
# ---------------------------------------------------------------------------

def temperature_sample(df: DataFrame, group_col: str, target_total: int,
                       alpha: float = 0.5,
                       key_col: str = "doc_id") -> DataFrame:
    """Rebalance a corpus across groups with temperature ``alpha``.

    The standard multilingual pre-training mix (mBERT/XLM-R style):
    group ``g`` with ``n_g`` documents gets a quota proportional to
    ``n_g ** alpha`` — ``alpha=1`` keeps natural proportions, ``alpha=0``
    gives every group an equal share, values between up-weight the tail.
    Deterministic: within each group, documents are ranked by the 60-bit
    id hash (the same Bernoulli ordering :func:`hash_sample` uses) and
    the first ``min(n_g, ceil(target_total * w_g))`` are kept. Returns
    ``(key_col, group_col, sample_rank)``.

    Scale shape: the per-group count/weight table is tiny (groups are
    languages or domains) and broadcast back; the only corpus-wide
    exchange is the per-group rank window — identical to
    :func:`quota_sample`'s, keyed on the group, never global. For a
    group so large its window partition won't fit an executor,
    pre-thin with :func:`hash_sample` first; ranks are hash-ordered so
    the composition keeps the same documents."""
    counts = df.groupBy(group_col).agg(F.count("*").alias("n_g"))
    w = counts.withColumn(
        "w_raw", F.pow(F.col("n_g").cast("double"), F.lit(float(alpha))))
    tot = w.agg(F.sum("w_raw").alias("w_tot"))
    quota = (w.crossJoin(F.broadcast(tot))
             .withColumn(
                 "n_keep",
                 F.least(F.col("n_g"),
                         F.ceil(F.lit(float(target_total)) * F.col("w_raw")
                                / F.col("w_tot"))))
             .select(group_col, "n_keep"))
    rank_w = Window.partitionBy(group_col).orderBy(
        _hash60(F.col(key_col).cast("string")), key_col)
    return (df.select(key_col, group_col)
            .withColumn("sample_rank",
                        F.row_number().over(rank_w).cast("long"))
            .join(F.broadcast(quota), group_col)
            .filter(F.col("sample_rank") <= F.col("n_keep"))
            .select(key_col, group_col, "sample_rank"))


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

def decontaminate(corpus: DataFrame, eval_df: DataFrame, n: int = 13,
                  min_overlap: int = 1, text_col: str = "text",
                  id_col: str = "doc_id",
                  eval_text_col: str = "text") -> DataFrame:
    """Flag corpus documents sharing word n-grams with an eval set.

    The standard pre-training decontamination pass (GPT-3 appendix C /
    PaLM style: 13-gram collision against benchmark text): returns
    ``(id_col, overlap_grams, total_grams, overlap_frac)`` for corpus
    documents whose distinct-``n``-gram overlap with the eval set is
    >= ``min_overlap``. Feed the result to :func:`remove_contaminated`
    (or inspect ``overlap_frac`` for partial-contamination triage).

    Scale shape: the eval side is small by construction (benchmarks are
    thousands of docs vs the 100 TB corpus), so its distinct gram-hash
    set is BROADCAST; corpus gram rows (shuffle-free arrays_zip
    construction, 8-byte 60-bit hashes — ``dedup.shingle_hash_rows``)
    probe it map-side with a left broadcast join, and one
    map-side-combined groupBy per doc produces both counts in a single
    corpus pass. The corpus text is never shuffled and never compared
    pairwise."""
    from .dedup import shingle_hash_rows

    g = shingle_hash_rows(corpus, text_col=text_col, id_col=id_col, n=n)
    e = (shingle_hash_rows(eval_df, text_col=eval_text_col,
                           id_col=id_col, n=n)
         .select("shash").distinct()
         .withColumn("_hit", F.lit(1)))
    joined = g.join(F.broadcast(e), "shash", "left")
    return (joined.groupBy(id_col)
            .agg(F.count("*").cast("long").alias("total_grams"),
                 F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                  .cast("long").alias("overlap_grams"))
            .filter(F.col("overlap_grams") >= min_overlap)
            .withColumn("overlap_frac",
                        F.round(F.col("overlap_grams")
                                / F.col("total_grams"), 6))
            .select(id_col, "overlap_grams", "total_grams",
                    "overlap_frac"))


def remove_contaminated(corpus: DataFrame, eval_df: DataFrame,
                        n: int = 13, min_overlap: int = 1,
                        text_col: str = "text", id_col: str = "doc_id",
                        eval_text_col: str = "text") -> DataFrame:
    """Corpus minus :func:`decontaminate`'s flagged documents
    (broadcast-able anti-join on the id — the flagged set is small)."""
    flagged = decontaminate(corpus, eval_df, n=n, min_overlap=min_overlap,
                            text_col=text_col, id_col=id_col,
                            eval_text_col=eval_text_col)
    return corpus.join(flagged.select(id_col), id_col, "left_anti")


def scrub_contaminated(corpus: DataFrame, eval_df: DataFrame, n: int = 13,
                       window: int = 20, min_fragment: int = 10,
                       text_col: str = "text", id_col: str = "doc_id",
                       eval_text_col: str = "text",
                       checkpoint_hits: bool = True) -> DataFrame:
    """Surgical decontamination: remove contaminated WINDOWS, keep the
    clean fragments (GPT-3 appendix C's second mode — instead of
    dropping a whole document that collides with benchmark text, excise
    ``window`` tokens on either side of every colliding ``n``-gram and
    split the document at the gaps, discarding fragments shorter than
    ``min_fragment`` tokens). Salvages the bulk of long documents that
    merely QUOTE a benchmark item, where :func:`remove_contaminated`
    would discard them outright.

    Returns ``(id_col, frag_id, text_col, n_tokens)`` — one row per
    surviving fragment, ``frag_id`` dense in document order; an
    uncontaminated document passes through whole as fragment 0 (token
    positions align with the family's shared lowercase/collapse
    normalization, but the emitted text keeps the ORIGINAL casing, same
    trick as ``dedup.remove_duplicate_ngrams``). A fully-contaminated
    document yields no rows.

    Scale shape: the eval gram-hash set is tiny and BROADCAST (the
    corpus is never shuffled to find hits — gram rows are the
    shuffle-free arrays_zip construction probing the broadcast set
    map-side), and the token-explode/island/reassembly machinery runs
    on the CONTAMINATED documents only: contamination is rare, so the
    expensive path is bounded by the hit count while every clean
    document passes through as a pure whitespace-collapse projection
    (measured at 500k docs / 2% contamination: best-of-2 88 → 14 s,
    6.2x on a 32-core, 48 GB host with a planted-contamination probe;
    the host throttle makes single samples noisy). The hit rows are localCheckpointed at their
    three-consumer seam (clean/contaminated split + excision ranges),
    so the corpus-wide gram probe executes exactly once per call
    (``checkpoint_hits=False`` keeps the lazy lineage for callers that
    checkpoint a larger composition themselves)."""
    from .dedup import _gram_rows, shingle_hash_rows

    g = _gram_rows(corpus, text_col, id_col, n)
    ev = (shingle_hash_rows(eval_df, text_col=eval_text_col,
                            id_col=id_col, n=n)
          .select("shash").distinct())
    # checkpoint the HIT ROWS (bounded by contaminated gram count):
    # they feed three consumers (the clean/contaminated split and the
    # excision ranges), and without this the corpus-wide gram probe
    # would re-execute per consumer
    hits = (g.select(F.col(id_col), "_pos", "_ntok",
                     _hash60(F.col("sh")).alias("shash"))
            .join(F.broadcast(ev), "shash"))
    if checkpoint_hits:
        hits = hits.localCheckpoint(eager=True)
    hit_ids = hits.select(id_col).distinct()
    collapsed = F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
    orig_toks = F.split(collapsed, " ")
    # clean docs: one fragment, no explode, no shuffle
    clean = (corpus.join(hit_ids, id_col, "left_anti")
             .select(F.col(id_col), F.lit(0).cast("long").alias("frag_id"),
                     collapsed.alias(text_col),
                     F.size(orig_toks).cast("long").alias("n_tokens"))
             .filter(F.col("n_tokens") >= min_fragment))
    bad = (hits.select(
               F.col(id_col),
               F.explode(F.sequence(
                   F.greatest(F.col("_pos") - window, F.lit(0)),
                   F.least(F.col("_pos") + n - 1 + window,
                           F.col("_ntok") - 1))).alias("_tp"))
           .distinct())
    toks = (corpus.join(hit_ids, id_col, "left_semi")
            .select(F.col(id_col),
                    F.posexplode(orig_toks).alias("_tp", "_tok")))
    kept = toks.join(bad, [id_col, "_tp"], "left_anti")
    w_isl = Window.partitionBy(id_col).orderBy("_tp")
    islands = kept.withColumn(
        "_isl", F.col("_tp") - F.row_number().over(w_isl))
    frags = (islands.groupBy(id_col, "_isl")
             .agg(F.min("_tp").alias("_start"),
                  F.count("*").cast("long").alias("n_tokens"),
                  F.array_join(
                      F.transform(
                          F.array_sort(F.collect_list(
                              F.struct(F.col("_tp").alias("p"),
                                       F.col("_tok").alias("t")))),
                          lambda s: s["t"]),
                      " ").alias(text_col))
             .filter(F.col("n_tokens") >= min_fragment))
    w_frag = Window.partitionBy(id_col).orderBy("_start")
    contam = (frags.withColumn(
                  "frag_id",
                  (F.row_number().over(w_frag) - 1).cast("long"))
              .select(id_col, "frag_id", text_col, "n_tokens"))
    return clean.unionByName(contam)


# ---------------------------------------------------------------------------
# Composed curation pipeline
# ---------------------------------------------------------------------------

def curate_corpus(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", lang_col: str = "lang",
                  min_line_docs: int = 3, min_tokens: int = 20,
                  max_dup_gram_frac: float = 0.6, lang_cap: int = 25,
                  shard_budget: int = 4000, n_buckets: int = 4,
                  gram_n: int = 3, materialize: bool = True) -> DataFrame:
    """The whole pre-training curation pipeline as ONE composed lineage:

    1. exact dedup keep-one (``dedup.dedup_keep_one`` — min-id per
       normalized text hash, single window shuffle),
    2. cross-document boilerplate-line removal
       (:func:`strip_boilerplate`),
    3. quality filter on the CLEANED text: token count >=
       ``min_tokens`` and duplicate-``gram_n``-gram fraction <=
       ``max_dup_gram_frac`` (:func:`repetition_metrics`),
    4. per-language quota (:func:`quota_sample`),
    5. token-budget shard packing (:func:`pack_shards`).

    Returns the shard manifest ``(id, lang, n_tokens, dup_gram_frac,
    sample_rank, bucket, shard)``. Every stage is the already-gated
    operator — this function adds no new semantics, only the
    composition, and q_curate hash-gates the five-stage chain
    end-to-end against a single DuckDB transliteration.

    Shuffle ledger at 100 TB: dedup window (1) + boilerplate
    freq-agg/rebuild (2) + gram/token aggs (2) + quota window (1) +
    pack window (1) — every exchange keyed on the doc id, a 60-bit
    hash, or a small group key; nothing global."""
    from .dedup import dedup_keep_one

    deduped = dedup_keep_one(df, text_col, id_col)
    if materialize:
        # strip_boilerplate reads its input TWICE (boilerplate-line
        # frequency table + rebuild pass), so the dedup window would
        # execute twice without a barrier here.
        deduped = deduped.localCheckpoint(eager=False)
    cleaned = strip_boilerplate(deduped, min_docs=min_line_docs,
                                text_col=text_col, id_col=id_col)
    if materialize:
        # ``cleaned`` fans out to three consumers (token count,
        # repetition metrics, quality filter) and Catalyst does not
        # dedupe shared subplans — without a barrier the dedup+strip
        # lineage executes three times. The lazy localCheckpoint
        # materializes it once on first use (in production you would
        # write the cleaned corpus to a table between stages anyway).
        cleaned = cleaned.localCheckpoint(eager=False)
    rep = repetition_metrics(cleaned, n=gram_n, text_col=text_col,
                             id_col=id_col)
    n_tok = F.size(F.split(F.trim(F.regexp_replace(
        F.lower(F.col(text_col)), r"\s+", " ")), " ")).cast("long")
    staged = (cleaned.select(id_col, text_col)
              .withColumn("n_tokens", n_tok)
              .join(rep.select(id_col, "dup_gram_frac"), id_col, "left")
              .withColumn("dup_gram_frac",
                          F.coalesce("dup_gram_frac", F.lit(0.0))))
    filtered = staged.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("dup_gram_frac") <= max_dup_gram_frac))
    with_lang = (filtered.drop(text_col)
                 .join(df.select(id_col, lang_col), id_col))
    quota = quota_sample(with_lang, group_col=lang_col, cap=lang_cap,
                         key_col=id_col)
    packed = pack_shards(quota, token_col="n_tokens",
                         budget=shard_budget, n_buckets=n_buckets,
                         key_col=id_col)
    return packed.select(id_col, lang_col, "n_tokens", "dup_gram_frac",
                         "sample_rank", "bucket", "shard")


# ---------------------------------------------------------------------------
# Sequence packing (GPT-style concat-and-chunk)
# ---------------------------------------------------------------------------

def pack_sequences(df: DataFrame, token_col: str, seq_len: int,
                   n_buckets: int = 4, key_col: str = "doc_id") -> DataFrame:
    """Map every document onto the fixed-length training sequences a
    GPT-style concat-and-chunk tokenizer run would produce.

    The corpus is laid out as ONE virtual token stream in a
    deterministic global order — ``(bucket, 60-bit id hash, id)`` — and
    cut into sequences of ``seq_len`` tokens; documents may span a cut.
    Output adds, per document (all longs):

    * ``bucket``       — hash bucket (stream segment) the doc sits in,
    * ``global_start`` — the doc's first-token offset in the stream,
    * ``seq_first``    — index of the sequence its first token lands in,
    * ``offset_in_seq``— position of that token within ``seq_first``,
    * ``n_seqs``       — how many sequences the doc touches (0 for an
      empty document).

    Scale shape: a global prefix sum without a global window — the
    classic two-level construction. Per-bucket running sums are one
    window shuffle with ``n_buckets`` parallel streams (pick buckets ~
    cluster cores at 100 TB, same knob as :func:`pack_shards`); the
    bucket totals form an ``n_buckets``-row table whose running offsets
    are computed in a single tiny window and BROADCAST back. No stage
    ever orders more than one bucket's rows, and the layout is
    reproducible across runs, partitionings and engines."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    h = _hash60(F.col(key_col).cast("string"))
    with_b = (df.withColumn("_h", h)
              .withColumn("bucket", (h % n_buckets).cast("long")))
    w = (Window.partitionBy("bucket")
         .orderBy(F.col("_h").asc(), F.col(key_col).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum_in_bucket = (F.sum(F.col(token_col)).over(w)
                     - F.col(token_col)).cast("long")
    # n_buckets rows: the single-partition window is deliberate and tiny
    bw = (Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (with_b.groupBy("bucket")
               .agg(F.sum(token_col).cast("long").alias("_btot"))
               .withColumn("_boff",
                           F.coalesce(F.sum("_btot").over(bw),
                                      F.lit(0)).cast("long"))
               .select("bucket", "_boff"))
    tok = F.col(token_col).cast("long")
    return (with_b
            .withColumn("_cumb", cum_in_bucket)
            .join(F.broadcast(offsets), "bucket")
            .withColumn("global_start",
                        (F.col("_cumb") + F.col("_boff")).cast("long"))
            # exact 64-bit `div`, mirroring DuckDB `//` (same reasoning
            # as pack_shards: float floor() diverges past 2^53 tokens)
            .withColumn("seq_first",
                        F.expr(f"global_start div {int(seq_len)}")
                        .cast("long"))
            .withColumn("offset_in_seq",
                        (F.col("global_start") % seq_len).cast("long"))
            .withColumn(
                "n_seqs",
                F.when(tok == 0, F.lit(0)).otherwise(
                    F.expr(f"(offset_in_seq + {token_col} + "
                           f"{int(seq_len)} - 1) div {int(seq_len)}"))
                .cast("long"))
            .drop("_h", "_cumb", "_boff"))


def pack_multimodal(df: DataFrame, seq_len: int,
                    media_costs: dict | None = None,
                    default_media_cost: int = 64,
                    n_buckets: int = 4, id_col: str = "doc_id",
                    spans_col: str = "spans") -> DataFrame:
    """Pack INTERLEAVED text + media spans into fixed-length training
    sequences — the multimodal analog of :func:`pack_sequences`, over
    the north-rule document shape ``(doc_id, spans:array<struct<kind,
    text, media_ref, offset>>)``.

    Costing: a ``text`` span costs its whitespace token count (same
    normalization as the rest of this module); any other kind costs
    ``media_costs[kind]`` tokens (``default_media_cost`` for kinds not
    in the map) — the fixed patch/frame budget a multimodal tokenizer
    assigns an image/audio/video item. Text spans may SPLIT across a
    sequence boundary; media spans are ATOMIC: a media item that does
    not fit in the remainder of the current sequence pushes padding to
    the next boundary (every media cost must therefore be ``<=
    seq_len`` — validated up front).

    Returns one manifest row per span (text columns dropped):
    ``(bucket, id, span_idx, kind, cost, cum_before, pad_before,
    global_start, seq_first, offset_in_seq, n_seqs)`` — ``cum_before``
    is the span's pad-free stream offset, ``pad_before`` the padding
    injected immediately before it, ``global_start`` its final offset.

    Scale shape: span explosion and costing are pure codegen
    projections; the only shuffle is ONE window + ONE groupBy on
    ``bucket`` (deterministic 60-bit-hash order inside, documents
    contiguous). The padding fold is inherently sequential per bucket
    (each pad depends on every pad before it), so it runs as an
    Arrow-batched ``applyInPandas`` over the MANIFEST columns only —
    a bucket of N spans is ~40 bytes/row in pandas, and ``n_buckets``
    is the parallelism/memory knob: size it so corpus_spans/n_buckets
    fits a task (at 100 TB that is ~cluster cores x a safety factor,
    exactly the :func:`pack_shards` guidance). Inside the fold the
    Python loop walks only the MEDIA spans (pads change nowhere else);
    text rows are filled vectorized via searchsorted."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    media_costs = dict(media_costs or {})
    for kind, c in [*media_costs.items(), ("<default>", default_media_cost)]:
        if not (0 < int(c) <= seq_len):
            raise ValueError(
                f"media cost for {kind!r} must be in (0, seq_len] — an "
                f"atomic span larger than a sequence can never be placed "
                f"(got {c}, seq_len {seq_len})")

    span = F.col("_span")
    cost_media = F.lit(int(default_media_cost))
    for kind, c in sorted(media_costs.items()):
        cost_media = F.when(span["kind"] == kind,
                            F.lit(int(c))).otherwise(cost_media)
    n_tok = F.size(F.split(F.trim(F.regexp_replace(
        F.coalesce(span["text"], F.lit("")), r"\s+", " ")), " "))
    cost = F.when(span["kind"] == "text",
                  n_tok.cast("long")).otherwise(cost_media.cast("long"))

    h = _hash60(F.col(id_col).cast("string"))
    rows = (df.select(id_col, F.posexplode(spans_col)
                      .alias("span_idx", "_span"))
            .withColumn("_h", h)
            .withColumn("bucket", (h % n_buckets).cast("long"))
            .withColumn("kind", span["kind"])
            .withColumn("cost", cost)
            .withColumn("span_idx", F.col("span_idx").cast("long"))
            .drop("_span"))
    w = (Window.partitionBy("bucket")
         .orderBy(F.col("_h").asc(), F.col(id_col).asc(),
                  F.col("span_idx").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    manifest = rows.withColumn(
        "cum_before", (F.sum("cost").over(w) - F.col("cost")).cast("long"))

    from pyspark.sql.types import LongType, StructField, StructType
    out_schema = StructType(
        [f for f in manifest.schema.fields if f.name != "_h"]
        + [StructField(n, LongType()) for n in
           ("pad_before", "global_start", "seq_first",
            "offset_in_seq", "n_seqs")])
    out_cols = [f.name for f in out_schema.fields]
    order_cols = ["_h", id_col, "span_idx"]
    L = int(seq_len)

    def fold(pdf):
        import numpy as np
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        pdf = pdf.reset_index(drop=True)
        cum = pdf["cum_before"].to_numpy(dtype=np.int64)
        c = pdf["cost"].to_numpy(dtype=np.int64)
        is_media = (pdf["kind"] != "text").to_numpy()
        midx = np.flatnonzero(is_media)
        pads = np.zeros(len(midx), dtype=np.int64)
        P = 0
        for j, i in enumerate(midx):
            r = (cum[i] + P) % L
            if r > 0 and r + c[i] > L:
                pads[j] = L - r
                P += pads[j]
        pad_before = np.zeros(len(pdf), dtype=np.int64)
        pad_before[midx] = pads
        # pad total in effect AT each row = cumsum of pads at media rows
        # <= this row (a row's own pad applies to itself)
        pad_cum = np.zeros(len(midx) + 1, dtype=np.int64)
        np.cumsum(pads, out=pad_cum[1:])
        at_row = pad_cum[np.searchsorted(midx, np.arange(len(pdf)),
                                         side="right")]
        gs = cum + at_row
        pdf["pad_before"] = pad_before
        pdf["global_start"] = gs
        pdf["seq_first"] = gs // L
        pdf["offset_in_seq"] = gs % L
        pdf["n_seqs"] = np.where(c == 0, 0,
                                 (gs % L + c + L - 1) // L)
        return pdf[out_cols]

    return manifest.groupBy("bucket").applyInPandas(fold, out_schema)


# ---------------------------------------------------------------------------
# Dataset-mixture construction (weighted source sampling)
# ---------------------------------------------------------------------------

def mix_corpora(df: DataFrame, group_col: str, weights: dict,
                target_tokens: int, token_col: str,
                key_col: str = "doc_id") -> DataFrame:
    """Build a training mixture: give each source/domain group a token
    budget proportional to its integer weight and keep documents (in
    deterministic 60-bit hash order) until the budget is reached.

    The Pile/LLaMA-style mixture step: ``weights`` maps group value ->
    integer relative weight; group ``g`` gets ``target_tokens * w_g /
    sum(w)`` tokens. A document is kept iff its first token falls inside
    the budget (the boundary document is kept, so every non-empty quota
    takes at least one document and budgets are met or exceeded by at
    most one document). Groups missing from ``weights`` are dropped.
    Returns ``(key_col, group_col, token_col, cum_before)``.

    The boundary test is exact integer arithmetic — ``cum_before *
    w_tot < target_tokens * w_g`` on longs — so both engines agree
    bit-for-bit with no float knife-edge (the CLAUDE.md quota rule).
    Overflow bound: cum_before * w_tot must stay under 2^63 — with
    100 TB ~ 2.5e13 tokens per group that allows total weight ~ 360k;
    keep weights small integers (they are ratios, not counts).

    Scale shape: the quota table is ``len(weights)`` literal rows,
    broadcast; the only corpus-wide exchange is the per-group running-sum
    window (:func:`quota_sample`'s shape). Skewed groups sort their
    partition — pre-thin a pathological group with :func:`hash_sample`
    first; hash order makes the composition keep the same documents."""
    if not weights:
        raise ValueError("weights must be a non-empty {group: int} map")
    for g, wgt in weights.items():
        if int(wgt) != wgt or wgt < 0:
            raise ValueError(f"weight for {g!r} must be a non-negative "
                             f"integer, got {wgt!r}")
    w_tot = int(sum(weights.values()))
    if w_tot <= 0:
        raise ValueError("weights must sum to a positive total")
    spark = df.sparkSession
    quota = spark.createDataFrame(
        [(g, int(wgt)) for g, wgt in sorted(weights.items())],
        f"{group_col} string, _w long")
    h = _hash60(F.col(key_col).cast("string"))
    win = (Window.partitionBy(group_col)
           .orderBy(h.asc(), F.col(key_col).asc())
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum_before = (F.sum(F.col(token_col)).over(win)
                  - F.col(token_col)).cast("long")
    return (df.withColumn("cum_before", cum_before)
            .join(F.broadcast(quota), group_col)
            .filter(F.col("cum_before") * F.lit(w_tot)
                    < F.lit(int(target_tokens)) * F.col("_w"))
            .select(key_col, group_col,
                    F.col(token_col).cast("long").alias(token_col),
                    "cum_before"))


# ---------------------------------------------------------------------------
# Perplexity bucketing (CCNet-style quality tiers)
# ---------------------------------------------------------------------------

def logprob_buckets(df: DataFrame, n_buckets: int = 3,
                    group_col: str = "lang", text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split each group into equal-size quality tiers by corpus-LM
    score (CCNet's head/middle/tail partition, with the unigram model
    of :func:`unigram_logprob` standing in for its 5-gram LM).

    Documents are ranked within their group by ``avg_logprob``
    descending (fluent text first; ties broken by id) and dealt into
    ``n_buckets`` NTILE buckets. Returns ``(id, group, n_tokens,
    avg_logprob, bucket, tier)`` — ``bucket`` is 1-based, ``tier`` is
    ``head``/``middle``/``tail`` when ``n_buckets == 3``, else
    ``b<bucket>``. Downstream: train on head, hash-sample the middle,
    drop the tail.

    Scale shape: the scoring pass is :func:`unigram_logprob` (vocab
    agg + broadcast total); bucketing adds one id-keyed join back to
    the group column and one per-group rank window — nothing global.
    The 6dp rounding inside unigram_logprob makes the sort key, and
    therefore every bucket assignment, engine-exact."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    scored = (unigram_logprob(df, text_col=text_col, id_col=id_col)
              .join(df.select(id_col, group_col), id_col))
    w = Window.partitionBy(group_col).orderBy(
        F.col("avg_logprob").desc(), F.col(id_col).asc())
    bucket = F.ntile(n_buckets).over(w).cast("long")
    if n_buckets == 3:
        tier = (F.when(F.col("bucket") == 1, F.lit("head"))
                .when(F.col("bucket") == 2, F.lit("middle"))
                .otherwise(F.lit("tail")))
    else:
        tier = F.concat(F.lit("b"), F.col("bucket").cast("string"))
    return (scored.withColumn("bucket", bucket)
            .withColumn("tier", tier)
            .select(id_col, group_col, "n_tokens", "avg_logprob",
                    "bucket", "tier"))


# ---------------------------------------------------------------------------
# Backoff bigram LM scoring (CCNet-style cross-corpus quality)
# ---------------------------------------------------------------------------

def bigram_logprob(df: DataFrame, lm_df: DataFrame | None = None,
                   alpha: float = 0.4, text_col: str = "text",
                   id_col: str = "doc_id",
                   lm_text_col: str | None = None) -> DataFrame:
    """Per-document mean log-score under a Stupid-Backoff bigram LM
    (Brants et al. 2007) trained on ``lm_df`` — the CCNet setup, where
    the reference corpus (Wikipedia) scores the crawl, with the 5-gram
    KenLM replaced by the largest n-gram a join-based engine scores
    exactly: S(w_i | w_{i-1}) = cnt(w_{i-1} w_i) / cnt(w_{i-1}) when the
    bigram was seen, else ``alpha`` * S(w_i); S(w) = cnt(w)/total, with
    a 1/total out-of-vocabulary floor. The first token scores S(w_1).
    ``lm_df`` defaults to ``df`` (self-scoring — backoff then never
    fires; pass a held-out reference to exercise it). Returns ``(id,
    n_tokens, avg_logprob)``, 6dp-rounded.

    Scale shape: bigram construction is the dedup family's shuffle-free
    arrays_zip-over-shifted-slices (no window, no token exchange); the
    bigram table is keyed and joined on a 60-bit hash (8-byte shuffle
    keys); unigram joins reuse :func:`unigram_logprob`'s vocabulary
    pattern with the same Zipf-prune-and-broadcast advice at 100 TB.
    All scoring branches are one codegen CASE — no UDFs anywhere."""
    if lm_df is None:
        lm_df = df
    if lm_text_col is None:
        lm_text_col = text_col

    def _tok_arr(c):
        return F.split(F.trim(F.regexp_replace(
            F.lower(c), r"\s+", " ")), " ")

    def _bigram_rows(src: DataFrame, tcol: str, keep_id: bool):
        t = src.select(F.col(id_col), _tok_arr(F.col(tcol)).alias("_t"))
        ln = F.greatest(F.size("_t") - 1, F.lit(0))
        z = F.arrays_zip(F.slice("_t", 1, ln).alias("p"),
                         F.slice("_t", 2, ln).alias("c"))
        cols = [F.col(id_col)] if keep_id else []
        return (t.select(*cols, F.explode(z).alias("_z"))
                .select(*cols, F.col("_z.p").alias("prev"),
                        F.col("_z.c").alias("cur")))

    lm_toks = lm_df.select(
        F.explode(_tok_arr(F.col(lm_text_col))).alias("tok"))
    # seam (lazy localCheckpoint — leak-free): uni feeds three
    # consumers (total, uc, up) — unpersisted, each re-tokenizes
    # lm_df. The uc/up joins stay broadcast explicitly regardless of
    # the persisted table's size stats.
    uni = (lm_toks.groupBy("tok")
           .agg(F.count("*").cast("long").alias("cnt"))
           .localCheckpoint(eager=False))
    total = uni.agg(F.sum("cnt").cast("long").alias("total"))
    bh = _hash60(F.concat_ws(" ", "prev", "cur"))
    big = (_bigram_rows(lm_df, lm_text_col, keep_id=False)
           .select(bh.alias("bh"))
           .groupBy("bh").agg(F.count("*").cast("long").alias("bcnt")))

    t = df.select(F.col(id_col), _tok_arr(F.col(text_col)).alias("_t"))
    firsts = t.select(id_col, F.lit(None).cast("string").alias("prev"),
                      F.element_at("_t", 1).alias("cur"))
    rows = firsts.unionByName(_bigram_rows(df, text_col, keep_id=True))

    uc = uni.select(F.col("tok").alias("cur"), F.col("cnt").alias("_cc"))
    up = uni.select(F.col("tok").alias("prev"), F.col("cnt").alias("_pc"))
    scored = (rows
              .withColumn("bh", bh)
              .join(F.broadcast(uc), "cur", "left")
              .join(F.broadcast(up), "prev", "left")
              .join(big, "bh", "left")
              .crossJoin(F.broadcast(total)))
    p_uni = F.when(F.col("_cc").isNotNull(),
                   F.col("_cc") / F.col("total")) \
             .otherwise(F.lit(1.0) / F.col("total"))
    lp = (F.when(F.col("prev").isNull(), F.log(p_uni))
          .when(F.col("bcnt").isNotNull() & F.col("_pc").isNotNull(),
                F.log(F.col("bcnt") / F.col("_pc")))
          .otherwise(F.log(F.lit(float(alpha)) * p_uni)))
    return (scored.groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.round(F.avg(lp), 6).alias("avg_logprob")))


# ---------------------------------------------------------------------------
# Unicode/whitespace text cleanup
# ---------------------------------------------------------------------------

# RE2-safe classes (verified byte-identical under Java regex and DuckDB);
# hoisted to constants because py3.11 f-strings reject backslashes
CTRL_RE = (r"[\x{200B}-\x{200D}\x{FEFF}"
           r"\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]")
USPACE_RE = r"[\x{00A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]"
TRAILING_WS_RE = r"[ \t]+\n"
MULTI_NL_RE = r"\n{3,}"
SPACE_RUN_RE = r"[ \t]{2,}"


def clean_text(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """The standard pre-filter text cleanup (C4/Dolma-style): strip the
    characters that poison tokenizers and dedup hashes without changing
    visible content. In order:

    1. drop zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) and C0/DEL
       control characters (keeping tab and newline),
    2. normalize exotic Unicode spaces (NBSP, en/em/thin/ideographic)
       to a plain space,
    3. strip trailing whitespace from every line,
    4. collapse 3+ consecutive newlines to a paragraph break (2),
    5. collapse runs of spaces/tabs to one space, and trim.

    Returns ``(id, text, n_chars_before, n_chars_after)`` (longs).
    Run this BEFORE hashing/dedup: two visually identical documents
    that differ by a BOM or NBSP hash apart and defeat exact dedup.

    Pure codegen regexp projection — no shuffle, composes with scan
    pushdown; every pattern is RE2-safe so the DuckDB oracle replays
    the identical pipeline."""
    t = F.col(text_col)
    before = F.length(t).cast("long")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(t, CTRL_RE, ""),
                        USPACE_RE, " "),
                    TRAILING_WS_RE, "\n"),
                MULTI_NL_RE, "\n\n"),
            SPACE_RUN_RE, " "))
    return df.select(
        F.col(id_col), cleaned.alias(text_col),
        before.alias("n_chars_before"),
        F.length(cleaned).cast("long").alias("n_chars_after"))


def nfc_normalize_text(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Unicode NFC canonical composition (UAX #15) — the normalization
    :func:`clean_text` deliberately does NOT attempt (it only strips
    and collapses): decomposed sequences (``e`` + U+0301 combining
    acute) and singleton variants compose to their canonical
    codepoints, so visually-identical text from different encoders
    hashes identically. Run BEFORE ``normalized_text_hash`` on crawl
    corpora; NFC (not NFKC) by design — compatibility characters like
    the U+FB01 fi-ligature are CONTENT and pass through unchanged.

    Returns ``(id, text, changed)`` (``changed`` long 0/1). NFC needs
    the Unicode composition tables, which no codegen expression
    carries, so this is the family's sanctioned slow path: one
    Arrow-batched ``pandas_udf`` over the text column (still a pure
    projection — no shuffle, composes with scan pruning). The DuckDB
    oracle uses utf8proc's ``nfc_normalize``; both implement UAX #15
    canonical composition and agree byte-for-byte on the gate's
    planted sequences."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    # built lazily: pandas_udf parses its DDL type against the ACTIVE
    # session (CLAUDE.md), so no module-import-time construction
    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda x: unicodedata.normalize("NFC", x)
                     if x is not None else None)

    out = _nfc(F.col(text_col))
    return df.select(
        F.col(id_col), out.alias(text_col),
        F.when(out.eqNullSafe(F.col(text_col)), F.lit(0))
        .otherwise(F.lit(1)).cast("long").alias("changed"))


# ---------------------------------------------------------------------------
# Per-source corpus report card
# ---------------------------------------------------------------------------

def corpus_report(df: DataFrame, group_col: str = "source",
                  text_col: str = "text", id_col: str = "doc_id",
                  lang_col: str = "lang") -> DataFrame:
    """The per-source QA report every corpus build publishes: document
    and token counts, size distribution, language spread and the
    exact-duplicate rate, one row per ``group_col``. Returns
    ``(group, n_docs, n_tokens, avg_chars, n_langs, n_distinct_texts,
    dup_frac)`` — counts long, ``avg_chars``/``dup_frac`` 6dp doubles.

    The duplicate rate uses THE exact-dedup normalization
    (``dedup.normalized_text_hash``), so ``dup_frac`` here predicts
    exactly what :func:`~.dedup.dedup_keep_one` would remove within
    each source — report and dedup can never disagree.

    Scale shape: a single map-side-combined aggregation keyed on the
    group; the two distinct counts are exact (Spark expands them to a
    two-level aggregate internally — at 100 TB swap
    ``approx_count_distinct`` in if the report tolerates ~2% error and
    the expansion shows up in the plan)."""
    from .dedup import normalized_text_hash

    n_tok = F.size(F.split(F.trim(F.regexp_replace(
        F.lower(F.col(text_col)), r"\s+", " ")), " ")).cast("long")
    h = normalized_text_hash(F.col(text_col))
    base = df.select(F.col(group_col), F.col(id_col), F.col(lang_col),
                     F.length(text_col).cast("long").alias("_nc"),
                     n_tok.alias("_nt"), h.alias("_h"))
    return (base.groupBy(group_col)
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("_nt").cast("long").alias("n_tokens"),
                 F.round(F.avg("_nc"), 6).alias("avg_chars"),
                 F.countDistinct(lang_col).cast("long").alias("n_langs"),
                 F.countDistinct("_h").cast("long")
                  .alias("n_distinct_texts"))
            .withColumn("dup_frac",
                        F.round(1.0 - F.col("n_distinct_texts")
                                / F.col("n_docs"), 6)))


# ---------------------------------------------------------------------------
# Deterministic corpus splits (leakage-safe train/val/test)
# ---------------------------------------------------------------------------

def split_corpus(df: DataFrame, fractions: dict | None = None,
                 key_col: str = "doc_id", salt: str = "",
                 split_col: str = "split") -> DataFrame:
    """Assign every row to a named split by integer-weighted 60-bit
    hash ranges — the reproducible train/val/test cut. ``fractions``
    maps name -> positive integer weight (default 98/1/1); a row lands
    in the range its ``hash % total`` falls into, with ranges laid out
    in sorted-name order so the assignment is a pure engine-independent
    function of (key, salt, fractions). Re-running with a grown corpus
    never moves an existing row between splits. Pure codegen map — no
    shuffle, composes with scan pushdown."""
    fractions = fractions or {"train": 98, "val": 1, "test": 1}
    for name, wgt in fractions.items():
        if int(wgt) != wgt or wgt <= 0:
            raise ValueError(f"fraction for {name!r} must be a positive "
                             f"integer, got {wgt!r}")
    tot = int(sum(fractions.values()))
    h = _hash60(F.concat(F.col(key_col).cast("string"),
                         F.lit(salt))) % tot
    expr, lo = None, 0
    items = sorted(fractions.items())
    for name, wgt in items[:-1]:
        lo += int(wgt)
        cond = h < lo
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(split_col, expr)


def leakage_safe_split(df: DataFrame, fractions: dict | None = None,
                       pairs: DataFrame | None = None,
                       text_col: str = "text", id_col: str = "doc_id",
                       salt: str = "", k: int = 8, bands: int = 4,
                       max_bucket: int | None = 1000,
                       split_col: str = "split") -> DataFrame:
    """:func:`split_corpus`, but near-duplicates can never straddle a
    split boundary: every member of a near-dup connected component is
    assigned the split of the component's min-id representative. This
    is the eval-contamination guard a per-document hash split lacks —
    if doc A is in train and its near-copy B lands in test, the eval
    leaks; here A and B share ``rep_id`` and therefore a split, by
    construction. Returns ``(id, rep_id, split)``.

    ``pairs`` is any (a, b) near-dup pair list (LSH candidates, or the
    Jaccard/SimHash-verified set for a stricter graph); by default the
    MinHash+LSH candidate pairs are generated here. Scale: the pair
    graph and its connected components are dedup machinery already
    sized for 100 TB (banded candidates, hot-bucket cap, one shuffle
    per propagation round); the split itself stays a pure hash map on
    the representative id."""
    from .dedup import (duplicate_clusters, lsh_candidate_pairs,
                        minhash_signatures)
    if pairs is None:
        sigs = minhash_signatures(df, text_col=text_col, id_col=id_col,
                                  k=k)
        pairs = lsh_candidate_pairs(sigs, k=k, bands=bands,
                                    max_bucket=max_bucket)
    clusters = duplicate_clusters(pairs)
    rep = (df.select(id_col)
           .join(clusters.withColumnRenamed("node", id_col), id_col,
                 "left")
           .select(F.col(id_col),
                   F.coalesce(F.col("cluster"), F.col(id_col))
                   .cast("long").alias("rep_id")))
    return (split_corpus(rep, fractions, key_col="rep_id", salt=salt,
                         split_col=split_col)
            .select(id_col, "rep_id", split_col))


# ---------------------------------------------------------------------------
# DSIR — hashed-n-gram importance resampling toward a target domain
# ---------------------------------------------------------------------------

def dsir_weights(df: DataFrame, target_df: DataFrame,
                 n_buckets: int = 4096, text_col: str = "text",
                 id_col: str = "doc_id",
                 target_text_col: str | None = None) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    estimate two bag-of-hashed-unigram LMs — p from ``target_df`` (the
    domain to select FOR), q from ``df`` (the raw pool) — with add-one
    smoothing over ``n_buckets`` hash buckets, and score every raw
    document log w(x) = sum_tokens [ln p(b) - ln q(b)]. High weight =
    looks like the target under the hashed features. Returns
    ``(id, n_tokens, log_weight)``, 6dp-rounded. The paper adds Gumbel
    noise before the top-k; :func:`dsir_sample` is the deterministic
    rank-order variant.

    Scale shape: both LMs are ONE token-bucket aggregation each
    (map-side combined, 8-byte 60-bit-hash keys mod ``n_buckets``) and
    the resulting tables are at most ``n_buckets`` rows — broadcast to
    the scoring pass, which is explode → two broadcast joins → one
    per-document aggregation. No shuffle ever carries the token stream
    except into its own per-doc sum; the corpus is read twice (LM +
    scoring) — at 100 TB persist the bucketed token counts instead."""
    tgt_col = target_text_col if target_text_col is not None else text_col

    def _buckets(src: DataFrame, tcol: str, with_id: bool):
        cols = [F.col(id_col)] if with_id else []
        toks = src.select(*cols, F.explode(F.split(F.trim(
            F.regexp_replace(F.lower(F.col(tcol)), r"\s+", " ")),
            " ")).alias("tok"))
        return toks.select(*cols, F.pmod(_hash60(F.col("tok")),
                                         F.lit(n_buckets)).alias("b"))

    rb = _buckets(df, text_col, True)
    tb = _buckets(target_df, tgt_col, False)
    # seam (lazy localCheckpoint — leak-free): rc/tc are each read
    # twice (totals + scoring joins) and are at most n_buckets rows —
    # unpersisted, the token explosion reruns
    rc = (rb.groupBy("b").agg(F.count("*").alias("cr"))
          .localCheckpoint(eager=False))
    tc = (tb.groupBy("b").agg(F.count("*").alias("ct"))
          .localCheckpoint(eager=False))
    tot = (rc.agg(F.sum("cr").alias("tr"))
           .crossJoin(tc.agg(F.sum("ct").alias("tt"))))
    # every raw token's bucket exists in rc by construction; ct may miss
    scored = (rb.join(F.broadcast(rc), "b")
              .join(F.broadcast(tc), "b", "left")
              .select(F.col(id_col),
                      (F.log(F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                       - F.log(F.col("cr") + 1.0)).alias("lp")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"), F.sum("lp").alias("s"))
            .crossJoin(F.broadcast(tot))
            .select(F.col(id_col), F.col("n_tokens"),
                    F.round(F.col("s") + F.col("n_tokens")
                            * (F.log(F.col("tr") + float(n_buckets))
                               - F.log(F.col("tt") + float(n_buckets))),
                            6).alias("log_weight")))


def dsir_sample(df: DataFrame, target_df: DataFrame, k: int,
                n_buckets: int = 4096, text_col: str = "text",
                id_col: str = "doc_id",
                target_text_col: str | None = None) -> DataFrame:
    """Deterministic DSIR selection: the ``k`` raw documents whose
    hashed-unigram importance weight toward ``target_df`` is highest
    (ties break on id). One global top-k over the per-doc weights —
    TakeOrderedAndProject, never a full sort. Returns the selected
    ``(id, log_weight)``."""
    w = dsir_weights(df, target_df, n_buckets, text_col, id_col,
                     target_text_col)
    return (w.select(id_col, "log_weight")
            .orderBy(F.col("log_weight").desc(), F.col(id_col))
            .limit(k))
