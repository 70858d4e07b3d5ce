"""Text analysis operators: quality scoring, language-ID, token counting,
fingerprinting. Pure JVM expressions (regexp_count/split/md5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ._sql import sql_ident, sql_string

STOPWORDS_RE = r"\b(the|and|of|to|in|a|is|for|on|with)\b"
PUNCT_RE = r"[^A-Za-z0-9\s]"
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

LANG_WORDS = {
    "en": r"\b(the|and|of|to|in|is)\b",
    "de": r"\b(der|die|das|und|ist|nicht)\b",
    "fr": r"\b(le|la|et|les|des|est)\b",
}


def add_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append n_tokens / re_tokens / stopword & punct counts / quality.

    Quality = 0.4·len + 0.4·stopword-density + 0.2·(1−punct-density),
    each component clipped to [0,1] — a simple heuristic of the
    Gopher-rules family."""
    t = F.col(text_col)
    n_tokens = F.size(F.split(F.trim(t), r"\s+"))
    stop_hits = F.regexp_count(F.lower(t), F.lit(STOPWORDS_RE))
    punct = F.regexp_count(t, F.lit(PUNCT_RE))
    chars = F.length(t)
    quality = F.round(
        0.4 * F.least(n_tokens / 100.0, F.lit(1.0))
        + 0.4 * F.least(stop_hits / F.greatest(n_tokens, F.lit(1)) * 5.0,
                        F.lit(1.0))
        + 0.2 * (1.0 - F.least(punct / F.greatest(chars, F.lit(1)) * 10.0,
                               F.lit(1.0))), 6)
    return (df.withColumn("n_tokens", n_tokens)
            .withColumn("re_tokens", F.regexp_count(t, F.lit(TOKEN_RE)))
            .withColumn("stopword_hits", stop_hits)
            .withColumn("punct_chars", punct)
            .withColumn("quality", quality))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit n-gram heuristic language-ID with deterministic
    en>de>fr tie-break."""
    lo = F.lower(F.col(text_col))
    hits = {lang: F.regexp_count(lo, F.lit(rx))
            for lang, rx in LANG_WORDS.items()}
    pred = (F.when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]), "en")
            .when(hits["de"] >= hits["fr"], "de").otherwise("fr"))
    out = df
    for lang, h in hits.items():
        out = out.withColumn(f"{lang}_hits", h)
    return out.withColumn("pred_lang", pred)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace-normalized md5 document fingerprint."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(norm))


def vocab_topk(df, k: int = 50, text_col: str = "text"):
    """Corpus vocabulary build (the BPE-prep step of a training
    pipeline): whitespace tokens lowercased, global counts, top-k by
    (count desc, token). Map-side combined groupBy then a k-row
    TakeOrdered on the driver — the shuffle carries one row per distinct
    token, never per occurrence."""
    toks = (df.select(F.explode(F.split(F.trim(F.lower(F.col(text_col))),
                                        r"\s+")).alias("token"))
            .filter(F.col("token") != ""))
    return (toks.groupBy("token").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("token"))
            .limit(k))


def hash_embed(df: DataFrame, dim: int = 64, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Feature-hashing ("hashing trick") document vectors in sparse form
    — the model-free bridge from raw text into the ANN/embedding family
    (Weinberger et al. 2009, "Feature Hashing for Large Scale Multitask
    Learning"): bucket = h(token) mod dim, value = sum of ±1 signs over
    occurrences. The independent sign bit makes collisions cancel in
    expectation, so inner products between hashed vectors are unbiased
    estimates of the bag-of-words inner product — which is what makes
    the output legitimate input for cosine_topk / rp_topk / knn_join
    without any trained model.

    Engine-exact: bucket and sign both derive from the repo's 60-bit
    md5 integer (bucket = h % dim, sign from bit pattern (h // dim) % 2
    — plain integer arithmetic in both engines). The bucket and sign
    bits are DISJOINT only when ``dim`` is a power of two (then
    bucket = low lg(dim) bits, sign = the next bit); for other dims the
    sign correlates with the bucket and the collisions-cancel-in-
    expectation property weakens, so non-power-of-two dims are rejected
    (ADVICE r4). Returns (id_col, bucket, val LONG) rows; zero-sum
    buckets are kept (both engines agree). One explode + ONE
    map-side-combined groupBy — the shuffle carries at most dim rows
    per doc.
    """
    if dim <= 0 or dim & (dim - 1):
        raise ValueError(
            f"dim={dim} must be a power of two: the sign bit "
            "(h // dim) % 2 is independent of bucket = h % dim only "
            "for power-of-two dims")
    toks = (df.select(F.col(id_col),
                      F.explode(F.split(F.trim(F.lower(F.col(text_col))),
                                        r"\s+")).alias("token"))
            .filter(F.col("token") != ""))
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10) \
         .cast("long")
    # sign bit must not reuse the bucket bits: (h // dim) % 2
    sgn = F.when(F.expr(f"(_h div {dim}) % 2") == 0, F.lit(1)) \
           .otherwise(F.lit(-1))
    return (toks.withColumn("_h", h)
            .withColumn("bucket", F.col("_h") % dim)
            .withColumn("_s", sgn)
            .groupBy(id_col, "bucket")
            .agg(F.sum("_s").cast("long").alias("val")))


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
              k1: float = 1.2, b: float = 0.75, text_col: str = "text",
              id_col: str = "doc_id",
              partial_buckets: int = 32) -> DataFrame:
    """BM25 ranked retrieval: score every document against every query
    and return the per-query top-``k`` — the classic sparse-retrieval
    scorer complementing ``tfidf_topk`` (descriptors) and the ANN kNN
    family (dense retrieval). ``queries`` is ``(query_id long, query
    string)``; tokens are lowercased whitespace splits, matching the
    TF-IDF tokenizer.

    Scoring is the Lucene/Robertson variant::

        idf(t)  = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        s(t, d) = idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Cross-engine determinism: each per-term score is a single double
    expression evaluated in one fixed operation order, scaled to an
    integer micro-score (``round(s*1e6)`` as long) and summed as longs —
    so the per-(query, doc) sum is exact and order-free regardless of
    which engine's aggregation order wins. The final ``score`` divides
    back by 1e6. Ranks tie-break (score desc, doc_id asc).

    Scale shape: one (doc, token) aggregation builds TF; doc lengths
    fold out of it; the document-frequency table is Zipf-small and
    broadcast, as are the query terms and the (N, avgdl) scalar row.
    The only doc-keyed shuffle joins matched postings to doc lengths.
    Top-k is two-phase — a per-(query, doc-hash-bucket) partial rank
    bounds every window partition at matched-postings/buckets, then a
    final per-query rank over <= k*partial_buckets survivors — so no
    single window partition ever holds a full query's posting list.
    Mirrors the ranked-output contract of the reference's scored table
    competition (HybridParser.java:275-322: score, argmax, stable
    tie-break)."""
    t = F.col(text_col)
    toks = (docs.select(F.col(id_col),
                        F.explode(F.split(F.trim(F.regexp_replace(
                            F.lower(t), r"\s+", " ")), " ")).alias("token"))
            .filter(F.col("token") != ""))
    # seam (lazy localCheckpoint — reference-tracked, leak-free unlike
    # .cache()): tf feeds four consumers (dl, dfreq, stats via dl, and
    # the scoring join) — unpersisted, each re-executes the tokenize
    # lineage
    tf = toks.groupBy(id_col, "token").agg(
        F.count("*").cast("long").alias("tf")).localCheckpoint(eager=False)
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("token").agg(F.count("*").cast("long").alias("df_t"))
    stats = dl.agg(F.count("*").cast("long").alias("n_d"),
                   F.avg("dl").alias("avgdl"))
    qterms = (queries.select("query_id",
                             F.explode(F.split(F.trim(F.regexp_replace(
                                 F.lower(F.col("query")), r"\s+", " ")),
                                 " ")).alias("token"))
              .filter(F.col("token") != "").distinct())
    idf = F.log(1.0 + (F.col("n_d") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5))
    denom = (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                 / F.col("avgdl")))
    term_micro = F.round(idf * (F.col("tf") * (k1 + 1.0)) / denom
                         * 1e6).cast("long")
    scored = (tf.join(F.broadcast(qterms), "token")
              .join(dl, id_col)
              .join(F.broadcast(dfreq), "token")
              .crossJoin(F.broadcast(stats))
              .withColumn("term_micro", term_micro)
              .groupBy("query_id", id_col)
              .agg(F.sum("term_micro").alias("micro")))
    bucket = F.pmod(F.crc32(F.col(id_col).cast("string")),
                    F.lit(partial_buckets))
    order = [F.col("micro").desc(), F.col(id_col).asc()]
    w_part = Window.partitionBy("query_id", "bucket").orderBy(*order)
    partial = (scored.withColumn("bucket", bucket)
               .withColumn("prank", F.row_number().over(w_part))
               .filter(F.col("prank") <= k))
    w_final = Window.partitionBy("query_id").orderBy(*order)
    return (partial.withColumn("rank",
                               F.row_number().over(w_final).cast("long"))
            .filter(F.col("rank") <= k)
            .withColumn("score", (F.col("micro") / 1e6).cast("double"))
            .select("query_id", "rank", id_col, "score"))


def pmi_collocations(df: DataFrame, k: int = 20, min_count: int = 5,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide top-``k`` bigram collocations by pointwise mutual
    information — PMI(x,y) = ln(p(xy) / (p(x)p(y))) with p(xy) =
    c_xy/N_bi and p(w) = c_w/N_uni — the classic collocation detector
    (Church & Hanks 1990) used to find multi-word expressions worth
    protecting during tokenization. ``min_count`` drops rare pairs
    (PMI's known bias toward hapax pairs).

    Returns (x, y, pair_count, pmi), ranked pmi desc with ties broken
    (x asc, y asc); pmi is micro-rounded BEFORE ranking so the ranking
    is engine-exact (the tfidf_topk trick). The PMI ratio is a single
    fixed-order double expression over exact integer counts.

    Scale shape: bigram construction is the dedup family's shuffle-free
    arrays_zip-over-shifted-slices; pair/unigram counts are map-side-
    combined aggregations over Zipf-small tables; totals ride a
    broadcast single-row join; top-k is a TakeOrdered (orderBy+limit),
    never a single-partition window."""
    tok_arr = F.split(F.trim(F.regexp_replace(
        F.lower(F.col(text_col)), r"\s+", " ")), " ")
    t = df.select(tok_arr.alias("_t"))
    ln_b = F.greatest(F.size("_t") - 1, F.lit(0))
    z = F.arrays_zip(F.slice("_t", 1, ln_b).alias("x"),
                     F.slice("_t", 2, ln_b).alias("y"))
    bi = (t.select(F.explode(z).alias("_z"))
          .select(F.col("_z.x").alias("x"), F.col("_z.y").alias("y"))
          .filter((F.col("x") != "") & (F.col("y") != "")))
    # seams (lazy localCheckpoint — leak-free): uni feeds totals +
    # both count joins; the bigram stream is aggregated ONCE into
    # pairs_all (Zipf-small), from which both n_bi (sum of group counts
    # == count(*)) and the min_count filter derive — unpersisted, the
    # explode lineage ran twice each
    uni = (t.select(F.explode("_t").alias("tok"))
           .filter(F.col("tok") != "")
           .groupBy("tok").agg(F.count("*").cast("long").alias("c"))
           .localCheckpoint(eager=False))
    pairs_all = (bi.groupBy("x", "y")
                 .agg(F.count("*").cast("long").alias("pair_count"))
                 .localCheckpoint(eager=False))
    pairs = pairs_all.filter(F.col("pair_count") >= min_count)
    totals = (uni.agg(F.sum("c").alias("n_uni"))
              .crossJoin(pairs_all.agg(
                  F.sum("pair_count").cast("long").alias("n_bi"))))
    cx = uni.select(F.col("tok").alias("x"), F.col("c").alias("c_x"))
    cy = uni.select(F.col("tok").alias("y"), F.col("c").alias("c_y"))
    ratio = ((F.col("pair_count").cast("double") * F.col("n_uni")
              * F.col("n_uni"))
             / (F.col("n_bi").cast("double") * F.col("c_x")
                * F.col("c_y")))
    return (pairs.join(F.broadcast(cx), "x").join(F.broadcast(cy), "y")
            .crossJoin(F.broadcast(totals))
            .withColumn("pmi_micro",
                        F.round(F.log(ratio) * 1e6).cast("long"))
            .orderBy(F.col("pmi_micro").desc(), F.col("x").asc(),
                     F.col("y").asc())
            .limit(k)
            .select("x", "y", "pair_count",
                    (F.col("pmi_micro") / 1e6).cast("double")
                    .alias("pmi")))


def tfidf_topk(df: DataFrame, k: int = 5, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-document top-``k`` distinctive keywords by TF-IDF — the
    cheap content descriptor feeding clustering, routing and manual
    corpus triage. ``score = tf * ln(N / df_t)`` with raw in-doc term
    frequency, document-count IDF and natural log; scores round to 6dp
    BEFORE ranking so the (score desc, token asc) order — and therefore
    the kept set — is engine-exact. Returns ``(id, rank, token,
    tfidf)`` rows (``rank`` 1-based long).

    Scale shape: one token aggregation keyed on (id, token) builds the
    TF table; the document-frequency table is one more map-side-combined
    aggregation over its distinct keys and is Zipf-small, broadcast
    back; N rides a broadcast single-row crossJoin; the final top-k is
    a per-doc rank window (id-keyed, bounded by the doc's distinct
    tokens). Nothing global, no text in any shuffle key except the
    token itself."""
    toks = (df.select(F.col(id_col),
                      F.explode(F.split(F.trim(F.regexp_replace(
                          F.lower(F.col(text_col)), r"\s+", " ")),
                          " ")).alias("token"))
            .filter(F.col("token") != ""))
    # seam (lazy localCheckpoint — leak-free): tf feeds dfreq and the
    # scoring join — unpersisted, the tokenize lineage re-executes for
    # each (the bm25_topk pattern)
    tf = toks.groupBy(id_col, "token").agg(
        F.count("*").cast("long").alias("tf")).localCheckpoint(eager=False)
    dfreq = tf.groupBy("token").agg(
        F.count("*").cast("long").alias("df_t"))
    n_docs = df.select(F.countDistinct(id_col).cast("long").alias("n_d"))
    scored = (tf.join(F.broadcast(dfreq), "token")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("tfidf",
                          F.round(F.col("tf")
                                  * F.log(F.col("n_d") / F.col("df_t")),
                                  6)))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select(id_col, "rank", "token", "tfidf"))


# Character classes for char_entropy: lowercase letters, digits, space.
# Everything else (punctuation, unicode, control bytes) pools into one
# "other" bucket — the bucket whose share spikes on base64 blobs,
# minified JS and binary-in-text garbage.
ENTROPY_ALPHABET = list("abcdefghijklmnopqrstuvwxyz0123456789 ")


def char_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document Shannon entropy over a fixed 38-class character
    distribution (a-z after lowercasing, 0-9, space, other) — the
    classic gibberish detector complementing the token-level quality
    scores: natural English sits near 3.0-3.2 nats on these classes,
    base64/hex blobs spike the digit+other share and read high-entropy
    flat, repeated-character spam reads near zero. ``other_ratio`` is
    returned alongside as the direct binary-in-text signal.

    Returns ``(id, n_chars long, other_ratio double, char_entropy
    double)``, both doubles 6dp-rounded; an empty document reads
    (0, 0.0, 0.0).

    Engineered for codegen: per-class counts come from the
    length-difference trick (``length(t) - length(replace(t, c))``) —
    37 literal single-char replaces in ONE projection, no explode, no
    shuffle, composes with scan pruning. The entropy sum is a second
    projection over the count columns in fixed alphabet order (+ other
    last), so the float summation order is identical in the DuckDB
    oracle, which replays the same replaces verbatim. Two chained
    projections keep each generated method far below janino's 64 KB
    limit (the >512-term single-expression trap in CLAUDE.md)."""
    # Each projection is ONE F.expr-parsed SQL string: assembling the
    # 38 replace-counts + 38 entropy terms Column-by-Column costs ~7.5k
    # py4j round-trips (~0.7 s driver time per plan build, on the bench
    # clock); the parsed Catalyst tree is node-for-node identical.
    t = f"lower({sql_ident(text_col)})"
    n = f"CAST(LENGTH({t}) AS BIGINT)"
    cnt_cols = [
        F.expr(f"{n} - CAST(LENGTH(replace({t}, {sql_string(c)})) AS BIGINT)")
        .alias(f"_c{i}")
        for i, c in enumerate(ENTROPY_ALPHABET)]
    proj = df.select(F.col(id_col), F.expr(n).alias("_n"), *cnt_cols)
    known = " + ".join(f"`_c{i}`" for i in range(len(ENTROPY_ALPHABET)))
    proj = proj.withColumn("_other", F.expr(f"`_n` - ({known})"))

    def term(c: str) -> str:
        p = f"(CAST({c} AS DOUBLE) / CAST(`_n` AS DOUBLE))"
        return (f"(CASE WHEN {c} > 0 THEN (- {p}) * ln({p}) "
                f"ELSE 0.0D END)")

    ent = F.expr(" + ".join(
        [term(f"`_c{i}`") for i in range(len(ENTROPY_ALPHABET))]
        + [term("`_other`")]))
    other_ratio = F.expr(
        "CASE WHEN `_n` > 0 THEN CAST(`_other` AS DOUBLE) / "
        "CAST(`_n` AS DOUBLE) ELSE 0.0D END")
    return proj.select(
        F.col(id_col),
        F.col("_n").alias("n_chars"),
        F.round(other_ratio, 6).alias("other_ratio"),
        F.round(ent, 6).alias("char_entropy"))


# BPE symbol-string delimiters (unit/record separators — filtered out of
# input words, so a symbol boundary can never be forged by corpus text)
BPE_D1 = "\x1f"
BPE_D2 = "\x1e"


def bpe_train(df: DataFrame, n_merges: int = 10, text_col: str = "text"
              ) -> DataFrame:
    """Train byte-pair-encoding merges over the corpus — the tokenizer-
    vocabulary induction step of a training pipeline (Sennrich et al.
    2016; GPT-2-style: no end-of-word marker, words are lowercased
    whitespace tokens). Returns the merge table ``(merge_rank long,
    l_sym string, r_sym string, pair_count long)`` — rank r is the
    r-th merge learned; fewer than ``n_merges`` rows come back iff the
    pair space exhausts first.

    Classic BPE is a sequential fold (each merge changes the next
    round's pair counts), but the scalable insight is WHAT it folds
    over: after one corpus pass builds the word-frequency table, every
    round touches only that Zipf-small vocab table — pair counts are
    weighted by word frequency, never by re-reading the corpus. Per
    round: one map-side-combined pair aggregation, one 1-row TakeOrdered
    argmax (count desc, pair asc — deterministic), one broadcast of
    that row back onto the symbol table, one literal replace. ZERO
    driver actions in the loop — the whole training is one lazy plan,
    with a lazy localCheckpoint per round bounding plan depth (each
    round references the previous symbol table twice: pair counts +
    the merge projection — the pagerank 2^rounds lesson).

    Merge semantics: symbols are kept as a delimited string
    (``\\x1f sym \\x1e`` per symbol) so the merge is one literal
    ``replace`` of the pair's encoding — left-to-right non-overlapping,
    which IS greedy BPE merging (verified against a reference fold on
    2,000 random symbol sequences). The DuckDB oracle replays the
    identical representation with chr(31)/chr(30)."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    words = (df.select(F.explode(F.split(F.trim(F.regexp_replace(
                 F.lower(F.col(text_col)), r"\s+", " ")), " "))
                 .alias("word"))
             .filter((F.col("word") != "")
                     & ~F.col("word").contains(BPE_D1)
                     & ~F.col("word").contains(BPE_D2)))
    wc = words.groupBy("word").agg(
        F.count("*").cast("long").alias("cnt")).localCheckpoint(eager=False)
    merges, _ = _bpe_merge_rounds(wc, n_merges, apply_last=False)
    return merges


def _bpe_merge_rounds(wc: DataFrame, n_merges: int, apply_last: bool):
    """Shared BPE training core over a cached (word, cnt) table:
    returns (merge table, final symbol table (word, s, cnt)). With
    ``apply_last`` False the last merge is recorded but not applied —
    bpe_train only needs the merge list; bpe_token_counts needs the
    fully-merged symbols."""
    # initial symbols: every character wrapped as \x1f c \x1e
    syms = wc.select(
        "word",
        F.regexp_replace("word", "(.)", BPE_D1 + "$1" + BPE_D2).alias("s"),
        "cnt")

    merge_rows = []
    for r in range(1, n_merges + 1):
        arr = F.split(F.substring(F.col("s"), 2,
                                  F.length("s") - 2),
                      BPE_D2 + BPE_D1)
        ln = F.size(arr) - 1
        z = F.arrays_zip(F.slice(arr, 1, ln).alias("l"),
                         F.slice(arr, 2, ln).alias("r"))
        pairs = (syms.filter(F.size(arr) >= 2)
                 .select(F.explode(z).alias("_z"), "cnt")
                 .groupBy(F.col("_z.l").alias("l_sym"),
                          F.col("_z.r").alias("r_sym"))
                 .agg(F.sum("cnt").cast("long").alias("pair_count")))
        best = (pairs.orderBy(F.col("pair_count").desc(),
                              F.col("l_sym"), F.col("r_sym"))
                .limit(1)
                .withColumn("merge_rank", F.lit(r).cast("long"))
                .localCheckpoint(eager=False))
        merge_rows.append(best.select("merge_rank", "l_sym", "r_sym",
                                      "pair_count"))
        if r < n_merges or apply_last:
            # left join on TRUE: an exhausted (empty) pair table leaves
            # the symbols unchanged instead of wiping them (crossJoin
            # against an empty 1-row table would return zero rows)
            b = best.select(F.lit(1).alias("_k"), "l_sym", "r_sym")
            pat = F.concat(F.lit(BPE_D1), F.col("l_sym"), F.lit(BPE_D2),
                           F.lit(BPE_D1), F.col("r_sym"), F.lit(BPE_D2))
            rep = F.concat(F.lit(BPE_D1), F.col("l_sym"), F.col("r_sym"),
                           F.lit(BPE_D2))
            syms = (syms.withColumn("_k", F.lit(1))
                    .join(F.broadcast(b), "_k", "left")
                    .select("word",
                            F.when(F.col("l_sym").isNotNull(),
                                   F.replace(F.col("s"), pat, rep))
                            .otherwise(F.col("s")).alias("s"), "cnt")
                    .localCheckpoint(eager=False))
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out, syms


def bpe_token_counts(df: DataFrame, n_merges: int = 10,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document token counts under the corpus's own induced BPE
    vocabulary — the token-budget number the packing/quota/mixture ops
    (pack_sequences, quota_sample, mix_corpora) consume, measured with
    a trained subword tokenizer instead of the whitespace proxy.
    Trains ``n_merges`` merges with :func:`bpe_train`'s core, then
    counts each document's words under the final symbol table:
    ``n_bpe_tokens = sum over words of (occurrences x symbols-per-
    word)``. Returns ``(id, n_words long, n_bpe_tokens long)``; a
    document with no countable words reads (0, 0).

    Scale shape: encoding never touches the corpus text again — the
    per-document word counts (one corpus aggregation) join the trained
    vocab-sized symbol table on word (hash join, Zipf-small build
    side), then one per-document sum. Words containing the \\x1f/\\x1e
    delimiters are excluded from training AND counting (identically in
    the oracle)."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    tok = F.explode(F.split(F.trim(F.regexp_replace(
        F.lower(F.col(text_col)), r"\s+", " ")), " ")).alias("word")
    dw = (df.select(F.col(id_col), tok)
          .filter((F.col("word") != "")
                  & ~F.col("word").contains(BPE_D1)
                  & ~F.col("word").contains(BPE_D2))
          .groupBy(id_col, "word")
          .agg(F.count("*").cast("long").alias("k"))
          .localCheckpoint(eager=False))
    wc = (dw.groupBy("word").agg(F.sum("k").cast("long").alias("cnt"))
          .localCheckpoint(eager=False))
    _, syms = _bpe_merge_rounds(wc, n_merges, apply_last=True)
    n_syms = F.size(F.split(F.substring(F.col("s"), 2,
                                        F.length("s") - 2),
                            BPE_D2 + BPE_D1)).cast("long")
    per_doc = (dw.join(syms.select("word", n_syms.alias("n_syms")),
                       "word")
               .groupBy(id_col)
               .agg(F.sum("k").cast("long").alias("n_words"),
                    F.sum(F.col("k") * F.col("n_syms")).cast("long")
                    .alias("n_bpe_tokens")))
    return (df.select(id_col).distinct()
            .join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_words", F.lit(0)).cast("long")
                    .alias("n_words"),
                    F.coalesce("n_bpe_tokens", F.lit(0)).cast("long")
                    .alias("n_bpe_tokens")))


def bpe_encode(df: DataFrame, n_merges: int = 10,
               text_col: str = "text", id_col: str = "doc_id",
               doc_filter=None) -> DataFrame:
    """Encode documents as ORDERED subword token streams under the
    corpus's own trained BPE — the actual tokenizer-apply step
    (``bpe_train`` learns the merges, :func:`bpe_token_counts` budgets
    with them; this emits the tokens a training run would consume).
    Returns ``(id, wpos, spos, token)``: word position in the document
    (gaps where invalid/empty words were excluded, identically to
    training), symbol position within the word, and the subword string.
    Concatenating tokens over ``spos`` reconstructs each word exactly.

    Scale shape: training is the shared Zipf-small symbol-table fold
    (never re-reads the corpus after the one word-count pass); encoding
    never re-runs merges — each document's word stream hash-joins the
    vocab-sized final symbol table and splits the merged string
    (``doc_filter`` restricts WHICH docs are emitted without changing
    what was trained on — the encode side is a join, so filtering it
    is free while training still sees the full corpus)."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    tok_arr = F.split(F.trim(F.regexp_replace(
        F.lower(F.col(text_col)), r"\s+", " ")), " ")
    stream = (df.select(F.col(id_col),
                        F.posexplode(tok_arr).alias("wpos", "word"))
              .filter((F.col("word") != "")
                      & ~F.col("word").contains(BPE_D1)
                      & ~F.col("word").contains(BPE_D2)))
    wc = (stream.groupBy("word")
          .agg(F.count("*").cast("long").alias("cnt"))
          .localCheckpoint(eager=False))
    _, syms = _bpe_merge_rounds(wc, n_merges, apply_last=True)
    toks = syms.select(
        "word",
        F.split(F.substring(F.col("s"), 2, F.length("s") - 2),
                BPE_D2 + BPE_D1).alias("_t"))
    emitted = stream if doc_filter is None else stream.filter(doc_filter)
    return (emitted.join(toks, "word")
            .select(F.col(id_col), F.col("wpos").cast("long").alias("wpos"),
                    F.posexplode("_t").alias("spos", "token"))
            .select(id_col, "wpos", F.col("spos").cast("long").alias("spos"),
                    "token"))


# ---------------------------------------------------------------------------
# Corpus distribution drift (KL / Jensen-Shannon between two snapshots)
# ---------------------------------------------------------------------------

DRIFT_NANO = 1_000_000_000.0  # per-token term micro-scale (integer-exact sums)


def token_drift(old: DataFrame, new: DataFrame,
                text_col: str = "text", key_cols=()) -> DataFrame:
    """Per-token unigram-distribution drift between two corpus
    snapshots — the monitoring primitive behind "did the recrawl /
    filter stage shift my training mix?". Tokens are lowercase
    whitespace splits (the :func:`vocab_topk` tokenizer); each side's
    counts are add-1 smoothed over the UNION vocabulary so both
    distributions are strictly positive and comparable::

        p_a(t) = (cnt_a + 1) / (tot_a + V)      V = |vocab(a) U vocab(b)|

    Returns one row per union-vocabulary token: ``(keys..., token,
    cnt_a, cnt_b, tot_a, tot_b, vocab, kl_ab_nano, kl_ba_nano,
    js_nano)`` — the KL(a||b), KL(b||a) and Jensen-Shannon divergence
    contributions of the token, scaled by 1e9 and rounded to integers
    (the BM25 micro-score convention: per-term doubles are each ONE
    fixed-order expression of exact integer counts, and everything
    summed downstream is summed as longs, so totals are bit-identical
    across engines and aggregation orders).

    ``key_cols`` computes drift independently per key group (union
    vocab, totals and smoothing all per key) — "WHICH domains
    drifted?", the HLL/CMS keyed-sketch convention. A key present in
    only one snapshot still gets well-defined drift: the other side is
    all-zero counts and smoothing keeps it a proper distribution.

    Scale shape: one token-keyed map-side-combined count per side, a
    full-outer join of the two Zipf-small vocabulary tables (never the
    corpora), and a broadcast totals join (one row per key). At 100 TB
    the token tables are MBs against TBs of text; nothing corpus-sized
    ever shuffles twice.
    """
    keys = list(key_cols)

    def counts(df, alias):
        toks = (df.select(*[F.col(k) for k in keys],
                          F.explode(F.split(F.trim(F.lower(
                              F.col(text_col))), r"\s+")).alias("token"))
                .filter(F.col("token") != ""))
        return toks.groupBy(*keys, "token").agg(
            F.count("*").cast("long").alias(alias))

    return _drift_terms(counts(old, "cnt_a"), counts(new, "cnt_b"), keys)


def counts_drift(a_counts: DataFrame, b_counts: DataFrame,
                 key_cols=()) -> DataFrame:
    """:func:`token_drift` starting from two PRE-AGGREGATED count
    tables ``(keys..., token, cnt)`` — the artifact workflow: persist
    each snapshot's Zipf-small vocabulary counts once (they are MBs
    against TBs of text, and fold across shards by summing ``cnt``),
    then compute drift between any two snapshots later WITHOUT
    re-tokenizing the corpora. Identical output columns and identical
    values to :func:`token_drift` over the original text."""
    keys = list(key_cols)
    a = a_counts.select(*keys, "token",
                        F.col("cnt").cast("long").alias("cnt_a"))
    b = b_counts.select(*keys, "token",
                        F.col("cnt").cast("long").alias("cnt_b"))
    return _drift_terms(a, b, keys)


def _drift_terms(a: DataFrame, b: DataFrame, keys: list) -> DataFrame:
    """Shared drift core over two count tables carrying ``cnt_a`` /
    ``cnt_b``: union-vocab full-outer join, per-key totals, smoothed
    per-token nano terms (see :func:`token_drift` for the math)."""
    # seam (lazy localCheckpoint — leak-free): the vocab table feeds
    # the totals agg AND the per-token projection — unpersisted, the
    # tokenize+count of BOTH corpora executes twice (the
    # unigram_logprob seam rule)
    joined = (a.join(b, [*keys, "token"], "full_outer")
              .select(*keys, "token",
                      F.coalesce("cnt_a", F.lit(0)).cast("long")
                      .alias("cnt_a"),
                      F.coalesce("cnt_b", F.lit(0)).cast("long")
                      .alias("cnt_b"))
              .localCheckpoint(eager=False))
    stats = joined.groupBy(*keys).agg(
        F.sum("cnt_a").cast("long").alias("tot_a"),
        F.sum("cnt_b").cast("long").alias("tot_b"),
        F.count("*").cast("long").alias("vocab"))
    j = (joined.join(F.broadcast(stats), keys) if keys
         else joined.crossJoin(F.broadcast(stats)))
    p_a = ((F.col("cnt_a") + F.lit(1)).cast("double")
           / (F.col("tot_a") + F.col("vocab")).cast("double"))
    p_b = ((F.col("cnt_b") + F.lit(1)).cast("double")
           / (F.col("tot_b") + F.col("vocab")).cast("double"))
    m = (p_a + p_b) / F.lit(2.0)
    nano = F.lit(DRIFT_NANO)
    return j.select(
        *keys, "token", "cnt_a", "cnt_b", "tot_a", "tot_b", "vocab",
        F.round((p_a * F.log(p_a / p_b)) * nano).cast("long")
        .alias("kl_ab_nano"),
        F.round((p_b * F.log(p_b / p_a)) * nano).cast("long")
        .alias("kl_ba_nano"),
        F.round((F.lit(0.5) * (p_a * F.log(p_a / m)
                               + p_b * F.log(p_b / m))) * nano)
        .cast("long").alias("js_nano"))


def distribution_divergence(old: DataFrame, new: DataFrame,
                            text_col: str = "text",
                            key_cols=()) -> DataFrame:
    """Corpus-drift summary from :func:`token_drift` — one row per key
    group (one row total without ``key_cols``): ``(keys..., vocab,
    tot_a, tot_b, kl_ab, kl_ba, js)`` — the divergences in nats, 6dp.
    Sums are exact long sums of the per-token nano terms (order-free),
    divided back by 1e9 only at the end; ``js`` is bounded by ln(2)
    and is the number to alert on between crawl snapshots or
    before/after a filter stage."""
    return _divergence_summary(
        token_drift(old, new, text_col, key_cols), list(key_cols))


def counts_divergence(a_counts: DataFrame, b_counts: DataFrame,
                      key_cols=()) -> DataFrame:
    """:func:`distribution_divergence` starting from two
    pre-aggregated ``(keys..., token, cnt)`` tables (see
    :func:`counts_drift`): the persisted-artifact / streaming-window
    path to the same per-key ``(vocab, tot_a, tot_b, kl_ab, kl_ba,
    js)`` summary."""
    return _divergence_summary(
        counts_drift(a_counts, b_counts, key_cols), list(key_cols))


def _divergence_summary(d: DataFrame, keys: list) -> DataFrame:
    return (d.groupBy(*keys)
            .agg(F.max("vocab").alias("vocab"),
                 F.max("tot_a").alias("tot_a"),
                 F.max("tot_b").alias("tot_b"),
                 F.sum("kl_ab_nano").alias("_ka"),
                 F.sum("kl_ba_nano").alias("_kb"),
                 F.sum("js_nano").alias("_js"))
            .select(*keys, "vocab", "tot_a", "tot_b",
                    F.round(F.col("_ka") / F.lit(DRIFT_NANO), 6)
                    .alias("kl_ab"),
                    F.round(F.col("_kb") / F.lit(DRIFT_NANO), 6)
                    .alias("kl_ba"),
                    F.round(F.col("_js") / F.lit(DRIFT_NANO), 6)
                    .alias("js")))
