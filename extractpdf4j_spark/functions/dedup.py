"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard,
plus the composed passes a curation pipeline actually runs: fuzzy_dedup
(batch near-dup removal), fuzzy_dedup_against_corpus (incremental
ingest), remove_duplicate_ngrams (cross-doc exact substring dedup).

All hot paths are JVM-side expressions (split/transform/md5/conv/bitwise →
whole-stage codegen); there is no Python in any per-row path. Hashing is
md5-based so results are deterministic across engines (the DuckDB oracles
in entry_queries reuse the same construction).

Scale notes (100 TB):
* signatures are one map-side-combinable aggregation per document,
* candidate generation is an equi-join on (band_id, band_value) — skewed
  bands (e.g. the empty-document signature) are the classic hot key; we
  drop buckets larger than ``max_bucket`` the way production dedup
  pipelines cap posting lists,
* pair verification joins are on doc_id (unique) — broadcast the
  signature table when small, sort-merge otherwise (left to AQE).
"""

from __future__ import annotations

import hashlib
import warnings

from pyspark.sql import DataFrame, Window, functions as F

# ---------------------------------------------------------------------------
# Tokenize / shingle
# ---------------------------------------------------------------------------


def _tokens(text_col):
    return F.split(F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " ")), " ")


def _hash60(col):
    """Portable 60-bit hash: first 15 hex chars of md5 → BIGINT. 60 bits
    keeps the value positive in a signed int64 on both engines (DuckDB
    mirrors it as ('0x' || substring(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _gram_rows(df: DataFrame, text_col: str, id_col: str, n: int):
    """(id_col, _pos, sh) shingle rows with NO shuffle: the token array is
    zipped against its own n-1 shifted slices (arrays_zip + slice are
    plain codegen expressions, not interpreted HOF lambdas), so shingles
    materialize inside the scan partition. The earlier posexplode+window
    formulation forced an exchange of every token row just to read the
    next n-1 tokens — the largest avoidable shuffle in the dedup family
    at scale. Boundary semantics match the DuckDB oracle: indices
    0..max(len-n, 0); missing trailing tokens drop out of concat_ws, so
    sub-n-token docs yield one partial shingle."""
    toks = _tokens(F.col(text_col))
    t = df.select(F.col(id_col), toks.alias("_t"))
    zipped = F.arrays_zip(
        F.col("_t").alias("g0"),
        *[F.slice(F.col("_t"), j + 1,
                  F.greatest(F.size("_t") - j, F.lit(1))).alias(f"g{j}")
          for j in range(1, n)])
    t = t.select(F.col(id_col), F.size("_t").alias("_ntok"),
                 F.posexplode(zipped).alias("_pos", "_z"))
    gram = F.concat_ws(" ", *[F.col(f"_z.g{j}") for j in range(n)])
    return (t.select(F.col(id_col), "_pos", "_ntok", gram.alias("sh"))
            .filter(F.col("_pos") <= F.greatest(F.col("_ntok") - n, F.lit(0)))
            .filter(F.col("sh") != ""))


def shingle_rows(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles as rows (id_col, sh)."""
    return _gram_rows(df, text_col, id_col, n).select(id_col, "sh").distinct()


def shingle_hash_rows(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct 60-bit shingle hashes as rows (id_col, shash BIGINT).

    The scale path: the distinct and every downstream shuffle/join move
    8-byte ints instead of ~30-byte shingle strings (~4x fewer shuffle
    bytes). Collisions at 60 bits are ~N²/2⁶¹ — irrelevant below ~10⁹
    distinct shingles per doc pair, and the DuckDB oracle hashes
    identically so the gate stays exact."""
    g = _gram_rows(df, text_col, id_col, n)
    return (g.select(F.col(id_col), _hash60(F.col("sh")).alias("shash"))
            .distinct())


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def normalized_text_hash(text_col):
    """md5 of lowercased whitespace-collapsed trimmed text — THE
    exact-dedup normalization, defined once: the batch paths
    (exact_duplicates, dedup_keep_one), the streaming path
    (streaming.stream_exact_dedup) and the DuckDB oracles
    (q_dedup_exact / q_dedup_keep) must stay hash-identical, so all of
    them route through this expression."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " ")))


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup on whitespace-normalized text.
    Returns (text_hash, n_docs, keeper_doc_id) for groups with >1 doc."""
    norm = normalized_text_hash(F.col(text_col))
    return (df.select(F.col(id_col), norm.alias("text_hash"))
            .groupBy("text_hash")
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("keeper_doc_id"))
            .filter(F.col("n_docs") > 1))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def minhash_coeffs(k: int, seed: int = 1) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the mod-p linear minhash family —
    md5-derived at plan-build time so Spark and the DuckDB oracles inline
    identical constants."""
    out = []
    for i in range(k):
        h = hashlib.md5(f"mh:{seed}:{i}".encode()).hexdigest()
        out.append((int(h[:8], 16) % (MINHASH_P - 1) + 1,
                    int(h[8:16], 16) % MINHASH_P))
    return out


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 8,
                       shingle_n: int = 3) -> DataFrame:
    """k-component MinHash signature per document (BIGINT components).

    Component i = min over shingle hashes of the mod-p linear function
    (a_i·(shash mod p) + b_i) mod p, p = 2^31−1 — pure integer codegen
    (a_i < 2^31 and shash mod p < 2^31 keep the product inside int64),
    one groupBy with k min() aggregates (map-side partial aggregation, a
    single pass over the exploded shingle hashes). Earlier construction
    md5-hashed an 'i:shash' STRING per component — k string builds + k
    md5s per shingle; at 10^12 docs that is ~10^16 avoidable md5 calls.
    Components are 8-byte longs, so the signature shuffle and every band
    join downstream move ~4x fewer bytes than hex strings.
    """
    sh = shingle_hash_rows(df, text_col, id_col, shingle_n)
    x = F.col("shash") % MINHASH_P
    aggs = [F.min((F.lit(a) * x + F.lit(b)) % MINHASH_P).alias(f"h{i}")
            for i, (a, b) in enumerate(minhash_coeffs(k))]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        k: int = 8, bands: int = 4,
                        max_bucket: int | None = 1000) -> DataFrame:
    """Band the signatures and emit candidate pairs (a < b) sharing any
    band. Buckets larger than ``max_bucket`` are dropped (hot-key guard);
    pass ``max_bucket=None`` for exhaustive pairs (the correctness-gate
    paths do, so the DuckDB oracles need no cap clause)."""
    banded = _banded_sigs(sigs, id_col, k, bands)
    if max_bucket is not None:
        sized = (banded.groupBy("band_id", "band_val")
                 .agg(F.count("*").alias("bucket_n")))
        banded = (banded.join(sized, ["band_id", "band_val"])
                  .filter(F.col("bucket_n") <= max_bucket))
    a = banded.select(F.col("band_id"), F.col("band_val"),
                      F.col(id_col).alias("a"))
    b = banded.select(F.col("band_id"), F.col("band_val"),
                      F.col(id_col).alias("b"))
    return (a.join(b, ["band_id", "band_val"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())


def minhash_duplicates(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 8, bands: int = 4,
                       threshold: float = 0.8,
                       max_bucket: int | None = 1000) -> DataFrame:
    """Near-duplicate pairs with estimated Jaccard >= threshold.
    Estimate = fraction of equal signature components."""
    # localCheckpoint, NOT .cache(): a .cache() here is never
    # unpersisted, so every invocation leaks a pinned table in executor
    # storage (the bench protocol runs each gate twice back-to-back —
    # ADVICE r4). Checkpoint blocks are reference-tracked and reclaimed
    # by the ContextCleaner once the result DataFrame is GC'd. LAZY
    # (eager=False): the first consumer materializes it inside its own
    # job — .cache()'s execution shape without the leak (eager=True
    # measured ~1.5x slower on this family: a separate materialization
    # job ahead of every consumer).
    sigs = minhash_signatures(df, text_col, id_col, k)\
        .localCheckpoint(eager=False)
    pairs = lsh_candidate_pairs(sigs, id_col, k, bands, max_bucket)
    sa = sigs.select(F.col(id_col).alias("a"),
                     *[F.col(f"h{i}").alias(f"a_h{i}") for i in range(k)])
    sb = sigs.select(F.col(id_col).alias("b"),
                     *[F.col(f"h{i}").alias(f"b_h{i}") for i in range(k)])
    j = pairs.join(sa, "a").join(sb, "b")
    eq = sum((F.col(f"a_h{i}") == F.col(f"b_h{i}")).cast("int")
             for i in range(k))
    return (j.select("a", "b", (eq / float(k)).alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= threshold))


# ---------------------------------------------------------------------------
# n-gram Jaccard verification
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        shingle_n: int = 3) -> DataFrame:
    """True n-gram Jaccard for candidate pairs: |A∩B| / |A∪B| computed by
    equi-joining the exploded distinct-shingle-hash rows (all codegen) —
    |A∪B| = |A| + |B| - |A∩B|. Joining on 60-bit hashes instead of
    shingle strings cuts the intersection join's shuffle ~4x; the DuckDB
    oracle hashes identically."""
    # localCheckpoint, not .cache() — see minhash_pairs (storage leak)
    sh = shingle_hash_rows(df, text_col, id_col, shingle_n)\
        .localCheckpoint(eager=False)
    counts = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    sa = sh.select(F.col(id_col).alias("a"), F.col("shash").alias("s"))
    sb = sh.select(F.col(id_col).alias("b"), F.col("shash").alias("s"))
    inter = (pairs.join(sa, "a").join(sb, ["b", "s"])
             .groupBy("a", "b").agg(F.count("*").alias("ninter")))
    ca = counts.select(F.col(id_col).alias("a"), F.col("n").alias("na"))
    cb = counts.select(F.col(id_col).alias("b"), F.col("n").alias("nb"))
    j = (pairs.join(ca, "a").join(cb, "b")
         .join(inter, ["a", "b"], "left")
         .withColumn("ninter", F.coalesce(F.col("ninter"), F.lit(0))))
    union = F.col("na") + F.col("nb") - F.col("ninter")
    jac = F.when(union > 0, F.col("ninter") / union).otherwise(F.lit(0.0))
    return j.select("a", "b", F.round(jac, 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# n-gram containment (Broder's asymmetric resemblance)
# ---------------------------------------------------------------------------

def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", shingle_n: int = 3,
                      max_df: int | None = 20,
                      min_containment: float = 0.5) -> DataFrame:
    """Subset-document discovery: pairs where one doc's shingle set is
    (mostly) CONTAINED in the other's — Broder's containment
    c(A,B) = |A∩B| / |A|. The case Jaccard-based near-dup misses: a
    short article quoted whole inside a long page has c≈1 but Jaccard
    ≈ |A|/|B| ≈ 0, so MinHash banding tuned for J≥0.7 never pairs them.

    Two stages, both bounded:
      1. CANDIDATES — docs sharing ≥1 *rare* shingle (doc frequency ≤
         ``max_df``). The DF prune caps the self-join fan-out: a shingle
         in d docs contributes d(d-1)/2 candidate rows, so without it a
         universal shingle ("terms of service") would go quadratic in
         the corpus. Containment pairs by definition share MANY
         shingles, so requiring one rare shared shingle loses nothing
         real (a contained doc whose every shingle is in >max_df docs is
         itself boilerplate — the boilerplate family's job, not this
         one's).
      2. EXACT verify — |A∩B| over the FULL shingle sets for candidate
         pairs only (the prune never biases the reported fraction).

    The verify is computed as a df-split sum, never by re-joining the
    candidate pairs against the full shingle table: rare (df ≤ max_df)
    and common (df > max_df) shingles partition each doc's DISTINCT
    shingle set, so |A∩B| = |A∩B ∩ rare| + |A∩B ∩ common| EXACTLY.
    The rare term falls out of the candidate self-join itself (count
    per (a,b) instead of distinct — the same shuffle stage-1 already
    pays); the common term joins the pairs against only the common-
    shingle occurrences, which the df prune guarantees is the SMALL
    residue of the corpus (every shingle that would make this join
    big is by definition rare and already counted). Measured at sf0.1
    (5k docs, 1.12M candidate pairs): 14.6 s → ~6 s, with the old
    cand×full-table×2 join (13 s) collapsing to a 1.3k-row broadcast.

    Returns (a, b, na, nb, ninter, cont_a, cont_b) with a < b,
    cont_x = ninter / nx rounded 6dp, filtered to
    max(cont_a, cont_b) ≥ ``min_containment`` — the larger fraction
    belongs to the CONTAINED (smaller) side.

    At 100 TB: everything joins on 60-bit int shingle hashes; stage-1's
    shuffle is the pruned shingle table, stage-2's is candidates ×
    shared COMMON occurrences only. ``max_df`` is the knob that bounds
    both (worst case — boilerplate-heavy corpora where common
    occurrences are plentiful — degrades toward the old full-table
    join, never past it).
    """
    # localCheckpoint, not .cache() — see minhash_pairs (storage leak);
    # the shingle table has 3 consumers (counts / dfreq split /
    # candidate join) so it must still materialize exactly once
    sh = shingle_hash_rows(df, text_col, id_col, shingle_n)\
        .localCheckpoint(eager=False)
    counts = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    if max_df is not None:
        dfreq = sh.groupBy("shash").agg(F.count("*").alias("df"))
        seed = sh.join(dfreq.filter(F.col("df") <= max_df)
                       .select("shash"), "shash")
        common = sh.join(dfreq.filter(F.col("df") > max_df)
                         .select("shash"), "shash")
    else:
        seed, common = sh, None
    # stage 1 + the rare half of stage 2 in one shuffle: candidate
    # pairs keyed (a, b) with their shared-RARE-shingle count
    pairs_rare = (seed.select(F.col(id_col).alias("a"), "shash")
                  .join(seed.select(F.col(id_col).alias("b"), "shash"),
                        "shash")
                  .filter(F.col("a") < F.col("b"))
                  .groupBy("a", "b").agg(F.count("*").alias("_nrare")))
    if common is not None:
        ca_ = common.select(F.col(id_col).alias("a"),
                            F.col("shash").alias("s"))
        cb_ = common.select(F.col(id_col).alias("b"),
                            F.col("shash").alias("s"))
        ncommon = (pairs_rare.select("a", "b")
                   .join(ca_, "a").join(cb_, ["b", "s"])
                   .groupBy("a", "b").agg(F.count("*").alias("_ncommon")))
        inter = (pairs_rare.join(ncommon, ["a", "b"], "left")
                 .select("a", "b",
                         (F.col("_nrare")
                          + F.coalesce(F.col("_ncommon"), F.lit(0)))
                         .alias("ninter")))
    else:
        inter = pairs_rare.withColumnRenamed("_nrare", "ninter")
    ca = counts.select(F.col(id_col).alias("a"), F.col("n").alias("na"))
    cb = counts.select(F.col(id_col).alias("b"), F.col("n").alias("nb"))
    out = (inter.join(ca, "a").join(cb, "b")
           .withColumn("cont_a", F.round(F.col("ninter") / F.col("na"), 6))
           .withColumn("cont_b", F.round(F.col("ninter") / F.col("nb"), 6))
           .filter(F.greatest("cont_a", "cont_b") >= min_containment))
    return out.select("a", "b", "na", "nb", "ninter", "cont_a", "cont_b")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document, entirely in JVM expressions.

    Token hash = md5 hex; two 32-bit halves via conv(hex,16,10). Per bit
    position the classic ±1 vote sum, sign → bit. The 64 votes are 64
    codegen'd aggregate expressions in ONE groupBy pass (no Python).
    Returns (doc_id, simhash_hi, simhash_lo) as two unsigned 32-bit
    values stored in longs.
    """
    toks = (df.select(F.col(id_col), F.explode(_tokens(F.col(text_col)))
                      .alias("tok"))
            .filter(F.col("tok") != ""))
    h = F.md5(F.col("tok"))
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    toks = toks.select(id_col, hi.alias("hi"), lo.alias("lo"))
    # one F.expr per vote / per half: the Column-by-Column build costs
    # ~8k py4j round-trips (~0.9 s driver time per plan, on the bench
    # clock); parsed trees are node-for-node identical
    votes = []
    for j in range(32):
        votes.append(F.expr(f"sum((shiftright(`hi`, {j}) & 1) * 2 - 1)")
                     .alias(f"v_hi_{j}"))
        votes.append(F.expr(f"sum((shiftright(`lo`, {j}) & 1) * 2 - 1)")
                     .alias(f"v_lo_{j}"))
    agg = toks.groupBy(id_col).agg(*votes)
    sim_hi = F.expr("0 + " + " + ".join(
        f"CAST(`v_hi_{j}` >= 0 AS BIGINT) * {1 << j}" for j in range(32)))
    sim_lo = F.expr("0 + " + " + ".join(
        f"CAST(`v_lo_{j}` >= 0 AS BIGINT) * {1 << j}" for j in range(32)))
    return agg.select(F.col(id_col), sim_hi.alias("simhash_hi"),
                      sim_lo.alias("simhash_lo"))


def simhash_duplicates(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       max_hamming: int = 6,
                       max_bucket: int = 200) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance.

    Candidate generation bands the 64 bits into four 16-bit keys (any
    pair within Hamming<=3 shares at least one exact band by
    pigeonhole; recall decays gracefully up to ``max_hamming``);
    verification uses bit_count(xor) on both halves.

    Scale shape (same restructure as ``multimodal.dhash_pairs``): each
    band row CARRIES the two signature halves (16 bytes), so the exact
    distance is computed inline on the self-join output instead of
    joining the pair set back to the signature table twice — ONE band
    shuffle + ONE pair groupBy, and no ``.cache()`` (the signature
    lineage has a single consumer). ``max_bucket`` caps rows per
    (band, value) bucket: web corpora concentrate degenerate signatures
    (the all-zero simhash of empty/boilerplate-only docs), and an
    uncapped hot bucket is a quadratic task. 16-bit bands hold ~N/65k
    rows per bucket, so the cap only fires on those degenerate keys
    below ~13M docs; size it with the corpus (see the dhash_pairs
    200k-image probe in BENCH/BASELINE.md for the measured failure mode
    of letting buckets saturate a cap)."""
    sims = simhash64(df, text_col, id_col)
    bands = [
        F.col("simhash_hi").bitwiseAND(F.lit(0xFFFF)),
        F.shiftright("simhash_hi", 16).bitwiseAND(F.lit(0xFFFF)),
        F.col("simhash_lo").bitwiseAND(F.lit(0xFFFF)),
        F.shiftright("simhash_lo", 16).bitwiseAND(F.lit(0xFFFF)),
    ]
    banded = sims.select(
        F.col(id_col), "simhash_hi", "simhash_lo",
        F.posexplode(F.array(*bands)).alias("band_id", "band_val"))
    if max_bucket:
        w = Window.partitionBy("band_id", "band_val").orderBy(id_col)
        banded = (banded.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= max_bucket).drop("_rn"))
    j = (banded.alias("x")
         .join(banded.alias("y"),
               (F.col("x.band_id") == F.col("y.band_id"))
               & (F.col("x.band_val") == F.col("y.band_val"))
               & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))))
    ham = (F.bit_count(F.col("x.simhash_hi")
                       .bitwiseXOR(F.col("y.simhash_hi")))
           + F.bit_count(F.col("x.simhash_lo")
                         .bitwiseXOR(F.col("y.simhash_lo"))))
    return (j.select(F.col(f"x.{id_col}").alias("a"),
                     F.col(f"y.{id_col}").alias("b"),
                     ham.cast("long").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .groupBy("a", "b")
            .agg(F.first("hamming").alias("hamming")))


# ---------------------------------------------------------------------------
# Duplicate clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

def duplicate_clusters(pairs: DataFrame, a_col: str = "a", b_col: str = "b",
                       max_iter: int = 15,
                       check_every: int = 1,
                       num_partitions: int | None = None,
                       algorithm: str = "propagate") -> DataFrame:
    """Connected components over a near-duplicate pair list — the step
    that turns pairwise matches into keep-one-per-cluster decisions in a
    production dedup pipeline. Returns (node, cluster) where cluster is
    the minimum member id of the component.

    Min-label propagation: each round is one equi-join (edges × labels)
    plus a min-aggregation, i.e. a single hash shuffle on the node id;
    rounds needed = component diameter, and LSH candidate graphs are
    near-cliques, so 2-4 in practice. ``localCheckpoint`` truncates plan
    lineage between rounds (iterative DataFrame plans otherwise grow
    exponentially). The old label rides through the same min-aggregation
    (``own`` column), so the convergence check is a filter-count over the
    freshly checkpointed round output — no extra join, no extra shuffle.

    ``check_every`` is the budget-rounds knob for production scale: the
    convergence count is a driver action (a full job submission per
    round), so at 100 TB run ``check_every=N`` (count every Nth round)
    or ``check_every >= max_iter`` (pure fixed-round budget: the count
    runs only on the final round, solely to warn on non-convergence).
    Default 1 preserves the check-every-round behavior the gate pins.

    ``num_partitions`` sizes the per-round shuffles (joins/aggs follow
    the session's ``spark.sql.shuffle.partitions``, which is set and
    restored around the loop). The standard iterative-graph tuning
    lever: the pair graph is usually orders of magnitude smaller than
    the corpus, and per-stage task-scheduling overhead dominates each
    round when the session partitioning is sized for corpus-scale
    scans. None = leave the session setting untouched.

    ``algorithm`` selects the round kernel:

    * ``"propagate"`` (default, the gate-pinned behavior): plain
      min-label propagation — rounds needed = component DIAMETER.
      Right for LSH candidate graphs, which are near-cliques (2-4
      rounds).
    * ``"doubling"``: each round adds a pointer-jump step
      (``label <- label[label]``, one extra self-join on the label
      table), so the distance every node's label has travelled toward
      the component minimum roughly doubles per round — rounds needed
      = O(log diameter). The 100 TB lever when components CHAIN
      (perceptual-hash graphs, crawl host graphs): a diameter-1000
      path converges in ~11 rounds instead of 1000. Per round it costs
      3 shuffles vs propagate's 2, so it loses on near-cliques and
      wins from diameter ~6 up. Output is identical: labels only ever
      decrease, stay inside the component, and keep ``label[x] <= x``
      (the jump lands on ``label_old[m] <= m`` for ``m = label[x]``),
      so the unique fixpoint is still the component minimum.
    """
    if algorithm not in ("propagate", "doubling"):
        raise ValueError(
            f"algorithm must be 'propagate' or 'doubling', got {algorithm!r}")
    edges = (pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
             .union(pairs.select(F.col(b_col).alias("u"),
                                 F.col(a_col).alias("v"))))
    spark = pairs.sparkSession
    prev_sp = None
    if num_partitions is not None:
        prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    try:
        return _min_labels(edges, max_iter, check_every,
                           doubling=algorithm == "doubling")
    finally:
        if prev_sp is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


def _min_labels(edges: DataFrame, max_iter: int, check_every: int,
                doubling: bool) -> DataFrame:
    """The connected-components round loop: min-label propagation, plus
    one pointer-jump join per round when ``doubling``."""
    # checkpoint the edge list BEFORE iterating: without this every round
    # re-executes the upstream pair-generation pipeline (its lineage),
    # not just the propagation join. Lazy: the eager labels checkpoint
    # below computes through it and persists both in ONE job.
    edges = edges.localCheckpoint(eager=False)
    labels = (edges.select("u").distinct()
              .select(F.col("u").alias("node"), F.col("u").alias("label")))
    labels = labels.localCheckpoint(eager=True)
    label_t = labels.schema["label"].dataType
    changed = None
    for it in range(max_iter):
        nbr = (edges.join(labels, edges["v"] == labels["node"])
               .select(edges["u"].alias("node"),
                       F.col("label").alias("cand"),
                       F.lit(None).cast(label_t).alias("own")))
        own = labels.select("node", F.col("label").alias("cand"),
                            F.col("label").alias("own"))
        new = (own.unionByName(nbr)
               .groupBy("node").agg(F.min("cand").alias("label"),
                                    F.min("own").alias("own")))
        if doubling:
            # Pointer jump through the PREVIOUS round's checkpointed
            # labels (label <- labels_prev[min_cand]): a self-join on the
            # fresh aggregation would execute the union+groupBy TWICE per
            # round (measured: 4 HashAggregates, zero ReusedExchange),
            # while labels_prev is a checkpointed scan. Jumping through
            # one-round-older pointers is still logarithmic (chain-99
            # converges in 8 rounds, chain-500 in 10). Every label is a
            # node id, so the join is total (left join + coalesce is
            # belt-and-braces); labels only decrease and stay
            # in-component, so the fixpoint is still the component min.
            prev = labels.select(F.col("node").alias("_pn"),
                                 F.col("label").alias("_pl"))
            new = (new.join(prev, new["label"] == prev["_pn"], "left")
                   .select(new["node"],
                           F.coalesce(F.col("_pl"), new["label"])
                           .alias("label"),
                           new["own"]))
        # every node has exactly one non-null own row, so own == the
        # previous label. On counted rounds the checkpoint is LAZY: the
        # convergence count is the job that materializes it, so the
        # round costs ONE driver job, not an eager-materialize job plus
        # the count (measured: halves per-round jobs, identical rows).
        # On budget rounds (check_every > 1) there is no count, so the
        # checkpoint must be eager to keep each round materialized
        # before the next builds on it; changed stays None = unknown.
        # The final round always counts so the non-convergence warning
        # stays live.
        will_check = (it + 1) % check_every == 0 or it == max_iter - 1
        new = new.localCheckpoint(eager=not will_check)
        if will_check:
            changed = new.filter(F.col("label") != F.col("own")).count()
        else:
            changed = None
        labels = new.select("node", "label")
        if changed == 0:
            break
    if changed is not None and changed > 0:
        warnings.warn(
            f"duplicate_clusters: stopped at max_iter={max_iter} while the "
            f"final round still changed {changed} labels — convergence is "
            "NOT confirmed and long-chain components may carry non-minimal "
            "labels; raise max_iter to verify",
            RuntimeWarning, stacklevel=2)
    return labels.select("node", F.col("label").alias("cluster"))


def dedup_against_corpus(new_df: DataFrame, corpus_df: DataFrame,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Incremental exact dedup: drop new-batch documents whose
    normalized text already exists in the reference corpus, then
    keep-one within the batch itself (a batch can carry its own dups).

    The daily-ingest pattern at 100 TB: the corpus side reduces to its
    DISTINCT hash set before the anti-join (8-byte md5-derived keys, no
    text crosses the exchange); in production that hash set is a
    materialized table maintained incrementally, so each ingest costs
    one anti-join + one window over the batch only — the corpus is
    never rescanned."""
    seen = (corpus_df
            .select(normalized_text_hash(F.col(text_col)).alias("_th"))
            .distinct())
    staged = new_df.withColumn("_th", normalized_text_hash(F.col(text_col)))
    fresh = staged.join(seen, "_th", "left_anti")
    return _keep_one_hashed(fresh, id_col)


def _keep_one_hashed(df: DataFrame, id_col: str,
                     prefer_cols=()) -> DataFrame:
    """Keep-one tail shared by dedup_keep_one and dedup_against_corpus:
    one row per precomputed ``_th`` hash column, ordered by the
    optional ``prefer_cols`` (Column expressions, e.g. a quality score
    descending) then min-``id`` as the deterministic final tie-break
    (the ONE copy of the tie-break rule), dropping the helpers."""
    w = Window.partitionBy("_th").orderBy(*prefer_cols, id_col)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_th", "_rn"))


def dedup_keep_one(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   prefer_cols=()) -> DataFrame:
    """Materialize the deduplicated corpus: exactly one row per
    normalized text hash — the endpoint :func:`exact_duplicates`
    reports on. ``prefer_cols`` (Column expressions evaluated on the
    input row, e.g. ``[F.col("quality").desc()]`` or
    ``[F.length("text").desc()]``) picks WHICH duplicate survives —
    the curation-relevant choice when duplicates differ in extraction
    quality or completeness; ``id_col`` ascending always breaks the
    remaining ties, so the keeper stays deterministic. Default (no
    preference) keeps the minimum id, unchanged.

    One shuffle (window over the hash) and no join: at 100 TB the
    row_number window beats groupBy-keepers + self-join because the
    payload columns never cross a second exchange."""
    norm = normalized_text_hash(F.col(text_col))
    return _keep_one_hashed(df.withColumn("_th", norm), id_col,
                            prefer_cols)


def fuzzy_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", k: int = 8, bands: int = 4,
                shingle_n: int = 3, jaccard_threshold: float = 0.8,
                max_bucket: int | None = 1000, max_iter: int = 15,
                check_every: int = 1,
                num_partitions: int | None = None,
                sigs: DataFrame | None = None) -> DataFrame:
    """Near-duplicate REMOVAL, end to end: the composed fuzzy-dedup
    pass a web-scale curation pipeline actually runs (FineWeb/RefinedWeb
    style). Signatures → LSH candidate pairs → exact n-gram Jaccard
    verification → connected components → keep the minimum ``id_col``
    per cluster; returns the surviving corpus rows (all input columns).

    Every stage is one of this module's individually-gated operators, so
    the composition adds no new shuffle pattern: the corpus is scanned
    twice (signatures + verification shingles), candidate generation is
    banded equi-joins (never all-pairs), verification is an integer-hash
    equi-join restricted to candidates, clustering is min-label
    propagation over the verified pair graph (tiny next to the corpus —
    size its rounds with ``num_partitions``), and the final removal is a
    broadcast-friendly left_anti join on ``id_col`` (the drop set is
    bounded by the duplicate count, not the corpus). Verification
    happens BEFORE clustering so an LSH false positive can never bridge
    two unrelated clusters — at 100 TB a single bad edge merges millions
    of documents into one keep-one group.

    ``sigs`` lets a caller that already materialized the MinHash
    signature table for ``df`` (same ``k``/``shingle_n``) pass it in —
    signatures are per-document, so an upstream phase's table restricted
    to ``df``'s ids is exact. At 100 TB this saves a full corpus
    re-shingle (see :func:`fuzzy_dedup_against_corpus`).
    """
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, k, shingle_n)
    # Truncate at the two candidate-set seams: both are bounded by the
    # candidate count (tiny next to the corpus), and every downstream
    # stage re-reads its input lineage — without the barriers the
    # signature/banding scan executes once per consumer (verification
    # join, verification counts, clustering seed) instead of once.
    pairs = (lsh_candidate_pairs(sigs, id_col, k, bands, max_bucket)
             .localCheckpoint(eager=False))
    verified = (ngram_jaccard_pairs(df, pairs, text_col, id_col, shingle_n)
                .filter(F.col("jaccard") >= jaccard_threshold)
                .select("a", "b")
                .localCheckpoint(eager=False))
    clusters = duplicate_clusters(verified, max_iter=max_iter,
                                  check_every=check_every,
                                  num_partitions=num_partitions)
    # cluster label IS the minimum member id: drop every non-label node
    drop = (clusters.filter(F.col("node") != F.col("cluster"))
            .select(F.col("node").alias(id_col)))
    return df.join(drop, id_col, "left_anti")


def remove_duplicate_ngrams(df: DataFrame, n: int = 6,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Cross-document EXACT SUBSTRING dedup (the suffix-array dedup of
    "Deduplicating Training Data Makes Language Models Better",
    re-expressed relationally): any n-token window that occurs more than
    once in the corpus keeps its globally-first occurrence
    (minimum ``(id, pos)``) and every OTHER occurrence has its covered
    tokens removed. Complements :func:`~..corpusops.dedup_paragraphs`
    (units are arbitrary token windows, not newline-delimited lines) and
    the near-dup family (removes verbatim boilerplate passages between
    documents that are NOT near-duplicates overall).

    Matching is on the lowercased whitespace-collapsed token stream (the
    family's shared normalization); the rebuilt text keeps the ORIGINAL
    token casing — positions align because both tokenizations split the
    same collapsed stream. Returns ``(id, text, n_kept, n_dropped)``;
    docs whose every token was covered survive with empty text.

    Scale shape: windows come from the shuffle-free ``_gram_rows``
    construction (arrays_zip over shifted slices, inside the scan
    partition); the duplicated-window table is a map-side-combinable
    aggregation on the 60-bit window hash whose min-(id,pos) keeper
    rides the same combine; occurrences re-join that table on the hash
    (skewed hot windows — stop-word runs — are AQE skew-join territory,
    and the join output is bounded by the occurrence count either way);
    the final keep-marked reassembly is the family's standard one
    doc-keyed shuffle. Nothing global, no driver actions.
    """
    occ = (_gram_rows(df, text_col, id_col, n)
           .withColumn("_wh", _hash60(F.col("sh"))).drop("sh"))
    wins = (occ.groupBy("_wh")
            .agg(F.count("*").alias("_c"),
                 F.min(F.struct(F.col(id_col).alias("i"),
                                F.col("_pos").alias("p"))).alias("_k"))
            .filter(F.col("_c") >= 2)
            .select("_wh", "_k"))
    removed = (occ.join(wins, "_wh")
               .filter(~((F.col(id_col) == F.col("_k.i"))
                         & (F.col("_pos") == F.col("_k.p")))))
    drop = (removed.select(
                F.col(id_col),
                F.explode(F.sequence(
                    F.col("_pos"),
                    F.least(F.col("_pos") + n - 1, F.col("_ntok") - 1)))
                .alias("_tp"))
            .distinct()
            .withColumn("_drop", F.lit(1)))
    orig_toks = F.split(
        F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    toks = df.select(F.col(id_col),
                     F.posexplode(orig_toks).alias("_tp", "_tok"))
    marked = toks.join(drop, [id_col, "_tp"], "left_outer")
    keep = F.col("_drop").isNull()
    kept_n = F.count(F.when(keep, F.lit(1)))
    return (marked.groupBy(id_col)
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(keep, F.struct(F.col("_tp").alias("p"),
                                                   F.col("_tok").alias("t"))))),
                         lambda s: s["t"]),
                     " ").alias(text_col),
                 kept_n.cast("long").alias("n_kept"),
                 (F.count("*") - kept_n).cast("long").alias("n_dropped")))


def _banded_sigs(sigs: DataFrame, id_col: str, k: int,
                 bands: int) -> DataFrame:
    """(id, band_id, band_val) rows from a signature table — the LSH
    banding shared by in-corpus and cross-corpus candidate generation."""
    rows_per_band = k // bands
    band_cols = [
        F.struct(F.lit(b).alias("band_id"),
                 F.array(*[F.col(f"h{b * rows_per_band + r}")
                           for r in range(rows_per_band)]).alias("band_val"))
        for b in range(bands)
    ]
    return (sigs.select(F.col(id_col), F.explode(F.array(*band_cols))
                        .alias("band"))
            .select(id_col, "band.band_id", "band.band_val"))


def fuzzy_dedup_against_corpus(new_df: DataFrame, corpus_df: DataFrame,
                               text_col: str = "text",
                               id_col: str = "doc_id", k: int = 8,
                               bands: int = 4, shingle_n: int = 3,
                               jaccard_threshold: float = 0.8,
                               max_bucket: int | None = 1000,
                               max_iter: int = 15, check_every: int = 1,
                               num_partitions: int | None = None,
                               corpus_sigs: DataFrame | None = None
                               ) -> DataFrame:
    """Incremental NEAR-duplicate ingest: drop new-batch documents that
    are near-dups (verified n-gram Jaccard >= threshold) of ANY corpus
    document, then :func:`fuzzy_dedup` the survivors within the batch —
    the fuzzy analog of :func:`dedup_against_corpus`, i.e. what a daily
    crawl ingest runs against yesterday's corpus.

    Scale shape (100 TB corpus, small daily batch): the corpus appears
    ONLY through its signature table (pass a materialized one via
    ``corpus_sigs`` so the corpus text is never rescanned for candidate
    generation) and through the shingles of the candidate-matched
    corpus docs alone (a left_semi restriction BEFORE shingling — the
    verification cost is bounded by the candidate count, not the corpus
    size). Banding is an equi-join on (band_id, band_val) with the
    hot-bucket cap applied to the corpus side; batch-internal cleanup
    runs AFTER the corpus drop, so a batch doc can never survive via a
    batch-mate that the corpus already covered."""
    if corpus_sigs is None:
        corpus_sigs = minhash_signatures(corpus_df, text_col, id_col, k,
                                         shingle_n)
    new_sigs = minhash_signatures(new_df, text_col, id_col, k, shingle_n)
    nbd = (_banded_sigs(new_sigs, id_col, k, bands)
           .withColumnRenamed(id_col, "a"))
    cbd = (_banded_sigs(corpus_sigs, id_col, k, bands)
           .withColumnRenamed(id_col, "b"))
    if max_bucket is not None:
        sized = (cbd.groupBy("band_id", "band_val")
                 .agg(F.count("*").alias("_bn")))
        cbd = (cbd.join(sized, ["band_id", "band_val"])
               .filter(F.col("_bn") <= max_bucket).drop("_bn"))
    # the candidate pair set is read by four downstream joins (two
    # shingle restrictions, the intersection, the count attach) —
    # persist it (lazy localCheckpoint, reference-tracked/leak-free) so
    # the banding lineage runs once, same convention as
    # ngram_jaccard_pairs' shingle seam
    cross = (nbd.join(cbd, ["band_id", "band_val"])
             .select("a", "b").distinct().localCheckpoint(eager=False))
    # verify on true shingle Jaccard, shingling ONLY candidate docs
    sh_new = shingle_hash_rows(
        new_df.join(cross.select(F.col("a").alias(id_col)).distinct(),
                    id_col, "left_semi"), text_col, id_col,
        shingle_n).localCheckpoint(eager=False)
    sh_cor = shingle_hash_rows(
        corpus_df.join(cross.select(F.col("b").alias(id_col)).distinct(),
                       id_col, "left_semi"), text_col, id_col,
        shingle_n).localCheckpoint(eager=False)
    sa = sh_new.select(F.col(id_col).alias("a"), F.col("shash").alias("s"))
    sb = sh_cor.select(F.col(id_col).alias("b"), F.col("shash").alias("s"))
    inter = (cross.join(sa, "a").join(sb, ["b", "s"])
             .groupBy("a", "b").agg(F.count("*").alias("ninter")))
    ca = (sh_new.groupBy(id_col).agg(F.count("*").alias("na"))
          .withColumnRenamed(id_col, "a"))
    cb = (sh_cor.groupBy(id_col).agg(F.count("*").alias("nb"))
          .withColumnRenamed(id_col, "b"))
    j = (cross.join(ca, "a").join(cb, "b")
         .join(inter, ["a", "b"], "left")
         .withColumn("ninter", F.coalesce(F.col("ninter"), F.lit(0))))
    union = F.col("na") + F.col("nb") - F.col("ninter")
    jac = F.when(union > 0, F.col("ninter") / union).otherwise(F.lit(0.0))
    dropped = (j.filter(F.round(jac, 6) >= jaccard_threshold)
               .select(F.col("a").alias(id_col)).distinct())
    # Truncate lineage here: fuzzy_dedup re-reads its input once per
    # internal stage (signatures, verification shingles, removal join),
    # and without this every read would re-execute the whole
    # cross-corpus verification above. The checkpoint is batch-sized —
    # the side that is small by construction in an incremental ingest.
    fresh = (new_df.join(dropped, id_col, "left_anti")
             .localCheckpoint(eager=False))
    # NOTE: threading the surviving batch signatures into fuzzy_dedup via
    # ``sigs`` (sparing its re-shingle of the survivors) was measured
    # SLOWER here — 7.4 s vs 5.5 s at sf0.1, order-balanced interleaved
    # A/B — because the extra checkpoint barriers outweigh the saved
    # batch-sized (not corpus-sized) shingle pass. Let it recompute.
    return fuzzy_dedup(fresh, text_col, id_col, k, bands, shingle_n,
                       jaccard_threshold, max_bucket, max_iter,
                       check_every, num_partitions)


# ---------------------------------------------------------------------------
# Edit-distance verification
# ---------------------------------------------------------------------------

def edit_similarity_pairs(df: DataFrame, pairs: DataFrame,
                          text_col: str = "text", id_col: str = "doc_id",
                          prefix_len: int | None = None) -> DataFrame:
    """Exact character-level edit similarity for candidate pairs:
    ``1 - levenshtein(a, b) / max(len(a), len(b))``.

    The third verification lens next to n-gram Jaccard (set overlap)
    and SimHash (bit votes): edit distance sees ORDER, so it separates
    true near-edits ("v1.2" vs "v1.3" boilerplate) from shuffled-token
    lookalikes that fool bag-of-shingles measures. Returns ``(a, b,
    edit_distance, edit_sim)`` — distance is a long, similarity rounded
    to 6dp; a pair of two empty texts scores similarity 1.

    Scale shape: this is the EXPENSIVE verifier — Levenshtein is
    O(len_a * len_b) per pair — so it must only ever run on the
    candidate pairs LSH/SimHash banding produced, never all-pairs (the
    same contract as ``ngram_jaccard_pairs``, with a higher per-pair
    constant). ``prefix_len`` truncates both sides first: the standard
    long-document guard, making per-pair cost O(prefix_len^2) while
    staying exact for short texts. The two id-keyed text joins are the
    only exchanges; both sides prune to (id, text)."""
    t = F.col(text_col) if prefix_len is None else \
        F.substring(F.col(text_col), 1, int(prefix_len))
    texts = df.select(F.col(id_col), t.alias("_t"))
    ta = texts.select(F.col(id_col).alias("a"), F.col("_t").alias("_ta"))
    tb = texts.select(F.col(id_col).alias("b"), F.col("_t").alias("_tb"))
    j = pairs.join(ta, "a").join(tb, "b")
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"))
    denom = F.greatest(F.length("_ta"), F.length("_tb"))
    sim = F.when(denom > 0, 1.0 - dist / denom).otherwise(F.lit(1.0))
    return j.select("a", "b", dist.cast("long").alias("edit_distance"),
                    F.round(sim, 6).alias("edit_sim"))


# ---------------------------------------------------------------------------
# Bloom-filter membership (bounded-memory incremental dedup prefilter)
# ---------------------------------------------------------------------------

# 63 usable bits per word: bit 63 would need 1<<63, which DuckDB's
# checked left shift rejects and which flips the sign bit anyway
BLOOM_WORD_BITS = 63


def _bloom_positions(df: DataFrame, m_bits: int, k: int,
                     text_col: str, id_col: str) -> DataFrame:
    """(id, word_idx, bit) rows — the k double-hashed Bloom positions of
    each document's normalized text: pos_i = (h1 + i*h2) mod m with two
    independent 60-bit md5 hashes (h1 + 6*h2 < 2^63, hence k <= 7)."""
    if not 1 <= k <= 7:
        raise ValueError("k must be in 1..7 (int64 overflow bound)")
    if m_bits <= 0:
        raise ValueError("m_bits must be positive")
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    h1 = F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(F.concat(F.lit("bloom:"), norm)),
                            1, 15), 16, 10).cast("long")
    pos = (h1 + F.col("_i") * h2) % m_bits
    return (df.select(F.col(id_col), h1.alias("_h1"), h2.alias("_h2"),
                      F.explode(F.sequence(F.lit(0),
                                           F.lit(k - 1))).alias("_i"))
            .select(F.col(id_col),
                    F.expr(f"(_h1 + _i * _h2) % {int(m_bits)} "
                           f"div {BLOOM_WORD_BITS}").cast("long")
                    .alias("word_idx"),
                    ((F.col("_h1") + F.col("_i") * F.col("_h2"))
                     % m_bits % BLOOM_WORD_BITS).cast("int").alias("bit")))


def bloom_build(corpus: DataFrame, m_bits: int = 1 << 22, k: int = 5,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build a Bloom filter over the corpus's normalized texts as a
    ``(word_idx, word)`` table of 63-bit words.

    THE bounded-memory membership structure for incremental dedup at
    100 TB: the exact distinct-hash set grows with the corpus (8 bytes
    x N), but the filter is ``m_bits`` forever — size it once for the
    target false-positive rate (m/n = 14.4 bits/doc and k = 5 gives
    ~1%) and broadcast it to every ingest. Construction is one
    map-side-combined ``bit_or`` aggregation over the k position rows
    per document; the output has at most ``m_bits / 63`` rows
    regardless of corpus size."""
    posn = _bloom_positions(corpus, m_bits, k, text_col, id_col)
    # pyspark's shiftleft() only takes a literal shift amount — the
    # column-shift form needs the SQL expression
    return (posn.groupBy("word_idx")
            .agg(F.bit_or(F.expr("shiftleft(cast(1 as bigint), bit)"))
                 .alias("word")))


def bloom_maybe_seen(batch: DataFrame, bloom: DataFrame,
                     m_bits: int, k: int, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Flag each batch document ``maybe_seen`` = true iff ALL of its k
    Bloom positions are set in ``bloom`` (no false negatives; false
    positives at the filter's design rate — VERIFY flagged docs exactly
    before dropping them, see :func:`bloom_dedup_against_corpus`).

    The filter table is broadcast (<= m_bits/63 rows); the probe is a
    per-position broadcast join plus one id-keyed aggregation."""
    posn = _bloom_positions(batch, m_bits, k, text_col, id_col)
    hit = (F.col("word").isNotNull()
           & (F.expr("shiftright(word, bit) & 1") == 1))
    flags = (posn.join(F.broadcast(bloom), "word_idx", "left")
             .groupBy(id_col)
             .agg((F.min(hit.cast("int")) == 1).alias("maybe_seen")))
    return batch.join(flags, id_col)


def bloom_dedup_against_corpus(new_df: DataFrame, corpus: DataFrame,
                               m_bits: int = 1 << 22, k: int = 5,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               bloom: DataFrame | None = None) -> DataFrame:
    """:func:`dedup_against_corpus` with a Bloom prefilter: batch docs
    whose filter probe misses are DEFINITELY new and skip the corpus
    anti-join entirely; only the (design-rate small) flagged remainder
    verifies against the exact corpus hash set. Same output as the
    exact op — the filter only reroutes work, never changes the answer
    (no false negatives). Pass a prebuilt ``bloom`` (the production
    shape: the filter is maintained incrementally, the corpus is never
    rescanned)."""
    if bloom is None:
        bloom = bloom_build(corpus, m_bits, k, text_col, id_col)
    flagged = bloom_maybe_seen(new_df, bloom, m_bits, k, text_col, id_col)
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    seen = (corpus.select(normalized_text_hash(F.col(text_col))
                          .alias("_th")).distinct())
    verified_new = (suspects
                    .withColumn("_th",
                                normalized_text_hash(F.col(text_col)))
                    .join(seen, "_th", "left_anti")
                    .drop("_th"))
    fresh = definitely_new.unionByName(verified_new) \
        .withColumn("_th", normalized_text_hash(F.col(text_col)))
    return _keep_one_hashed(fresh, id_col)


# ---------------------------------------------------------------------------
# Cross-group overlap matrix (corpus novelty reporting)
# ---------------------------------------------------------------------------

def corpus_overlap_matrix(df: DataFrame, group_col: str = "source",
                          text_col: str = "text", n: int = 3) -> DataFrame:
    """Pairwise shingle-set overlap between groups (sources, dumps,
    crawls): (a, b, n_a, n_b, n_common, jaccard, contain_in_a) for every
    unordered pair with n_common > 0 — the "how much of dump B is
    already in dump A" report that decides whether a new crawl is worth
    ingesting, computed WITHOUT any doc-level pairing.

    jaccard = |A∩B| / |A∪B| and contain_in_a = |A∩B| / |B| (how much of
    b sits inside a), both single fixed-order double divisions over
    exact integer counts (6dp-rounded, engine-exact).

    Plan: one distinct over (group, 60-bit shingle hash) — the same
    8-byte-key construction as the MinHash family — one self-equi-join
    on the hash (each hash contributes at most G' rows where G' = #
    groups containing it), one pair-count aggregation. Output is at
    most G*(G-1)/2 rows. With G in the thousands a hot shingle shared
    by every group costs G'^2 join rows per hash — prune universal
    shingles first (the boilerplate-frequency cut) if that bites."""
    # seam (lazy localCheckpoint — leak-free): sh feeds sizes and BOTH
    # self-join sides — unpersisted, the shingle+distinct lineage
    # executes three times
    sh = shingle_hash_rows(df, text_col=text_col, id_col=group_col,
                           n=n).localCheckpoint(eager=False)
    sizes = sh.groupBy(group_col).agg(F.count("*").cast("long")
                                      .alias("n_sh"))
    a = sh.select(F.col(group_col).alias("a"), "shash")
    b = sh.select(F.col(group_col).alias("b"), "shash")
    common = (a.join(b, "shash")
              .filter(F.col("a") < F.col("b"))
              .groupBy("a", "b")
              .agg(F.count("*").cast("long").alias("n_common")))
    sa = sizes.select(F.col(group_col).alias("a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(group_col).alias("b"),
                      F.col("n_sh").alias("n_b"))
    return (common.join(F.broadcast(sa), "a").join(F.broadcast(sb), "b")
            .select("a", "b", "n_a", "n_b", "n_common",
                    F.round(F.col("n_common").cast("double")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("n_common")).cast("double"), 6)
                    .alias("jaccard"),
                    F.round(F.col("n_common").cast("double")
                            / F.col("n_b").cast("double"), 6)
                    .alias("contain_in_a")))


# ---------------------------------------------------------------------------
# Content-defined chunking (FastCDC-style rolling-hash cut points)
# ---------------------------------------------------------------------------

CDC_P = 0x01000193          # FNV-32 prime: odd, so powers cycle mod 2^32
CDC_MOD = 1 << 32


def cdc_powers(w: int) -> list[int]:
    """``[p^0, p^1, ..., p^(w-1)] mod 2^32`` — the window coefficients.

    Exposed so an oracle can embed the exact same constants."""
    out, x = [], 1
    for _ in range(w):
        out.append(x)
        x = (x * CDC_P) % CDC_MOD
    return out


def cdc_chunks(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", w: int = 16, mask_bits: int = 6,
               min_len: int = 32, max_len: int = 128) -> DataFrame:
    """Content-defined chunking: split each document at ROLLING-HASH cut
    points instead of fixed offsets, so chunk boundaries are a function
    of local content — insert a byte at the front of a document and,
    one resynchronized window later, every downstream chunk (and its
    hash) is identical again. That shift invariance is what makes
    chunk-level exact dedup work at 100 TB: shared passages produce
    identical ``chunk_hash`` values across documents regardless of
    position, so duplicated content is ONE ``groupBy(chunk_hash)``
    away (the binary/media analog of :func:`remove_duplicate_ngrams`'s
    token windows).

    Semantics (all in Unicode code points, w fixed):

    * rolling hash at position i (1-based, ``i >= w``):
      ``h_i = sum_{k=0..w-1} code(char_{i-k}) * p^k  mod 2^32`` with
      ``p = CDC_P``;
    * i is a CANDIDATE cut when ``h_i % 2^mask_bits == 0`` (expected
      chunk length ~ ``2^mask_bits``);
    * greedy fold per document: from chunk start s, cut at the smallest
      candidate i with ``min_len <= i - s <= max_len``; if none exists
      cut at ``min(s + max_len, n)`` (the FastCDC min/max clamp);
    * the final tail is a chunk even when shorter than ``min_len``.

    Returns ``(id, chunk_idx, start, length, chunk_hash)`` — ``start``
    0-based, ``chunk_hash`` = md5 of the chunk substring (engine-
    portable). Empty/NULL text yields no rows.

    Scale shape: documents are independent, so this is a pure
    ``mapInPandas`` — ZERO shuffles, embarrassingly parallel, memory
    bounded by one Arrow batch. Inside the batch the hash is 16
    vectorized shifted multiply-adds per document (every term <
    2^53, exact in uint64) and only the greedy fold loops — over
    CHUNKS (~n/2^mask_bits steps), not characters."""
    if w <= 1:
        raise ValueError("w must be > 1")
    if not (0 < min_len <= max_len):
        raise ValueError("need 0 < min_len <= max_len")
    if mask_bits <= 0:
        raise ValueError("mask_bits must be positive")
    pw = cdc_powers(w)
    mask = (1 << mask_bits) - 1
    W, MINL, MAXL = int(w), int(min_len), int(max_len)

    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    id_field = df.schema[id_col]
    out_schema = StructType([
        StructField(id_col, id_field.dataType),
        StructField("chunk_idx", LongType()),
        StructField("start", LongType()),
        StructField("length", LongType()),
        StructField("chunk_hash", StringType()),
    ])

    def gen(batches):
        import hashlib
        import numpy as np
        import pandas as pd
        P = np.array(pw, dtype=np.uint64)
        for pdf in batches:
            out = {k: [] for k in ("id", "ci", "st", "ln", "h")}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or len(text) == 0:
                    continue
                c = np.frombuffer(text.encode("utf-32-le"),
                                  dtype=np.uint32).astype(np.uint64)
                n = len(c)
                if n >= W:
                    h = np.zeros(n - W + 1, dtype=np.uint64)
                    for k in range(W):
                        # h[j] covers chars [j .. j+W-1]; coefficient
                        # p^k multiplies char (j+W-1-k)
                        h += c[W - 1 - k: n - k] * P[k]
                    h &= 0xFFFFFFFF
                    # candidate CUT positions (1-based i = j + W)
                    cand = np.flatnonzero((h & mask) == 0) + W
                else:
                    cand = np.empty(0, dtype=np.int64)
                s, ci = 0, 0
                while s < n:
                    lo, hi = s + MINL, min(s + MAXL, n)
                    j = np.searchsorted(cand, lo, side="left")
                    cut = (int(cand[j])
                           if j < len(cand) and cand[j] <= hi
                           else hi)
                    piece = text[s:cut]
                    out["id"].append(did)
                    out["ci"].append(ci)
                    out["st"].append(s)
                    out["ln"].append(cut - s)
                    out["h"].append(hashlib.md5(
                        piece.encode("utf-8")).hexdigest())
                    s, ci = cut, ci + 1
            yield pd.DataFrame({
                id_col: out["id"], "chunk_idx": out["ci"],
                "start": out["st"], "length": out["ln"],
                "chunk_hash": out["h"]})

    return df.select(id_col, text_col).mapInPandas(gen, out_schema)


def cdc_duplicate_chunks(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", w: int = 16,
                         mask_bits: int = 6, min_len: int = 32,
                         max_len: int = 128,
                         min_docs: int = 2) -> DataFrame:
    """Cross-document duplicated-passage report over content-defined
    chunks: run :func:`cdc_chunks`, then one map-side-combinable
    ``groupBy(chunk_hash)`` — chunks whose hash appears in at least
    ``min_docs`` DISTINCT documents are shared content (boilerplate,
    syndicated passages, mirrored pages), reported with their keeper
    (minimum ``(id, start)`` occurrence, the same keep-first rule as
    :func:`remove_duplicate_ngrams`).

    Returns ``(chunk_hash, length, n_docs, n_occurrences, keeper_id,
    keeper_start)``. Shuffle ledger: the chunk manifest (ids + 32-byte
    hashes, never text) through ONE aggregation — at 100 TB the
    manifest is ~1% of corpus bytes and the aggregation combines
    map-side, so the report costs about one corpus scan."""
    chunks = cdc_chunks(df, text_col, id_col, w, mask_bits,
                        min_len, max_len)
    keeper = F.min(F.struct(F.col(id_col), F.col("start"))).alias("_k")
    return (chunks.groupBy("chunk_hash")
            .agg(F.max("length").cast("long").alias("length"),
                 F.countDistinct(id_col).cast("long").alias("n_docs"),
                 F.count("*").cast("long").alias("n_occurrences"),
                 keeper)
            .filter(F.col("n_docs") >= min_docs)
            .select("chunk_hash", "length", "n_docs", "n_occurrences",
                    F.col(f"_k.{id_col}").alias("keeper_id"),
                    F.col("_k.start").alias("keeper_start")))


def cdc_dedup_rewrite(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", w: int = 16,
                      mask_bits: int = 6, min_len: int = 32,
                      max_len: int = 128,
                      min_docs: int = 2) -> DataFrame:
    """Chunk-level exact-substring dedup REMOVAL: every occurrence of a
    cross-document duplicated chunk except its min-``(id, start)``
    keeper is dropped, and documents are reassembled from the kept
    chunks — the CDC analog of :func:`remove_duplicate_ngrams` (same
    keep-first rule), trading token-window precision for chunk-sized
    cuts and a manifest-sized shuffle. Documents that keep everything
    reconstruct EXACTLY (chunks are contiguous substrings).

    Returns ``(id, text, n_chunks_kept, n_chunks_dropped)`` for every
    input document (chunkless docs — NULL/empty text — come back with
    empty text and zero counts).

    Shuffle ledger: chunk manifest checkpointed once (it feeds the
    keeper aggregation AND the keep-mark join), one groupBy(chunk_hash),
    one equi-join back on the hash, one substring-extract join on the
    id (codegen substring against the original text — chunk text never
    left the document), one doc-keyed reassembly groupBy. Reassembly
    memory is bounded by the largest single document."""
    chunks = cdc_chunks(df, text_col, id_col, w, mask_bits,
                        min_len, max_len)
    # two consumers below (keeper aggregation + keep-mark join): without
    # a barrier the Arrow chunking pass executes twice
    chunks = chunks.localCheckpoint(eager=False)
    keeper = (chunks.groupBy("chunk_hash")
              .agg(F.countDistinct(id_col).alias("_nd"),
                   F.min(F.struct(F.col(id_col), F.col("start")))
                   .alias("_k"))
              .filter(F.col("_nd") >= min_docs)
              .select("chunk_hash",
                      F.col(f"_k.{id_col}").alias("_kid"),
                      F.col("_k.start").alias("_kstart")))
    marked = (chunks.join(keeper, "chunk_hash", "left")
              .withColumn("_keep",
                          F.col("_kid").isNull()
                          | ((F.col(id_col) == F.col("_kid"))
                             & (F.col("start") == F.col("_kstart")))))
    pieces = (marked.join(df.select(id_col, text_col), id_col)
              .withColumn("_piece",
                          F.expr(f"substring({text_col}, start + 1, "
                                 f"length)")))
    rebuilt = (pieces.groupBy(id_col)
               .agg(F.array_join(F.transform(
                        F.array_sort(F.collect_list(
                            F.when(F.col("_keep"),
                                   F.struct("chunk_idx", "_piece")))),
                        lambda s: s["_piece"]), "").alias("_new"),
                    F.count(F.when(F.col("_keep"), F.lit(1)))
                    .cast("long").alias("n_chunks_kept"),
                    (F.count("*")
                     - F.count(F.when(F.col("_keep"), F.lit(1))))
                    .cast("long").alias("n_chunks_dropped")))
    return (df.select(id_col).join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce("_new", F.lit("")).alias(text_col),
                    F.coalesce("n_chunks_kept", F.lit(0)).cast("long")
                    .alias("n_chunks_kept"),
                    F.coalesce("n_chunks_dropped", F.lit(0))
                    .cast("long").alias("n_chunks_dropped")))
