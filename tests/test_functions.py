"""Tests for the training-data pipeline operators (functions/)."""

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_duplicates_finds_planted_dup(spark):
    from extractpdf4j_spark.functions import exact_duplicates
    df = spark.createDataFrame(
        [(1, "the same doc"), (2, "THE  same   DOC"), (3, "another doc")],
        ["doc_id", "text"])
    out = exact_duplicates(df).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 2
    assert out[0]["keeper_doc_id"] == 1


def test_minhash_dedup_near_duplicates(spark):
    from extractpdf4j_spark.functions import minhash_duplicates
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    near = base.replace("sigma", "sigmaX")           # 1-word change
    far = "totally different content with none of the original words at all"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], ["doc_id", "text"])
    out = {(r["a"], r["b"]): r["est_jaccard"]
           for r in minhash_duplicates(df, threshold=0.5).collect()}
    assert (1, 4) in out and out[(1, 4)] == 1.0      # exact dup
    assert (1, 2) in out                             # near dup
    assert (1, 3) not in out and (3, 4) not in out   # unrelated


def test_ngram_jaccard_exact_on_pairs(spark):
    from extractpdf4j_spark.functions import (minhash_signatures,
                                              lsh_candidate_pairs,
                                              ngram_jaccard_pairs)
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "z y x w v u t s")],
        ["doc_id", "text"])
    sigs = minhash_signatures(df)
    pairs = lsh_candidate_pairs(sigs)
    out = {(r["a"], r["b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(df, pairs).collect()}
    assert out.get((1, 2)) == 1.0


def test_hash_embed_sparse_buckets_and_signs(spark):
    import hashlib
    from extractpdf4j_spark.functions.textstats import hash_embed
    docs = [(1, "alpha beta alpha gamma"), (2, "alpha beta alpha gamma"),
            (3, "delta epsilon zeta eta")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    dim = 8

    def h60(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)

    expect = {}
    for did, text in docs:
        for tok in text.lower().split():
            h = h60(tok)
            s = 1 if (h // dim) % 2 == 0 else -1
            key = (did, h % dim)
            expect[key] = expect.get(key, 0) + s
    got = {(r["doc_id"], r["bucket"]): r["val"]
           for r in hash_embed(df, dim=dim).collect()}
    assert got == expect


def test_containment_pairs_subset_doc(spark):
    # doc 2 is a verbatim passage from the middle of doc 1: containment
    # catches it (cont_b = 1.0) where Jaccard (8/28 ≈ 0.29) would not.
    from extractpdf4j_spark.functions.dedup import containment_pairs
    toks = [f"t{i}" for i in range(30)]
    long_doc = " ".join(toks)                    # 28 distinct 3-shingles
    short_doc = " ".join(toks[10:20])            # 8 shingles, all in doc 1
    other = " ".join(f"z{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, long_doc), (2, short_doc), (3, other)], ["doc_id", "text"])
    rows = {(r["a"], r["b"]): r
            for r in containment_pairs(df, min_containment=0.5).collect()}
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    assert (r["na"], r["nb"], r["ninter"]) == (28, 8, 8)
    assert r["cont_b"] == 1.0 and r["cont_a"] == round(8 / 28, 6)
    # the pair's Jaccard is below every near-dup threshold — the case
    # this operator exists for
    assert r["ninter"] / (r["na"] + r["nb"] - r["ninter"]) < 0.3


def test_simhash_near_duplicates(spark):
    from extractpdf4j_spark.functions import simhash64, simhash_duplicates
    base = " ".join(f"w{i}" for i in range(60))
    near = base.replace("w30", "CHANGED")
    far = " ".join(f"q{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"])
    sims = {r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
            for r in simhash64(df).collect()}
    assert all(0 <= v < 2**32 for pair in sims.values() for v in pair)
    dups = {(r["a"], r["b"]): r["hamming"]
            for r in simhash_duplicates(df, max_hamming=10).collect()}
    assert (1, 2) in dups
    assert (1, 3) not in dups


def test_cosine_topk_self_first(spark, emb):
    from extractpdf4j_spark.functions import cosine_topk
    out = cosine_topk(emb, query_id=0, k=5).collect()
    assert out[0]["vec_id"] == 0
    assert out[0]["cosine"] == pytest.approx(1.0)
    cosines = [r["cosine"] for r in out]
    assert cosines == sorted(cosines, reverse=True)


def test_lsh_bucketed_topk_contains_self(spark, emb):
    from extractpdf4j_spark.functions import lsh_bucketed_topk
    out = lsh_bucketed_topk(emb, query_id=0, k=5).collect()
    assert out[0]["vec_id"] == 0
    assert 1 <= len(out) <= 5


def test_knn_join_per_query_topk(spark, emb):
    from extractpdf4j_spark.functions.similarity import knn_join
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = knn_join(emb, queries, k=3).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {0, 1, 2}
    for qid, rows in per_q.items():
        assert len(rows) == 3
        assert rows[0]["vec_id"] == qid  # self is nearest


def test_text_stats_and_langid(spark, docs):
    from extractpdf4j_spark.functions import add_text_stats, language_id, fingerprint
    out = add_text_stats(docs.limit(20)).collect()
    for r in out:
        assert r["n_tokens"] > 0
        assert 0.0 <= r["quality"] <= 1.0
    lang = language_id(docs.limit(20)).collect()
    assert all(r["pred_lang"] in ("en", "de", "fr") for r in lang)
    fp = fingerprint(docs.limit(5)).collect()
    assert all(len(r["fingerprint"]) == 32 for r in fp)


def test_multimodal_plumbing(spark):
    from extractpdf4j_spark.functions.multimodal import (
        MEDIA_ASSET_SCHEMA, decode_image, extract_features, frame_sample_plan)
    assets = spark.createDataFrame(
        [("a1", "d1", "image", "image/png", 64, 64, -1, b"\x89PNGfake"),
         ("a2", "d1", "video", "video/mp4", 640, 480, 3500, b"\x00mp4fake"),
         ("a3", "d2", "audio", "audio/wav", -1, -1, 2000, b"RIFFfake")],
        schema=MEDIA_ASSET_SCHEMA)
    feats = extract_features(assets, dim=16).collect()
    assert len(feats) == 3
    for r in feats:
        assert len(r["feature"]) == 16
        assert r["n_bytes"] > 0
    # determinism
    feats2 = extract_features(assets, dim=16).collect()
    assert ([r["feature"] for r in sorted(feats, key=lambda r: r["asset_id"])]
            == [r["feature"] for r in sorted(feats2, key=lambda r: r["asset_id"])])

    frames = frame_sample_plan(assets, every_ms=1000).collect()
    assert {r["frame_ts_ms"] for r in frames} == {0, 1000, 2000, 3000}

    # decode is stubbed: real path raises, fake path is deterministic
    with pytest.raises(NotImplementedError):
        decode_image(b"payload")
    img = decode_image(b"payload", fake=True)
    assert img.shape == (8, 8, 3)
    assert (img == decode_image(b"payload", fake=True)).all()


def test_embedding_near_duplicates(spark):
    """Planted near-identical embeddings are recovered through the
    LSH-bucket candidate join + exact cosine verify; orthogonal vectors
    are not paired."""
    import numpy as np
    from extractpdf4j_spark.functions import embedding_near_duplicates

    rng = np.random.RandomState(7)
    base = rng.randn(64).astype(float)
    rows = [
        (0, base.tolist()),
        (1, (base + 0.001 * rng.randn(64)).tolist()),   # near-dup of 0
        (2, rng.randn(64).tolist()),                     # unrelated
        (3, (-base).tolist()),                           # anti-correlated
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {(r["a"], r["b"]): r["cosine"]
           for r in embedding_near_duplicates(df, threshold=0.95).collect()}
    assert (0, 1) in got and got[(0, 1)] > 0.99
    assert all(k == (0, 1) for k in got)


def test_image_dhash_and_pairs(spark):
    """Hand-computable dHash values + banded Hamming pairing: an exact
    copy pairs at distance 0, a one-comparison perturbation at distance
    1 (7 shared bands), and an all-constant image shares no band with
    the gradient image so it is never even a candidate."""
    from extractpdf4j_spark.functions.multimodal import (image_dhash,
                                                         dhash_pairs)
    # 9x8x3 flattened row-major; gray(y,x) = sum of 3 channels.
    grad = [x for _ in range(8) for x in range(9) for _ in range(3)]
    flat = [5] * (9 * 8 * 3)
    near = list(grad)
    near[0] = 10            # gray(0,0): 0 -> 10+1+2=13 > gray(0,1)=3+4+5
    rows = [("g", "d1", grad), ("g-copy", "d1", grad),
            ("g-near", "d1", near), ("flat", "d2", flat)]
    df = spark.createDataFrame(rows, "asset_id string, doc_id string, "
                               "pixels array<int>")
    hashes = image_dhash(df)
    hx = {r["asset_id"]: r["dhash_hex"] for r in hashes.collect()}
    assert hx["g"] == "ff" * 8          # strictly increasing gray
    assert hx["flat"] == "00" * 8       # no comparison fires
    assert hx["g-copy"] == hx["g"]
    assert hx["g-near"] == "fe" + "ff" * 7   # bit 0 of row 0 flipped
    got = {(r["asset_a"], r["asset_b"]): r["hamming"]
           for r in dhash_pairs(hashes, max_hamming=6).collect()}
    assert got[("g", "g-copy")] == 0
    assert got[("g", "g-near")] == 1 and got[("g-copy", "g-near")] == 1
    assert all("flat" not in k[0] and "flat" not in k[1] for k in got)

    # 16-bit banding (the web-scale configuration: 4 bands of 65k
    # values instead of 8 bands of 256) must find the same pairs here —
    # all planted distances are <= 3, inside the 4-band pigeonhole
    got2 = {(r["asset_a"], r["asset_b"]): r["hamming"]
            for r in dhash_pairs(hashes, max_hamming=6,
                                 band_bytes=2).collect()}
    assert got2 == got
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dhash_pairs(hashes, band_bytes=3)   # 3 does not divide 8 bytes

    # composed removal: the {g, g-copy, g-near} cluster keeps its
    # minimum member; the unpaired flat image survives untouched
    from extractpdf4j_spark.functions.multimodal import image_near_dedup
    kept = image_near_dedup(df).collect()
    assert {r["asset_id"] for r in kept} == {"g", "flat"}
    assert {r["dhash_hex"] for r in kept} == {"ff" * 8, "00" * 8}
    assert all(len(r["pixels"]) == 216 for r in kept)   # payload rides


def test_video_frame_dhash_and_neardup(spark):
    """Frame schedule, hash determinism, and set-overlap semantics: a
    re-encoded twin pairs at jaccard 1.0, a 1200ms trim of a 2200ms
    video shares exactly its 3 frames (3/5 = 0.6), and an unrelated
    video pairs with nothing."""
    from extractpdf4j_spark.functions.multimodal import (
        video_frame_dhash, video_near_duplicates)
    rows = [("v1", "d1", "video", 2200, b"payload-one"),
            ("v1-re", "d1", "video", 2200, b"payload-one"),
            ("v1-trim", "d1", "video", 1200, b"payload-one"),
            ("other", "d2", "video", 2200, b"payload-two"),
            ("img", "d3", "image", -1, b"x")]
    df = spark.createDataFrame(rows, "asset_id string, doc_id string, "
                               "kind string, duration_ms long, "
                               "payload binary")
    fh = video_frame_dhash(df, every_ms=500, fake=True)
    got = fh.collect()
    per = {}
    for r in got:
        per.setdefault(r["asset_id"], {})[r["frame_ts_ms"]] = r["dhash_hex"]
    assert "img" not in per
    assert sorted(per["v1"]) == [0, 500, 1000, 1500, 2000]
    assert sorted(per["v1-trim"]) == [0, 500, 1000]
    assert per["v1"] == per["v1-re"]                     # deterministic
    assert all(per["v1"][t] == per["v1-trim"][t] for t in per["v1-trim"])
    assert per["other"][0] != per["v1"][0]
    pairs = {(r["asset_a"], r["asset_b"]): (r["n_shared"], r["jaccard"])
             for r in video_near_duplicates(fh, threshold=0.3).collect()}
    assert pairs[("v1", "v1-re")] == (5, 1.0)
    assert pairs[("v1", "v1-trim")] == (3, 0.6)
    assert pairs[("v1-re", "v1-trim")] == (3, 0.6)
    assert all("other" not in k[0] and "other" not in k[1] for k in pairs)


def test_audio_fingerprint_and_neardup(spark):
    """Window framing, shingle chaining and prefix-overlap semantics:
    a 2000ms stream frames into 8 windows -> 6 shingles; a 1200ms cut
    of the same payload shares exactly its 3 prefix shingles
    (jaccard 3/(6+3-3) = 0.5); sub-3-window audios emit nothing."""
    from extractpdf4j_spark.functions.multimodal import (
        audio_fingerprint, audio_near_duplicates)
    rows = [("a1", "d1", "audio", 2000, b"pay-one"),
            ("a1-re", "d1", "audio", 2000, b"pay-one"),
            ("a1-cut", "d1", "audio", 1200, b"pay-one"),
            ("short", "d2", "audio", 400, b"pay-one"),
            ("other", "d3", "audio", 2000, b"pay-two"),
            ("vid", "d4", "video", 2000, b"pay-one")]
    df = spark.createDataFrame(rows, "asset_id string, doc_id string, "
                               "kind string, duration_ms long, "
                               "payload binary")
    fp = audio_fingerprint(df, win_ms=250, shingle=3)
    per = {}
    for r in fp.collect():
        per.setdefault(r["asset_id"], []).append(
            (r["shingle_idx"], r["fp_hash"]))
    for k in per:
        per[k].sort()
    assert "short" not in per and "vid" not in per
    assert len(per["a1"]) == 6 and per["a1"] == per["a1-re"]
    assert per["a1-cut"] == per["a1"][:3]        # prefix shingles
    assert {h for _, h in per["other"]}.isdisjoint(
        h for _, h in per["a1"])
    pairs = {(r["asset_a"], r["asset_b"]): (r["n_shared"], r["jaccard"])
             for r in audio_near_duplicates(fp, threshold=0.3).collect()}
    assert pairs[("a1", "a1-re")] == (6, 1.0)
    assert pairs[("a1", "a1-cut")] == (3, 0.5)
    assert all("other" not in k[0] and "other" not in k[1] for k in pairs)


def test_as_of_join_semantics(spark):
    """Inclusive match at equal ts, latest-prior wins, unmatched -> null."""
    from extractpdf4j_spark.functions.joins import as_of_join
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 10, 50), (4, 20, 100)],
        "event_id long, user_id long, ts long")
    right = spark.createDataFrame(
        [(10, 100, 7), (10, 200, 8), (30, 10, 9)],
        "user_id long, ts long, signup_id long")
    out = {r["event_id"]: r["asof_signup_id"]
           for r in as_of_join(left, right, key="user_id",
                               left_ts="ts", right_ts="ts",
                               right_cols=("signup_id",)).collect()}
    assert out == {1: 7,      # equal ts matches (inclusive)
                   2: 8,      # latest prior of two candidates
                   3: None,   # before any right row
                   4: None}   # user with no right rows


def test_interval_point_join_bucket_edges(spark):
    """Containment is inclusive on both ends and survives points/intervals
    that straddle bucket boundaries."""
    from extractpdf4j_spark.functions.joins import interval_point_join
    points = spark.createDataFrame(
        [(1, 0), (2, 16), (3, 31), (4, 32), (5, 100)],
        "pid long, x long")
    intervals = spark.createDataFrame(
        [(100, 0, 31), (200, 16, 32), (300, 90, 99)],
        "iid long, lo long, hi long")
    got = sorted((r["pid"], r["iid"]) for r in interval_point_join(
        points, intervals, "x", "lo", "hi", bucket_width=16.0).collect())
    assert got == [(1, 100), (2, 100), (2, 200), (3, 100), (3, 200),
                   (4, 200)]


def test_as_of_join_rejects_reserved_column_names(spark):
    """Caller columns colliding with internal names fail fast instead of
    silently corrupting the union/window plumbing."""
    import pytest
    from extractpdf4j_spark.functions.joins import as_of_join
    left = spark.createDataFrame([(1, 10, 5)], "event_id long, k long, ts long")
    bad = spark.createDataFrame([(10, 5, 1)], "k long, ts long, _right long")
    with pytest.raises(ValueError, match="_right"):
        as_of_join(left, bad, key="k", right_cols=())


def test_as_of_join_tie_break_deterministic(spark):
    """Multiple right rows at the same (key, ts): the max payload is
    carried, independent of shuffle arrival order."""
    from extractpdf4j_spark.functions.joins import as_of_join
    left = spark.createDataFrame([(1, 10, 100)], "event_id long, k long, ts long")
    right = spark.createDataFrame(
        [(10, 100, 3), (10, 100, 9), (10, 100, 7)], "k long, ts long, v long")
    for parts in (1, 4):
        out = as_of_join(left, right.repartition(parts), key="k",
                         right_cols=("v",)).collect()
        assert [r["asof_v"] for r in out] == [9]


def test_interval_point_join_max_buckets_guard(spark):
    """A runaway interval (span >> bucket_width) raises instead of
    generating millions of bucket rows."""
    import pytest
    from pyspark.errors import SparkRuntimeException
    from extractpdf4j_spark.functions.joins import interval_point_join
    points = spark.createDataFrame([(1, 5)], "pid long, x long")
    huge = spark.createDataFrame([(100, 0, 10_000_000)], "iid long, lo long, hi long")
    with pytest.raises(SparkRuntimeException, match="max_buckets"):
        interval_point_join(points, huge, "x", "lo", "hi",
                            bucket_width=1.0, max_buckets=1000).collect()
    # and a wide-but-allowed interval still joins
    ok = interval_point_join(points, huge, "x", "lo", "hi",
                             bucket_width=1.0,
                             max_buckets=20_000_000).collect()
    assert [(r["pid"], r["iid"]) for r in ok] == [(1, 100)]


def test_duplicate_clusters_warns_on_max_iter(spark):
    """A long chain that cannot converge in max_iter rounds warns instead
    of silently returning non-minimal labels."""
    import pytest
    from extractpdf4j_spark.functions.dedup import duplicate_clusters
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "a long, b long")
    with pytest.warns(RuntimeWarning, match="max_iter"):
        out = duplicate_clusters(chain, max_iter=2)
        out.collect()
    # full convergence still reaches min-label 0 everywhere
    done = duplicate_clusters(chain, max_iter=15)
    assert {r["cluster"] for r in done.collect()} == {0}


def test_duplicate_clusters_budget_rounds_mode(spark):
    """check_every > 1 (the 100 TB budget-rounds knob: convergence is a
    driver action per round) yields identical clusters; a pure
    fixed-round budget (check_every >= max_iter) that falls short still
    warns via the final-round check."""
    import pytest
    from extractpdf4j_spark.functions.dedup import duplicate_clusters
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "a long, b long")
    base = {(r["node"], r["cluster"])
            for r in duplicate_clusters(chain, max_iter=15).collect()}
    budget = {(r["node"], r["cluster"])
              for r in duplicate_clusters(chain, max_iter=15,
                                          check_every=4).collect()}
    assert budget == base
    with pytest.warns(RuntimeWarning, match="max_iter"):
        duplicate_clusters(chain, max_iter=2, check_every=99).collect()


def test_duplicate_clusters_doubling_log_rounds(spark):
    """Pointer doubling converges on a diameter-39 chain within a round
    budget far below the diameter (propagation would need 39 rounds) —
    the O(log d) claim, convergence-warning-free — and reaches the
    same min labels."""
    import warnings as _w
    from extractpdf4j_spark.functions.dedup import duplicate_clusters
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "a long, b long")
    with _w.catch_warnings():
        _w.simplefilter("error")
        out = duplicate_clusters(chain, max_iter=10,
                                 algorithm="doubling").collect()
    assert len(out) == 40
    assert {r["cluster"] for r in out} == {0}


def test_duplicate_clusters_doubling_parity_random(spark):
    """doubling == propagate on a random multi-component graph (exact
    (node, cluster) set), and rejects unknown algorithm names."""
    import random
    import pytest
    from extractpdf4j_spark.functions.dedup import duplicate_clusters
    rng = random.Random(11)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "a long, b long")
    base = {(r["node"], r["cluster"])
            for r in duplicate_clusters(df, max_iter=30).collect()}
    dbl = {(r["node"], r["cluster"])
           for r in duplicate_clusters(df, max_iter=30,
                                       algorithm="doubling").collect()}
    assert dbl == base
    with pytest.raises(ValueError, match="algorithm"):
        duplicate_clusters(df, algorithm="bogus")


def test_ivf_trained_centroids_recall(spark):
    """Data-derived centroids (driver-side sampled spherical k-means)
    plug into ivf_topk and beat-or-match chance recall vs brute force;
    training is deterministic for a fixed seed."""
    from extractpdf4j_spark.functions.similarity import (
        cosine_topk, ivf_topk, ivf_train_centroids)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = ivf_train_centroids(emb, n_clusters=8, seed=7, sample_n=256,
                             iters=5)
    c2 = ivf_train_centroids(emb, n_clusters=8, seed=7, sample_n=256,
                             iters=5)
    assert c1 == c2, "k-means training is not deterministic"
    assert len(c1) == 8 and len(c1[0]) == 64

    qid = 3
    exact = [r["vec_id"] for r in cosine_topk(emb, qid, k=10).collect()]
    approx = {r["vec_id"]
              for r in ivf_topk(emb, qid, k=10, nprobe=3,
                                centroids=c1).collect()}
    recall = len(set(exact) & approx) / len(exact)
    # trained cells concentrate true neighbors: well above the ~3/8
    # chance level of probing 3 of 8 random cells
    assert recall >= 0.6, f"recall@10={recall} with trained centroids"


def test_interval_point_join_rejects_reversed_intervals(spark):
    """A reversed interval (hi < lo) must hit the guard, not explode a
    descending sequence."""
    import pytest
    from pyspark.errors import SparkRuntimeException
    from extractpdf4j_spark.functions.joins import interval_point_join
    points = spark.createDataFrame([(1, 5)], "pid long, x long")
    rev = spark.createDataFrame([(100, 50_000, 0)],
                                "iid long, lo long, hi long")
    with pytest.raises(SparkRuntimeException, match="max_buckets"):
        interval_point_join(points, rev, "x", "lo", "hi",
                            bucket_width=1.0, max_buckets=1000).collect()


def test_edit_similarity_pairs_hand_computed(spark):
    from extractpdf4j_spark.functions.dedup import edit_similarity_pairs
    docs = spark.createDataFrame(
        [(1, "kitten sat here"), (2, "sitten sat here"),
         (3, "completely different words entirely"), (4, ""), (5, "")],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (1, 3), (4, 5)],
                                  "a long, b long")
    out = {(r["a"], r["b"]): r
           for r in edit_similarity_pairs(docs, pairs).collect()}
    assert out[(1, 2)]["edit_distance"] == 1          # one substitution
    assert out[(1, 2)]["edit_sim"] == round(1 - 1 / 15, 6)
    assert out[(1, 3)]["edit_sim"] < 0.5              # unrelated pair
    assert out[(4, 5)]["edit_distance"] == 0          # empty vs empty
    assert out[(4, 5)]["edit_sim"] == 1.0
    # prefix_len guard: distance computed on the truncated texts
    trunc = {(r["a"], r["b"]): r["edit_distance"]
             for r in edit_similarity_pairs(docs, pairs,
                                            prefix_len=6).collect()}
    assert trunc[(1, 2)] == 1                          # 'kitten'/'sitten'


def test_tfidf_topk_hand_computed(spark):
    import math
    from extractpdf4j_spark.functions.textstats import tfidf_topk
    docs = spark.createDataFrame(
        [(1, "apple apple banana"),   # apple tf=2 df=1; banana df=2
         (2, "banana cherry"),        # cherry df=2
         (3, "cherry date")],         # date df=1
        "doc_id long, text string")
    out = {}
    for r in tfidf_topk(docs, k=2).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["rank"], r["token"], r["tfidf"]))
    ln = math.log
    # doc1: apple 2*ln(3/1)=2.197225 beats banana 1*ln(3/2)
    assert out[1][0][1] == "apple"
    assert out[1][0][2] == round(2 * ln(3), 6)
    assert out[1][1][1] == "banana"
    # doc3: date ln(3) beats cherry ln(3/2)
    assert [t for _, t, _ in sorted(out[3])] == ["date", "cherry"]
    # tie-break: doc2's banana and cherry tie at ln(3/2) -> token asc
    assert [t for _, t, _ in sorted(out[2])] == ["banana", "cherry"]
    assert all(len(v) <= 2 for v in out.values())


def test_bm25_hand_computed(spark):
    import math
    from extractpdf4j_spark.functions.textstats import bm25_topk
    docs = spark.createDataFrame(
        [(1, "apple apple banana"),
         (2, "banana cherry"),
         (3, "cherry date")],
        "doc_id long, text string")
    qdf = spark.createDataFrame([(7, "apple cherry")],
                                "query_id long, query string")
    rows = bm25_topk(docs, qdf, k=10).orderBy("rank").collect()
    assert [(r["rank"], r["doc_id"]) for r in rows] == [(1, 1), (2, 2), (3, 3)]

    def s(tf, df, dl, n=3, avgdl=7 / 3, k1=1.2, b=0.75):
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        raw = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        return round(raw * 1e6) / 1e6
    # doc1 matches apple (tf=2, df=1, dl=3); docs 2/3 match cherry
    # (tf=1, df=2, dl=2) and tie -> doc_id asc breaks it
    assert rows[0]["score"] == s(2, 1, 3)
    assert rows[1]["score"] == rows[2]["score"] == s(1, 2, 2)


def _py_hll_registers(values, p):
    """Pure-Python mirror of sketches.hll_registers for parity tests."""
    import hashlib
    m, width, regs = 1 << p, 60 - p, {}
    for v in values:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        rho = (width + 1 if (h >> p) == 0
               else width - ((h >> p).bit_length() - 1))
        regs[h % m] = max(regs.get(h % m, 0), rho)
    return regs


def test_hll_registers_match_python_mirror(spark):
    from extractpdf4j_spark.functions.sketches import hll_registers
    vals = [f"item-{i}" for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {r["bucket"]: r["register"]
           for r in hll_registers(df, "v", p=8).collect()}
    assert got == _py_hll_registers(vals, 8)


def test_hll_merge_exactly_equals_whole(spark):
    from extractpdf4j_spark.functions.sketches import (hll_merge,
                                                       hll_registers)
    a = spark.createDataFrame([(f"a{i}",) for i in range(300)], "v string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(300)], "v string")
    merged = {r["bucket"]: r["register"]
              for r in hll_merge(hll_registers(a, "v", p=7),
                                 hll_registers(b, "v", p=7)).collect()}
    whole = {r["bucket"]: r["register"]
             for r in hll_registers(a.unionByName(b), "v", p=7).collect()}
    assert merged == whole


def test_hll_estimate_accuracy_and_formula(spark):
    import math
    from extractpdf4j_spark.functions.sketches import (_alpha,
                                                       hll_count_distinct)
    n, p = 2000, 10
    df = spark.createDataFrame([(f"u{i % n}",) for i in range(3 * n)],
                               "v string")
    est = hll_count_distinct(df, "v", p=p).collect()[0]["est_distinct"]
    # typical HLL error at p=10 is ~1.04/sqrt(1024) ~ 3.3%; allow 4 sigma
    assert abs(est / n - 1.0) < 0.13
    # and the estimate must equal the formula applied to the exact
    # register state (same branch logic as hll_estimate)
    m, k_exp = 1 << p, 61 - p
    regs = _py_hll_registers([f"u{i}" for i in range(n)], p)
    v = m - len(regs)
    s = sum(1 << (k_exp - r) for r in regs.values()) + v * (1 << k_exp)
    raw = (_alpha(m) * float(2 ** (p + 61))) / float(s)
    expect = m * math.log(m / v) if raw <= 2.5 * m and v > 0 else raw
    assert est == expect


def _py_cms(values, depth, width):
    """Pure-Python mirror of sketches.cms_build for parity tests."""
    import hashlib
    cells = {}
    for v in values:
        for r in range(depth):
            h = int(hashlib.md5(f"{r}:{v}".encode()).hexdigest()[:15], 16)
            cells[(r, h % width)] = cells.get((r, h % width), 0) + 1
    return cells


def test_cms_cells_match_python_mirror(spark):
    from extractpdf4j_spark.functions.sketches import cms_build
    vals = [f"t{i % 7}" for i in range(100)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {(r["row"], r["col"]): r["cnt"]
           for r in cms_build(df, "v", depth=3, width=8).collect()}
    assert got == _py_cms(vals, 3, 8)


def test_cms_query_one_sided_and_merge_exact(spark):
    from extractpdf4j_spark.functions.sketches import (cms_build,
                                                       cms_merge,
                                                       cms_query)
    import collections
    vals = [f"w{i % 13}" for i in range(200)]
    exact = collections.Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    items = df.distinct()
    est = {r["v"]: r["est_count"]
           for r in cms_query(cms_build(df, "v", depth=3, width=8),
                              items, "v", depth=3, width=8).collect()}
    assert set(est) == set(exact)
    assert all(est[v] >= exact[v] for v in exact)  # one-sided error
    half_a = spark.createDataFrame([(v,) for v in vals[:100]], "v string")
    half_b = spark.createDataFrame([(v,) for v in vals[100:]], "v string")
    merged = {(r["row"], r["col"]): r["cnt"]
              for r in cms_merge(cms_build(half_a, "v", depth=3, width=8),
                                 cms_build(half_b, "v", depth=3, width=8))
              .collect()}
    whole = {(r["row"], r["col"]): r["cnt"]
             for r in cms_build(df, "v", depth=3, width=8).collect()}
    assert merged == whole


def test_cms_weighted_build_equals_raw(spark):
    from extractpdf4j_spark.functions.sketches import cms_build
    from pyspark.sql import functions as F
    vals = [f"x{i % 5}" for i in range(60)]
    raw = spark.createDataFrame([(v,) for v in vals], "v string")
    pre = raw.groupBy("v").agg(F.count("*").alias("n"))
    a = {(r["row"], r["col"]): r["cnt"]
         for r in cms_build(raw, "v", depth=2, width=8).collect()}
    b = {(r["row"], r["col"]): r["cnt"]
         for r in cms_build(pre, "v", depth=2, width=8,
                            weight_col="n").collect()}
    assert a == b


def test_group_quantiles_hand_computed(spark):
    import pytest
    from extractpdf4j_spark.functions.statsops import group_quantiles
    rows = ([("a", float(v)) for v in range(1, 11)]  # 1..10
            + [("b", 5.0), ("b", 5.0), ("b", 5.0), ("b", 9.0)])
    df = spark.createDataFrame(rows, "k string, v double")
    got = {(r["k"], r["q_bp"]): r["quantile"]
           for r in group_quantiles(df, "v", ["k"],
                                    (2500, 5000, 9900, 10000)).collect()}
    # k=a, n=10: smallest v with cum >= q*n
    assert got[("a", 2500)] == 3.0   # cum>=2.5 -> 3rd value
    assert got[("a", 5000)] == 5.0
    assert got[("a", 9900)] == 10.0  # cum>=9.9 -> 10th value
    assert got[("a", 10000)] == 10.0
    # k=b, duplicates: n=4, p25 needs cum>=1 -> 5.0; p99 -> 9.0
    assert got[("b", 2500)] == 5.0
    assert got[("b", 9900)] == 9.0
    with pytest.raises(ValueError):
        group_quantiles(df, "v", ["k"], (0,))


def test_bloom_membership_no_false_negatives(spark):
    from extractpdf4j_spark.functions.dedup import (
        bloom_build, bloom_maybe_seen, bloom_dedup_against_corpus,
        dedup_against_corpus)
    corpus = spark.createDataFrame(
        [(i, f"corpus text number {i}") for i in range(60)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100 + i, f"corpus text number {i}") for i in range(0, 60, 2)]
        + [(500 + i, f"brand new text {i}") for i in range(40)],
        "doc_id long, text string")
    bloom = bloom_build(corpus, m_bits=256, k=3)   # tiny -> forces FPs
    assert bloom.count() <= 256 // 63 + 1
    flags = {r["doc_id"]: r["maybe_seen"]
             for r in bloom_maybe_seen(batch, bloom, 256, 3).collect()}
    # no false negatives: every true member is flagged
    assert all(flags[100 + i] for i in range(0, 60, 2))
    # tiny filter is saturated enough to produce false positives,
    # which the exact-verify stage must then clear
    got = sorted(r["doc_id"] for r in bloom_dedup_against_corpus(
        batch, corpus, m_bits=256, k=3).collect())
    want = sorted(r["doc_id"] for r in dedup_against_corpus(
        batch, corpus).collect())
    assert got == want == sorted(500 + i for i in range(40))
    # a roomy filter lets most new docs skip verification outright
    roomy = bloom_build(corpus, m_bits=1 << 16, k=5)
    flags2 = bloom_maybe_seen(batch, roomy, 1 << 16, 5)
    n_clear = flags2.filter("not maybe_seen").count()
    assert n_clear >= 35    # ~all 40 brand-new docs probe clear


def test_pq_trained_codebooks_recall(spark):
    """Trained PQ codebooks approximate the inner-product neighborhood:
    ADC top-10 overlaps the exact top-10, the self-match survives, and
    codes index into the declared codebook range."""
    from extractpdf4j_spark.functions.similarity import (
        cosine_topk, pq_encode, pq_topk, pq_train_codebooks)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train_codebooks(emb, n_sub=8, n_cents=16, dim=64, seed=3)
    assert len(books) == 8 and all(len(b) <= 16 for b in books)
    enc = pq_encode(emb, n_sub=8, n_cents=16, dim=64,
                    codebooks=books)
    codes = enc.collect()
    assert all(len(r["codes"]) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["codes"])
    # embeddings are ~same-norm synthetic vectors, so inner-product
    # rank order tracks cosine rank order closely
    exact = [r["vec_id"] for r in cosine_topk(emb, 3, k=10).collect()]
    approx = [r["vec_id"] for r in pq_topk(
        emb, 3, k=10, n_sub=8, n_cents=16, dim=64,
        codebooks=books).collect()]
    assert approx[0] == 3                       # self-match survives ADC
    overlap = len(set(exact) & set(approx)) / 10
    assert overlap >= 0.5, f"PQ overlap {overlap}"
    # reusing a materialized code table gives the identical answer
    again = [r["vec_id"] for r in pq_topk(
        emb, 3, k=10, n_sub=8, n_cents=16, dim=64, codebooks=books,
        encoded=enc).collect()]
    assert again == approx


def test_pq_rerank_beats_raw_adc(spark):
    """Two-stage PQ search: the exact rerank over the ADC shortlist
    recovers at least the raw-ADC overlap and returns exact cosines."""
    from extractpdf4j_spark.functions.similarity import (
        cosine_topk, pq_topk, pq_train_codebooks, pq_encode)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train_codebooks(emb, n_sub=8, n_cents=16, dim=64, seed=3)
    enc = pq_encode(emb, n_sub=8, n_cents=16, dim=64, codebooks=books)
    exact = cosine_topk(emb, 3, k=10).collect()
    rer = pq_topk(emb, 3, k=10, n_sub=8, n_cents=16, dim=64,
                  codebooks=books, encoded=enc, rerank=100).collect()
    assert rer[0]["vec_id"] == 3
    exact_ids = [r["vec_id"] for r in exact]
    rer_ids = [r["vec_id"] for r in rer]
    assert len(set(exact_ids) & set(rer_ids)) >= 7
    # reranked rows carry the EXACT cosine of the shortlist survivors
    exact_by_id = {r["vec_id"]: r["cosine"] for r in exact}
    for r in rer:
        if r["vec_id"] in exact_by_id:
            assert r["cosine"] == exact_by_id[r["vec_id"]]


def test_ivf_pq_topk_probe_and_rerank(spark):
    """The composed IVF-PQ index: results come only from the probed
    clusters; probing ALL clusters reduces to plain PQ ADC; rerank rows
    carry exact cosines for shortlist survivors."""
    from extractpdf4j_spark.functions.similarity import (
        cosine_topk, ivf_assign, ivf_pq_topk, pq_topk)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = ivf_pq_topk(emb, query_id=3, k=10, nprobe=2, n_clusters=8,
                      dim=64, n_sub=8, n_cents=8).collect()
    # self survives into the ADC top-10 (untrained codebooks don't
    # guarantee self-FIRST — the exact rerank below does)
    assert len(got) == 10 and 3 in {r["vec_id"] for r in got}
    # every hit sits in one of the probed clusters (nprobe=2 of 8)
    clusters = {r["vec_id"]: r["cluster"]
                for r in ivf_assign(emb, 8, 64, 7).collect()}
    hit_clusters = {clusters[r["vec_id"]] for r in got}
    assert len(hit_clusters) <= 2
    # probing every cluster = plain PQ over the full corpus
    full = ivf_pq_topk(emb, query_id=3, k=10, nprobe=8, n_clusters=8,
                       dim=64, n_sub=8, n_cents=8).collect()
    plain = pq_topk(emb, query_id=3, k=10, n_sub=8, n_cents=8,
                    dim=64).collect()
    assert [(r["vec_id"], r["pq_score"]) for r in full] == \
        [(r["vec_id"], r["pq_score"]) for r in plain]
    # rerank path returns the exact cosine for shortlist survivors
    exact = {r["vec_id"]: r["cosine"]
             for r in cosine_topk(emb, 3, k=50).collect()}
    rer = ivf_pq_topk(emb, query_id=3, k=10, nprobe=8, n_clusters=8,
                      dim=64, n_sub=8, n_cents=8, rerank=50).collect()
    assert rer[0]["vec_id"] == 3
    for r in rer:
        if r["vec_id"] in exact:
            assert r["cosine"] == exact[r["vec_id"]]


def test_semantic_dedup_keeps_lowest_id(spark):
    """SemDedup: within a cluster the lowest id of a near-identical
    group survives; vectors in different clusters are never compared."""
    import numpy as np
    from extractpdf4j_spark.functions.similarity import (
        _ivf_centroids, ivf_assign, semantic_dedup)
    cents = np.asarray(_ivf_centroids(4, 8, seed=7))
    # three copies of centroid 0's direction (same cluster, cos ~1),
    # one on centroid 1 (different cluster), one anti-aligned filler
    rows = [(10, [float(x) for x in cents[0] * 2.0]),
            (11, [float(x) for x in cents[0] * 2.0 + 1e-9]),
            (12, [float(x) for x in cents[0] * 0.5]),
            (20, [float(x) for x in cents[1] * 3.0]),
            (30, [float(x) for x in -cents[0]])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r["vec_id"]: (r["cluster"], r["keep"])
           for r in semantic_dedup(df, tau=0.95, n_clusters=4, dim=8,
                                   seed=7).collect()}
    assert len(got) == 5
    assert got[10][1] == 1                 # lowest id of the group
    assert got[11][1] == 0 and got[12][1] == 0
    assert got[20][1] == 1                 # alone in its cluster
    assert got[20][0] != got[10][0]
    assert got[30][1] == 1                 # anti-aligned: cos = -1


def test_dsir_sample_prefers_target_domain(spark):
    """DSIR: raw pool of two disjoint vocabularies; the target LM is
    drawn from one of them — the top-k selection is exactly the
    in-domain half, and weights are higher for every in-domain doc."""
    from extractpdf4j_spark.functions.corpusops import (dsir_sample,
                                                        dsir_weights)
    med = [" ".join(f"gene{i} protein{i} cell{i}" for i in range(j, j + 6))
           for j in range(4)]
    web = [" ".join(f"click{i} buy{i} deal{i}" for i in range(j, j + 6))
           for j in range(4)]
    raw = spark.createDataFrame(
        [(i, t) for i, t in enumerate(med + web)], ["doc_id", "text"])
    target = spark.createDataFrame(
        [(100 + j, " ".join(f"gene{i} protein{i}" for i in range(8)))
         for j in range(3)], ["doc_id", "text"])
    w = {r["doc_id"]: r["log_weight"]
         for r in dsir_weights(raw, target, n_buckets=512).collect()}
    assert len(w) == 8
    assert min(w[i] for i in range(4)) > max(w[i] for i in range(4, 8))
    picked = {r["doc_id"]
              for r in dsir_sample(raw, target, k=4,
                                   n_buckets=512).collect()}
    assert picked == {0, 1, 2, 3}


def test_pagerank_star_graph(spark):
    """PageRank on a hand-checkable star: two spokes point at a hub;
    the hub is dangling so its mass teleports uniformly. Hub ranks
    highest, spokes tie exactly, total mass stays 1."""
    from extractpdf4j_spark.functions.graphops import pagerank
    edges = spark.createDataFrame(
        [("a", "hub"), ("c", "hub"), ("a", "hub")],  # dup collapses
        ["src", "dst"])
    got = {r["node"]: r["pr"]
           for r in pagerank(edges, n_iter=20,
                             checkpoint_every=4).collect()}
    assert set(got) == {"a", "c", "hub"}
    assert got["a"] == got["c"]                    # symmetric spokes
    assert got["hub"] > got["a"]
    assert abs(sum(got.values()) - 1.0) < 1e-4     # mass conserved


def test_pmi_collocations_hand_computed(spark):
    import math
    from extractpdf4j_spark.functions.textstats import pmi_collocations
    # "big data" always together (3x); "old data" once; fillers differ
    docs = [(1, "big data rules"), (2, "big data wins"),
            (3, "big data rules"), (4, "old data here")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = pmi_collocations(df, k=10, min_count=2).collect()
    got = {(r["x"], r["y"]): (r["pair_count"], r["pmi"]) for r in rows}
    # counts: 12 unigrams, 8 bigrams; big=3, data=4, rules=2
    n_uni, n_bi = 12, 8
    def pmi(cxy, cx, cy):
        return round((cxy * n_uni * n_uni) / (n_bi * cx * cy) and
                     math.log((cxy * n_uni * n_uni) / (n_bi * cx * cy))
                     * 1e6) / 1e6
    assert got[("big", "data")] == (3, pmi(3, 3, 4))
    assert got[("data", "rules")] == (2, pmi(2, 4, 2))
    assert ("old", "data") not in got  # min_count=2 drops the hapax pair
    # ranking: 'big data' (perfect association) outranks 'data rules'
    assert rows[0]["x"] == "big" and rows[0]["y"] == "data"


def test_corpus_overlap_matrix_hand_computed(spark):
    from extractpdf4j_spark.functions.dedup import corpus_overlap_matrix
    # A: 2 docs sharing shingle machinery with B; C disjoint
    rows = [("A", 1, "one two three four"),        # shingles: 2
            ("A", 2, "one two three five"),        # +1 new -> A has 3... wait recompute below
            ("B", 3, "one two three four"),        # identical to doc 1
            ("C", 4, "zz yy xx ww")]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    out = {(r["a"], r["b"]): r for r in
           corpus_overlap_matrix(df, group_col="source").collect()}
    # A shingles: {one two three, two three four, two three five} -> 3
    # B shingles: {one two three, two three four} -> 2; common = 2
    ab = out[("A", "B")]
    assert (ab["n_a"], ab["n_b"], ab["n_common"]) == (3, 2, 2)
    assert ab["jaccard"] == round(2 / 3, 6)
    assert ab["contain_in_a"] == 1.0      # B entirely inside A
    assert ("A", "C") not in out and ("B", "C") not in out  # disjoint


def test_cms_join_size_upper_bound_and_disjoint(spark):
    import collections
    from extractpdf4j_spark.functions.sketches import (cms_build,
                                                       cms_join_size)
    av = [f"k{i % 9}" for i in range(90)]
    bv = [f"k{i % 6}" for i in range(30)]   # k0..k5 overlap
    a = spark.createDataFrame([(v,) for v in av], "v string")
    b = spark.createDataFrame([(v,) for v in bv], "v string")
    ca, cb = collections.Counter(av), collections.Counter(bv)
    exact = sum(ca[k] * cb[k] for k in ca)
    # wide sketch: no collisions -> estimate is exact
    est = cms_join_size(cms_build(a, "v", depth=3, width=512),
                        cms_build(b, "v", depth=3, width=512),
                        depth=3).collect()[0]["est_join_size"]
    assert est == exact
    # narrow sketch: collisions only ever overestimate
    est8 = cms_join_size(cms_build(a, "v", depth=3, width=8),
                         cms_build(b, "v", depth=3, width=8),
                         depth=3).collect()[0]["est_join_size"]
    assert est8 >= exact
    # disjoint value sets can still collide in cells, never underestimate
    c = spark.createDataFrame([(f"z{i}",) for i in range(20)], "v string")
    estd = cms_join_size(cms_build(a, "v", depth=3, width=512),
                         cms_build(c, "v", depth=3, width=512),
                         depth=3).collect()[0]["est_join_size"]
    assert estd >= 0


def test_group_quantiles_weighted(spark):
    from extractpdf4j_spark.functions.statsops import group_quantiles
    # values 1,2,3 with weights 1,1,8: weighted p50 sits in value 3
    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 1), ("a", 3.0, 8)],
        "k string, v double, w long")
    got = {r["q_bp"]: r["quantile"]
           for r in group_quantiles(df, "v", ["k"], (2000, 5000, 10000),
                                    weight_col="w").collect()}
    # cum weights: 1, 2, 10 of total 10; q20 -> cum>=2 -> v=2
    assert got == {2000: 2.0, 5000: 3.0, 10000: 3.0}


def test_key_skew_hand_computed(spark):
    from extractpdf4j_spark.functions.statsops import key_skew
    # keys: a x6, b x2, c x1, d x1 -> total 10, n_keys 4, mean 2.5
    rows = [("a",)] * 6 + [("b",)] * 2 + [("c",)] + [("d",)]
    df = spark.createDataFrame(rows, "k string")
    got = key_skew(df, ["k"], top_n=2).orderBy("rnk").collect()
    assert [(r["k"], r["cnt"], r["rnk"]) for r in got] == \
        [("a", 6, 1), ("b", 2, 2)]
    assert got[0]["share"] == 0.6 and got[0]["skew_ratio"] == 2.4
    assert got[0]["total_rows"] == 10 and got[0]["n_keys"] == 4
    # tie-break is deterministic: c before d at equal counts
    top4 = key_skew(df, ["k"], top_n=4).orderBy("rnk").collect()
    assert [r["k"] for r in top4] == ["a", "b", "c", "d"]
    import pytest
    with pytest.raises(ValueError):
        key_skew(df, ["k"], top_n=0)


def test_salted_join_matches_plain_join(spark):
    from extractpdf4j_spark.functions.joins import salted_join
    left = spark.createDataFrame(
        [("hot", i) for i in range(40)] + [("c1", 1), ("c2", 2),
                                           ("orphan", 9)],
        "k string, v long")
    right = spark.createDataFrame(
        [("hot", 100), ("c1", 101), ("c2", 102), ("unused", 103)],
        "k string, w long")
    plain = sorted((r["k"], r["v"], r["w"]) for r in
                   left.join(right, "k").collect())
    salted = sorted((r["k"], r["v"], r["w"]) for r in
                    salted_join(left, right, "k", n_salts=4,
                                hot_keys=["hot"]).collect())
    assert salted == plain and len(salted) == 42
    # left-join keeps the orphan with null payload
    lj = sorted((r["k"], r["v"], r["w"]) for r in
                salted_join(left, right, "k", n_salts=4,
                            hot_keys=["hot"], how="left").collect())
    assert ("orphan", 9, None) in lj and len(lj) == 43
    # hot_keys=None salts everything, same rows
    allsalt = sorted((r["k"], r["v"], r["w"]) for r in
                     salted_join(left, right, "k", n_salts=3).collect())
    assert allsalt == plain
    import pytest
    with pytest.raises(ValueError):
        salted_join(left, right, "k", n_salts=0)
    with pytest.raises(ValueError):
        salted_join(left, right, "k", how="full")
    with pytest.raises(ValueError):
        salted_join(left.withColumn("_salt", left.v), right, "k")


def test_char_entropy_hand_computed(spark):
    import math
    from extractpdf4j_spark.functions.textstats import char_entropy
    docs = spark.createDataFrame(
        [(1, "hello world"),                      # plain text
         (2, ""),                                 # empty -> (0, 0, 0)
         (3, "aaaaaaa"),                          # single class -> H=0
         (4, "SGVsbG8gd29ybGQhISEhIQ=="),         # base64-ish, has other
         (5, "héllo ünïcode!")],                  # unicode pools to other
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in char_entropy(docs).collect()}

    def ref(s):
        t = s.lower()
        n = len(t)
        if n == 0:
            return (0, 0.0, 0.0)
        alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "
        cnts = [t.count(c) for c in alphabet]
        other = n - sum(cnts)
        ent = 0.0
        for c in cnts + [other]:
            if c > 0:
                p = c / n
                ent += -p * math.log(p)
        return (n, round(other / n, 6), round(ent, 6))

    for doc_id, text in [(1, "hello world"), (2, ""), (3, "aaaaaaa"),
                         (4, "SGVsbG8gd29ybGQhISEhIQ=="),
                         (5, "héllo ünïcode!")]:
        r = out[doc_id]
        assert (r["n_chars"], r["other_ratio"], r["char_entropy"]) \
            == ref(text), doc_id
    # the binary-blob signal: base64 doc has other_ratio > 0, text has 0
    assert out[4]["other_ratio"] > 0.0 and out[1]["other_ratio"] == 0.0
    # no shuffle: the whole operator is chained projections
    plan = char_entropy(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bpe_train_sennrich_example(spark):
    from extractpdf4j_spark.functions.textstats import bpe_train
    docs = spark.createDataFrame(
        [(1, "low low low low low"),
         (2, "lower lower newest newest"),
         (3, "newest newest newest newest widest widest widest")],
        "doc_id long, text string")
    got = [(r["merge_rank"], r["l_sym"], r["r_sym"], r["pair_count"])
           for r in bpe_train(docs, n_merges=6).orderBy("merge_rank")
           .collect()]
    # hand-derived greedy BPE on the word-frequency table
    # (low:5 lower:2 newest:6 widest:3); ties break pair-lexicographic
    assert got == [(1, "e", "s", 9), (2, "es", "t", 9), (3, "l", "o", 7),
                   (4, "lo", "w", 7), (5, "e", "w", 6), (6, "ew", "est", 6)]


def test_bpe_train_pair_space_exhausts(spark):
    from extractpdf4j_spark.functions.textstats import bpe_train
    # corpus of one 2-char word: only one pair exists, then nothing left
    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    got = [(r["merge_rank"], r["l_sym"], r["r_sym"], r["pair_count"])
           for r in bpe_train(docs, n_merges=4).orderBy("merge_rank")
           .collect()]
    assert got == [(1, "a", "b", 2)]


def test_bpe_token_counts_hand_computed(spark):
    from extractpdf4j_spark.functions.textstats import bpe_token_counts
    docs = spark.createDataFrame(
        [(1, "low low low low low"),
         (2, "lower lower newest newest"),
         (3, "newest newest newest newest widest widest widest"),
         (4, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
           for r in bpe_token_counts(docs, n_merges=6).collect()}
    # after 6 merges (e+s, es+t, l+o, lo+w, e+w, ew+est):
    # low->[low]=1 sym, lower->[low,e,r]=3, newest->[n,ewest]=2,
    # widest->[w,i,d,est]=4; doc 4 has no words -> (0, 0)
    assert got == {1: (5, 5), 2: (4, 2 * 3 + 2 * 2),
                   3: (7, 4 * 2 + 3 * 4), 4: (0, 0)}


def test_qhist_sketch_bounds_and_merge(spark):
    import math
    import random
    from extractpdf4j_spark.functions.sketches import (
        qhist_build, qhist_merge, qhist_quantiles)
    random.seed(7)
    vals = ([random.randint(1, 30) for _ in range(300)]
            + [int(random.lognormvariate(8, 2)) + 1 for _ in range(700)]
            + [0, -5])
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = qhist_build(df, "v")
    # state bound: buckets << values
    rows = sk.collect()
    assert len(rows) < len(vals) / 2
    # underflow bucket pools the two non-positive values at lo=0
    under = [r for r in rows if r["bl"] == 0]
    assert len(under) == 1 and under[0]["lo"] == 0 and under[0]["cnt"] == 2
    # values < 32 are exact singleton buckets (lo == v)
    assert all(r["lo"] < 32 for r in rows if 1 <= r["bl"] <= 5)
    # quantile answers: deterministic underestimate within 3.2% relative
    sv = sorted(vals)
    qs = {r["q_bp"]: r["quantile"] for r in qhist_quantiles(sk).collect()}
    for bp in (2500, 5000, 7500, 9500):
        exact = sv[math.ceil(bp / 10000 * len(sv)) - 1]
        got = qs[bp]
        assert got <= exact
        assert exact <= 32 or (exact - got) / exact <= 0.032, (bp, exact, got)
    # merge exactness: merge(qhist(X), qhist(Y)) == qhist(X ++ Y)
    a = qhist_build(spark.createDataFrame([(v,) for v in vals[:500]],
                                          "v long"), "v")
    b = qhist_build(spark.createDataFrame([(v,) for v in vals[500:]],
                                          "v long"), "v")
    key = lambda r: (r["bl"], r["mant"], r["lo"])
    assert ({key(r): r["cnt"] for r in qhist_merge(a, b).collect()}
            == {key(r): r["cnt"] for r in rows})


def test_bpe_train_randomized_vs_reference(spark):
    """Randomized parity: bpe_train must equal a scalar reference BPE
    trainer (word-frequency table, max-count argmax with pair-lex
    tie-break, greedy left-to-right merge) on arbitrary corpora."""
    import random
    from extractpdf4j_spark.functions.textstats import bpe_train

    def ref_bpe(texts, n):
        from collections import Counter
        wc = Counter(w for s in texts for w in s.lower().split() if w)
        vocab = {}
        for w, c in wc.items():
            t = tuple(w)
            vocab[t] = vocab.get(t, 0) + c
        merges = []
        for rank in range(1, n + 1):
            pc = Counter()
            for syms, c in vocab.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += c
            if not pc:
                break
            m = max(pc.values())
            pair = min(p for p, c in pc.items() if c == m)
            merges.append((rank, pair[0], pair[1], pc[pair]))
            newv = {}
            for syms, c in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms)
                            and (syms[i], syms[i + 1]) == pair):
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                newv[tuple(out)] = newv.get(tuple(out), 0) + c
            vocab = newv
        return merges

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        words = ["".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
                 for _ in range(12)]
        texts = [" ".join(rng.choice(words)
                          for _ in range(rng.randint(0, 15)))
                 for _ in range(6)]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string")
        got = [(r["merge_rank"], r["l_sym"], r["r_sym"], r["pair_count"])
               for r in bpe_train(docs, n_merges=5).orderBy("merge_rank")
               .collect()]
        assert got == ref_bpe(texts, 5), seed


def test_dedup_keep_one_prefer_cols(spark):
    from pyspark.sql import functions as F
    from extractpdf4j_spark.functions.dedup import dedup_keep_one
    docs = spark.createDataFrame(
        [(1, "hello world", 0.2),      # same normalized text as 2, 3
         (2, "hello   world ", 0.9),   # highest quality duplicate
         (3, " hello world", 0.9),     # quality tie with 2 -> id wins
         (4, "unique", 0.1)],
        "doc_id long, text string, quality double")
    # default: min id survives
    assert {r["doc_id"] for r in dedup_keep_one(docs).collect()} == {1, 4}
    # prefer quality desc: doc 2 beats 3 on the id tie-break
    kept = {r["doc_id"] for r in dedup_keep_one(
        docs, prefer_cols=[F.col("quality").desc()]).collect()}
    assert kept == {2, 4}


def test_audio_fingerprint_matches_scalar_reference(spark):
    """The codegen shingle hashes must equal a literal hashlib
    re-derivation on random payloads/durations — catches any drift in
    the window framing or hash chaining arithmetic."""
    import hashlib
    import random
    from extractpdf4j_spark.functions.multimodal import audio_fingerprint
    rng = random.Random(7)
    rows = [(f"a{i}", f"d{i}", "audio", rng.randint(1, 4000),
             bytes(rng.randrange(256) for _ in range(rng.randint(0, 20))))
            for i in range(40)]
    df = spark.createDataFrame(rows, "asset_id string, doc_id string, "
                               "kind string, duration_ms long, "
                               "payload binary")
    win_ms, shingle = 250, 3

    def wh(payload, w):
        hx = hashlib.sha256(payload + b"#" + str(w).encode()).hexdigest()
        return int(hx[:15], 16)

    want = {}
    for aid, _, _, dur, payload in rows:
        n = max(dur - 1, 0) // win_ms + 1
        for s in range(n - shingle + 1):
            parts = ":".join(str(wh(payload, s + k)) for k in range(shingle))
            hx = hashlib.sha256(parts.encode()).hexdigest()
            want[(aid, s)] = int(hx[:15], 16)
    got = {(r["asset_id"], r["shingle_idx"]): r["fp_hash"]
           for r in audio_fingerprint(df, win_ms=win_ms,
                                      shingle=shingle).collect()}
    assert got == want


def test_kcenter_select_planted_geometry(spark):
    """Hand-checkable greedy picks: seed = min id; each round adds the
    farthest-from-selected point (6dp cosine distance, min-id ties)."""
    import pytest as _pytest
    from extractpdf4j_spark.functions.similarity import kcenter_select
    z = [0.0] * 62
    rows = [(0, [1.0, 0.0] + z),       # seed
            (1, [0.99, 0.1] + z),      # near-clone of 0 -> picked last
            (2, [0.0, 1.0] + z),       # orthogonal: dist 1.0
            (3, [-1.0, 0.0] + z)]      # antipodal: dist 2.0
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kcenter_select(e, k=4).orderBy("sel_rank").collect()
    assert [r["vec_id"] for r in out] == [0, 3, 2, 1]
    assert out[0]["dist"] is None
    assert abs(out[1]["dist"] - 2.0) < 1e-9      # 1 - cos(0,3) = 2
    assert abs(out[2]["dist"] - 1.0) < 1e-9      # orthogonal to both
    assert out[3]["dist"] < 0.01                 # the near-clone
    with _pytest.raises(ValueError):
        kcenter_select(e, k=0)


def test_token_drift_hand_computed(spark):
    import math
    from collections import Counter
    from extractpdf4j_spark.functions.textstats import (
        distribution_divergence, token_drift)
    old_rows = [(1, "the cat sat on the mat"),
                (2, "the dog ate the bone")]
    new_rows = [(3, "the cat sat on the rug"),
                (4, "a bird sang a song")]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    def toks(rows):
        c = Counter()
        for _, t in rows:
            c.update(w for w in t.lower().strip().split() if w)
        return c

    ca, cb = toks(old_rows), toks(new_rows)
    vocab = sorted(set(ca) | set(cb))
    v, ta, tb = len(vocab), sum(ca.values()), sum(cb.values())
    exp, ka_sum, kb_sum, js_sum = {}, 0, 0, 0
    for t in vocab:
        pa = (ca.get(t, 0) + 1) / (ta + v)
        pb = (cb.get(t, 0) + 1) / (tb + v)
        m = (pa + pb) / 2.0
        ka = round(pa * math.log(pa / pb) * 1e9)
        kb = round(pb * math.log(pb / pa) * 1e9)
        js = round(0.5 * (pa * math.log(pa / m)
                          + pb * math.log(pb / m)) * 1e9)
        exp[t] = (ca.get(t, 0), cb.get(t, 0), ka, kb, js)
        ka_sum += ka
        kb_sum += kb
        js_sum += js

    out = {r["token"]: r for r in token_drift(old, new).collect()}
    assert set(out) == set(vocab)
    for t in vocab:
        r = out[t]
        assert (r["cnt_a"], r["cnt_b"], r["kl_ab_nano"],
                r["kl_ba_nano"], r["js_nano"]) == exp[t], t
        assert (r["tot_a"], r["tot_b"], r["vocab"]) == (ta, tb, v)

    summ = distribution_divergence(old, new).collect()[0]
    assert (summ["vocab"], summ["tot_a"], summ["tot_b"]) == (v, ta, tb)
    assert summ["kl_ab"] == round(ka_sum / 1e9, 6)
    assert summ["kl_ba"] == round(kb_sum / 1e9, 6)
    assert summ["js"] == round(js_sum / 1e9, 6)
    # divergence invariants: total KL >= 0, JS symmetric and <= ln 2
    assert summ["kl_ab"] >= 0 and summ["kl_ba"] >= 0
    assert 0 <= summ["js"] <= math.log(2) + 1e-9
    rev = distribution_divergence(new, old).collect()[0]
    assert rev["js"] == summ["js"]
    # identical snapshots -> zero drift everywhere
    zero = distribution_divergence(old, old).collect()[0]
    assert (zero["kl_ab"], zero["kl_ba"], zero["js"]) == (0.0, 0.0, 0.0)


def test_token_drift_grouped_matches_per_key(spark):
    from extractpdf4j_spark.functions.textstats import (
        distribution_divergence, token_drift)
    old = spark.createDataFrame(
        [(1, "x", "alpha beta beta gamma"),
         (2, "x", "alpha delta"),
         (3, "y", "one two three"),
         # key absent from `new`; repeated token keeps the smoothed
         # distribution non-uniform (all-singleton counts smooth to
         # EXACTLY uniform == the smoothed empty side, a zero-JS tie)
         (4, "z", "only only only in old corpus")],
        "doc_id long, src string, text string")
    new = spark.createDataFrame(
        [(5, "x", "alpha beta epsilon"),
         (6, "y", "one two two four")],
        "doc_id long, src string, text string")

    grouped = token_drift(old, new, key_cols=["src"]).collect()
    assert {r["src"] for r in grouped} == {"x", "y", "z"}
    for src in ("x", "y", "z"):
        solo = {r["token"]: r for r in token_drift(
            old.filter(old.src == src), new.filter(new.src == src))
            .collect()}
        sub = {r["token"]: r for r in grouped if r["src"] == src}
        assert set(sub) == set(solo), src
        for t, r in sub.items():
            s = solo[t]
            assert tuple(r[c] for c in
                         ("cnt_a", "cnt_b", "tot_a", "tot_b", "vocab",
                          "kl_ab_nano", "kl_ba_nano", "js_nano")) \
                == tuple(s[c] for c in
                         ("cnt_a", "cnt_b", "tot_a", "tot_b", "vocab",
                          "kl_ab_nano", "kl_ba_nano", "js_nano")), (src, t)

    summ = {r["src"]: r for r in
            distribution_divergence(old, new, key_cols=["src"]).collect()}
    assert set(summ) == {"x", "y", "z"}
    for src in ("x", "y", "z"):
        solo = distribution_divergence(old.filter(old.src == src),
                                       new.filter(new.src == src)
                                       ).collect()[0]
        r = summ[src]
        assert (r["kl_ab"], r["kl_ba"], r["js"]) == \
            (solo["kl_ab"], solo["kl_ba"], solo["js"]), src
    # the old-only key still yields a well-defined, positive drift
    assert summ["z"]["tot_b"] == 0 and summ["z"]["js"] > 0


def test_counts_drift_matches_text_path(spark):
    """counts_drift/counts_divergence over pre-aggregated vocabulary
    tables must equal token_drift/distribution_divergence over the raw
    text — the persisted-artifact workflow contract."""
    from collections import Counter
    from extractpdf4j_spark.functions.textstats import (
        counts_divergence, counts_drift, distribution_divergence,
        token_drift)
    old_rows = [(1, "the cat sat on the mat"),
                (2, "the dog ate the bone")]
    new_rows = [(3, "the cat sat on the rug"),
                (4, "a bird sang a song")]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    def cdf(rows):
        c = Counter()
        for _, t in rows:
            c.update(w for w in t.lower().strip().split() if w)
        return spark.createDataFrame(sorted(c.items()),
                                     "token string, cnt long")

    cols = ("cnt_a", "cnt_b", "tot_a", "tot_b", "vocab",
            "kl_ab_nano", "kl_ba_nano", "js_nano")
    via_counts = {r["token"]: tuple(r[c] for c in cols)
                  for r in counts_drift(cdf(old_rows),
                                        cdf(new_rows)).collect()}
    via_text = {r["token"]: tuple(r[c] for c in cols)
                for r in token_drift(old, new).collect()}
    assert via_counts == via_text and len(via_text) > 0

    cs = counts_divergence(cdf(old_rows), cdf(new_rows)).collect()[0]
    ds = distribution_divergence(old, new).collect()[0]
    assert cs.asDict() == ds.asDict()


def test_rp_project_matches_scalar_reference(spark):
    import numpy as np
    from extractpdf4j_spark.functions.similarity import _rp_signs, rp_project
    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(40)],
        "vec_id: long, embedding: array<float>")
    got = {r["vec_id"]: list(r["rp_micro"])
           for r in rp_project(df, out_dim=4, dim=16).collect()}
    S = _rp_signs(16, 4)
    Xi = np.floor(X.astype(np.float64) * 1e6).astype(np.int64)
    want = Xi @ S
    for i in range(40):
        assert got[i] == list(want[i]), i


def test_rp_project_preserves_cosine(spark):
    import numpy as np
    from extractpdf4j_spark.functions.similarity import rp_project
    rng = np.random.default_rng(0)
    X = rng.normal(size=(30, 64)).astype(np.float32)
    X[1] = X[0] + 0.05 * X[1]            # a planted near-duplicate pair
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(30)],
        "vec_id: long, embedding: array<float>")
    got = {r["vec_id"]: np.asarray(r["rp"])
           for r in rp_project(df, out_dim=16, dim=64).collect()}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    errs = []
    for i in range(0, 30, 3):
        for j in range(1, 30, 7):
            if i == j:
                continue
            true = cos(X[i].astype(np.float64), X[j].astype(np.float64))
            proj = cos(got[i], got[j])
            errs.append(abs(true - proj))
    # JL with out_dim=16: individual error bounded, mean much tighter
    assert max(errs) < 0.55, max(errs)
    assert sum(errs) / len(errs) < 0.2, sum(errs) / len(errs)
    # the planted near-dup pair stays near-dup in projected space
    assert cos(got[0], got[1]) > 0.9


def test_embedding_audit_hand_computed(spark):
    import math
    from extractpdf4j_spark.functions.similarity import embedding_audit
    nan, inf = float("nan"), float("inf")
    rows = [
        (1, [0.5, -0.25, 0.0, 1.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),               # zero vector
        (3, [1.0, nan, inf, -inf]),              # poisoned
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    got = {r["vec_id"]: r.asDict()
           for r in embedding_audit(df, dim=4).collect()}
    assert got[1]["n_zero"] == 1 and got[1]["n_nan"] == 0
    assert got[1]["sumsq_micro"] == (500000**2 + 250000**2 + 0
                                     + 1000000**2)
    assert got[1]["norm"] == round(
        math.sqrt(500000**2 + 250000**2 + 1000000**2) / 1e6, 6)
    assert got[2]["n_zero"] == 4 and got[2]["sumsq_micro"] == 0
    assert got[2]["norm"] == 0.0
    assert got[3]["n_nan"] == 1 and got[3]["n_inf"] == 2
    assert got[3]["sumsq_micro"] == 1000000**2   # finite comps only


def test_bpe_encode_reconstructs_words_and_matches_counts(spark):
    from pyspark.sql import functions as F
    from extractpdf4j_spark.functions.textstats import (
        bpe_encode, bpe_token_counts)
    rows = [(1, "low lower lowest low low"),
            (2, "new newer news  low"),
            (3, ""),
            (4, "banana bandana")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    enc = bpe_encode(df, n_merges=5).collect()
    # concatenating tokens over spos reconstructs each word
    words = {}
    for r in sorted(enc, key=lambda r: (r["doc_id"], r["wpos"], r["spos"])):
        words.setdefault((r["doc_id"], r["wpos"]), []).append(r["token"])
    for (d, w), toks in words.items():
        assert "".join(toks) != ""
    rebuilt = {
        d: " ".join("".join(words[(dd, w)])
                    for dd, w in sorted(words) if dd == d)
        for d in {k[0] for k in words}}
    assert rebuilt[1] == "low lower lowest low low"
    assert rebuilt[2] == "new newer news low"
    assert rebuilt[4] == "banana bandana"
    assert 3 not in rebuilt                      # empty doc emits nothing
    # total emitted tokens per doc == bpe_token_counts' budget number
    got_counts = {r["doc_id"]: r["n_bpe_tokens"]
                  for r in bpe_token_counts(df, n_merges=5).collect()}
    from collections import Counter
    emitted = Counter(r["doc_id"] for r in enc)
    for d, n in got_counts.items():
        assert emitted.get(d, 0) == n, (d, emitted.get(d, 0), n)
    # doc_filter restricts emission without changing training
    only2 = bpe_encode(df, n_merges=5,
                       doc_filter=(F.col("doc_id") == 2)).collect()
    assert {r["doc_id"] for r in only2} == {2}
    assert sorted((r["wpos"], r["spos"], r["token"]) for r in only2) == \
        sorted((r["wpos"], r["spos"], r["token"])
               for r in enc if r["doc_id"] == 2)


def test_rp_topk_exact_when_shortlist_covers_corpus(spark):
    import numpy as np
    from extractpdf4j_spark.functions.similarity import cosine_topk, rp_topk
    rng = np.random.default_rng(3)
    X = rng.normal(size=(60, 32)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(60)],
        "vec_id: long, embedding: array<float>")
    exact = [(r["vec_id"], r["cosine"])
             for r in cosine_topk(df, query_id=5, k=10).collect()]
    # shortlist >= corpus: the coarse pass cannot lose anything
    two = [(r["vec_id"], r["cosine"])
           for r in rp_topk(df, query_id=5, k=10, out_dim=8,
                            shortlist=60, dim=32).collect()]
    assert two == exact
    # a realistic shortlist still recalls most of the exact top-10
    approx = {r["vec_id"]
              for r in rp_topk(df, query_id=5, k=10, out_dim=16,
                               shortlist=20, dim=32).collect()}
    hit = len(approx & {v for v, _ in exact})
    assert hit >= 6, hit
    # a precomputed sketch (project once, query many) is result-identical
    from extractpdf4j_spark.functions.similarity import rp_project
    sketch = rp_project(df, out_dim=8, dim=32)
    reuse = [(r["vec_id"], r["cosine"])
             for r in rp_topk(df, query_id=5, k=10, out_dim=8,
                              shortlist=60, dim=32, rp=sketch).collect()]
    assert reuse == exact
