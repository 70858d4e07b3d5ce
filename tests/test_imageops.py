"""Exactness tests for the tiled/fused image primitives against the
straightforward generic implementations."""

import numpy as np

import oracle
from extractpdf4j_spark import imageops


def rand_imgs():
    rng = np.random.RandomState(7)
    yield rng.randint(0, 256, (300, 200)).astype(np.uint8)
    yield rng.randint(0, 256, (128, 850)).astype(np.uint8)   # strip boundary
    yield rng.randint(0, 256, (129, 64)).astype(np.uint8)
    yield np.full((50, 50), 255, dtype=np.uint8)
    img = np.full((400, 600), 255, dtype=np.uint8)
    img[100:102, :] = 0
    img[:, 300:302] = 0
    yield img
    # border runs at exactly 35%: an even-k opening grows them by one
    # pixel, to just over the threshold (bilevel and grayscale paths)
    img = np.full((60, 100), 255, dtype=np.uint8)
    img[40, 0:35] = 0
    img[0:21, 50] = 0
    yield img
    yield np.where(img == 0, 3, 250).astype(np.uint8)
    # realistic grayscale ruled page: paper 245 minus 0-23 noise, 3-px
    # rules at level 20, 10x2 glyph strokes at level 30
    img = (245 - rng.randint(0, 24, (330, 255))).astype(np.uint8)
    img[40:43, :] = 20
    img[200:203, 10:240] = 20
    img[:, 30:33] = 20
    img[20:310, 180:183] = 20
    for y, x in zip(rng.randint(50, 190, 60), rng.randint(40, 170, 60)):
        img[y:y + 2, x:x + 10] = 30
    yield img
    yield rng.randint(0, 256, (90, 1)).astype(np.uint8)   # 1 px wide


def test_tiled_binarize_bit_identical_to_generic():
    for img in rand_imgs():
        fast = imageops.binarize_for_lines(img)
        ref = imageops.adaptive_threshold(img, 15, 10, "mean", invert=True)
        assert (fast == ref).all()


def test_window_count_anchor_and_pads():
    m = np.array([[1, 1, 0, 1, 1, 1, 0, 0]], dtype=np.uint8)
    # erode k=3 pad=1: window [i-1, i+1]
    er = imageops._window_count(m, 3, axis=1, border=1) == 3
    assert er.astype(int).tolist() == [[1, 0, 0, 0, 1, 0, 0, 0]]
    di = imageops._window_count(m, 3, axis=1, border=0) > 0
    assert di.astype(int).tolist() == [[1, 1, 1, 1, 1, 1, 1, 0]]
    # replicate k=4 (anchor 2, window [i-2, i+1]): edges count their own
    # value for each clamped slot, on both axes
    g = np.array([[5, 1, 0, 2, 7]], dtype=np.uint8)
    rep = imageops._window_count(g, 4, axis=1, border="replicate")
    assert rep.tolist() == [[16, 11, 8, 10, 16]]
    rep0 = imageops._window_count(g.T, 4, axis=0, border="replicate")
    assert rep0.T.tolist() == rep.tolist()


def test_detect_line_positions_matches_unfused_path():
    for img in rand_imgs():
        for k in (5, 10, 25):
            want_r, want_c = oracle.line_peaks(
                imageops.binarize_for_lines(img), k)
            got_r, got_c = imageops.detect_line_positions(img, k)
            assert list(got_r) == want_r, k
            assert list(got_c) == want_c, k

