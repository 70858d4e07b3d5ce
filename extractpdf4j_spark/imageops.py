"""Pure-numpy image primitives for the lattice / ocrstream kernels.

The reference uses OpenCV (via bytedeco JavaCPP) for binarization,
morphology and projection profiling. This container has no OpenCV, and the
reference's per-pixel Java loops are exactly the kind of work numpy
reductions do well, so every primitive here is a vectorized numpy
re-implementation with the reference's constants:

* adaptive mean threshold 15/10 BINARY_INV  — ImagePdfUtils.java:95-99
* adaptive gaussian threshold 31/15 INV     — OcrStreamParser.java:124
* adaptive gaussian threshold 35/15 BINARY  — LatticeParser.java:213
* rect-kernel erode/dilate (morph open)     — LatticeParser.java:150-157,
                                              OcrStreamParser.java:215-231
* projection-profile line detection >35%    — LatticeParser.java:268-291
  (the O(W*H) Java pixel loop becomes one axis reduction)
* near-duplicate line dedupe (tol px)       — LatticeParser.java:297-307

Binary images use the OpenCV convention: uint8, 0 = background,
255 = foreground ("white" mask pixels).

All morphology here operates on binary masks, which lets us use windowed
*counts* (cumulative sums, O(N) independent of kernel size) instead of
sliding min/max: erode == "all k pixels in window set", dilate == "any
pixel in window set". Border behavior matches OpenCV defaults (erode pads
+inf ≙ set, dilate pads -inf ≙ unset).
"""

from __future__ import annotations

import numpy as np

LINE_COVERAGE = 0.35  # a line is a row/column >35% set — LatticeParser.java:278


# ---------------------------------------------------------------------------
# Windowed sums (the building block)
# ---------------------------------------------------------------------------

def _window_count(arr: np.ndarray, k: int, axis: int,
                  border: int | str) -> np.ndarray:
    """Sum of a length-k window along ``axis`` with OpenCV center anchor
    a=k//2 (window for output i covers [i-a, i+k-1-a]). ``border`` is
    the padding: 0 or 1 (constant — dilate/erode of a 0/1 mask) or
    ``"replicate"`` (the box filter of adaptiveThreshold). O(N)
    independent of k.

    Uses uint16 cumulative sums with NATURAL OVERFLOW: the running total
    wraps mod 2^16, but window differences c[i+k]-c[i] computed in uint16
    arithmetic are exact while every true window sum fits in 16 bits
    (callers keep it there). Halving the accumulator width matters — at
    32 cores these kernels are memory-bandwidth-bound, not compute-bound."""
    if k <= 1:
        return arr.astype(np.uint16)
    assert k < 65536
    a = k // 2
    pad = [(0, 0), (0, 0)]
    pad[axis] = (a + 1, k - 1 - a)   # +1 leading zero slot for the diff
    if border == "replicate":
        p = np.pad(arr, pad, mode="edge")
    else:
        p = np.pad(arr, pad, mode="constant", constant_values=border)
    if border:
        # the extra leading slot must be zero for the running sum diff
        if axis == 0:
            p[0, :] = 0
        else:
            p[:, 0] = 0
    c = np.cumsum(p, axis=axis, dtype=np.uint16)  # overflow-exact windows
    n = arr.shape[axis]
    if axis == 0:
        return c[k:k + n, :] - c[0:n, :]
    return c[:, k:k + n] - c[:, 0:n]


def erode_binary(bin_img: np.ndarray, kw: int, kh: int) -> np.ndarray:
    """Erosion with a (kw x kh) rect kernel on a 0/255 binary image."""
    m = (bin_img > 0).astype(np.uint8)
    if kw > 1:
        m = (_window_count(m, kw, axis=1, border=1) == kw).astype(np.uint8)
    if kh > 1:
        m = (_window_count(m, kh, axis=0, border=1) == kh).astype(np.uint8)
    return m * np.uint8(255)


def dilate_binary(bin_img: np.ndarray, kw: int, kh: int) -> np.ndarray:
    """Dilation with a (kw x kh) rect kernel on a 0/255 binary image."""
    m = (bin_img > 0).astype(np.uint8)
    if kw > 1:
        m = (_window_count(m, kw, axis=1, border=0) > 0).astype(np.uint8)
    if kh > 1:
        m = (_window_count(m, kh, axis=0, border=0) > 0).astype(np.uint8)
    return m * np.uint8(255)


def morph_open_binary(bin_img: np.ndarray, kw: int, kh: int) -> np.ndarray:
    """MORPH_OPEN = erode then dilate with the same kernel."""
    return dilate_binary(erode_binary(bin_img, kw, kh), kw, kh)


# ---------------------------------------------------------------------------
# Adaptive thresholding
# ---------------------------------------------------------------------------

def _box_mean(gray: np.ndarray, block: int) -> np.ndarray:
    """Box-filter mean with replicate borders, rounded like OpenCV's
    boxFilter path inside adaptiveThreshold. Separable 16-bit windowed
    sums (block<=15 ⇒ row sums <=3825, 2-D sums <=57375 — both exact in
    uint16 via the overflow trick); floor(s/b²+0.5) = (2s+b²)//(2b²).
    Bandwidth, not FLOPs, bounds these kernels at high core counts."""
    assert block * block * 255 < 65536, "block too large for u16 scheme"
    s1 = _window_count(gray, block, axis=1, border="replicate")
    s = _window_count(s1, block, axis=0, border="replicate").astype(np.int32)
    b2 = block * block
    return (2 * s + b2) // (2 * b2)


def _gaussian_kernel(ksize: int) -> np.ndarray:
    """OpenCV getGaussianKernel weights for sigma<=0:
    sigma = 0.3*((ksize-1)*0.5 - 1) + 0.8."""
    sigma = 0.3 * ((ksize - 1) * 0.5 - 1) + 0.8
    i = np.arange(ksize, dtype=np.float64) - (ksize - 1) / 2.0
    k = np.exp(-(i * i) / (2.0 * sigma * sigma))
    return k / k.sum()


def _sep_filter(gray: np.ndarray, weights: np.ndarray, axis: int) -> np.ndarray:
    k = len(weights)
    a = k // 2
    pad = [(0, 0), (0, 0)]
    pad[axis] = (a, k - 1 - a)
    p = np.pad(gray, pad, mode="edge")
    win = np.lib.stride_tricks.sliding_window_view(p, k, axis=axis)
    return win @ weights


def _gaussian_mean(gray: np.ndarray, block: int) -> np.ndarray:
    # float32 halves the bandwidth of the two separable passes; the
    # result feeds a +/-15 threshold so sub-1e-3 rounding is immaterial
    w = _gaussian_kernel(block).astype(np.float32)
    g = _sep_filter(gray.astype(np.float32), w, axis=0)
    g = _sep_filter(g, w, axis=1)
    return np.floor(g + 0.5)


def adaptive_threshold(gray: np.ndarray, block: int, c: float,
                       method: str = "mean", invert: bool = True) -> np.ndarray:
    """OpenCV-style adaptiveThreshold with maxval=255.

    ``invert=True``  → THRESH_BINARY_INV: dst=255 where src <= T else 0
    ``invert=False`` → THRESH_BINARY:     dst=255 where src >  T else 0
    with T = localmean(block) - c. ``method="mean"`` with 15/10 is the
    reference the tests hold ``binarize_for_lines`` to.
    """
    mean = _box_mean(gray, block) if method == "mean" else _gaussian_mean(gray, block)
    t = (mean - c).astype(np.int16)  # mean-c ∈ [-c, 255]; int16 halves traffic
    g = gray.astype(np.int16)
    out = (g <= t) if invert else (g > t)
    return out.astype(np.uint8) * np.uint8(255)


def _is_bilevel(gray: np.ndarray) -> bool:
    """True when every pixel is 0 or 255 (the packed-bits raster case).
    ``(g+1) & 0xFE`` is 0 exactly for g ∈ {0, 255} under uint8 wrap."""
    return not np.any((gray + np.uint8(1)) & np.uint8(0xFE))


def _win15_axis1_u8(z: np.ndarray) -> np.ndarray:
    """15-wide replicate-border window count along axis 1 of a 0/1 uint8
    mask, as two-level shift-adds (3+5 adds, all SIMD u8 — no cumsum
    dependency chain). Exact: counts <= 225 fit uint8."""
    h, n = z.shape
    p = np.empty((h, n + 14), dtype=np.uint8)   # manual replicate pad:
    p[:, 7:n + 7] = z                           # np.pad's generic path is
    p[:, :7] = z[:, :1]                         # a measured hot spot here
    p[:, n + 7:] = z[:, n - 1:n]
    s3 = p[:, 0:n + 12].copy()
    s3 += p[:, 1:n + 13]
    s3 += p[:, 2:n + 14]
    out = s3[:, 0:n].copy()
    for o in (3, 6, 9, 12):
        out += s3[:, o:n + o]
    return out


def _bilevel_mask01(gray: np.ndarray | None,
                    z: np.ndarray | None = None) -> np.ndarray:
    """``binarize_for_lines(gray) > 0`` as a 0/1 uint8 mask, for BILEVEL
    input only — bit-identical to the generic path, ~3x faster at 32
    cores (u8 shift-add window counts, axis-0 pass strip-tiled so every
    temporary stays cache-resident). ``z``, when given, must be
    ``(gray == 0)`` as uint8, and ``gray`` is then not read (it may be
    None): a decoded bilevel page holds only ``z``.

    Derivation: with pixels ∈ {0,255} the window sum is 255·cnt255, and
    the integer compare (g+10)·450 <= 2s+225 of ``_binarize_region_rows``
    reduces to ``g==0 and cnt255>=9`` ⟺ ``g==0 and cnt0<=216``
    (cnt0+cnt255=225 under replicate borders)."""
    if z is None:
        z = (gray == 0).view(np.uint8)
    h, w = z.shape
    out = np.empty((h, w), dtype=np.uint8)
    s1 = _win15_axis1_u8(z)
    for y0 in range(0, h, 128):
        y1 = min(h, y0 + 128)
        lo, hi = max(0, y0 - 7), min(h, y1 + 7)
        seg = s1[lo:hi]
        tp, bp = 7 - (y0 - lo), 7 - (hi - y1)
        if tp or bp:
            padded = np.empty((hi - lo + tp + bp, w), dtype=np.uint8)
            padded[tp:tp + (hi - lo)] = seg
            padded[:tp] = seg[:1]
            padded[tp + (hi - lo):] = seg[-1:]
            seg = padded
        n = y1 - y0
        s3 = seg[0:n + 12, :].copy()
        s3 += seg[1:n + 13, :]
        s3 += seg[2:n + 14, :]
        s = s3[0:n, :].copy()
        for o in (3, 6, 9, 12):
            s += s3[o:n + o, :]
        out[y0:y1] = z[y0:y1] & (s <= 216)
    return out


def _win15_bound_le216(cov: np.ndarray, first: np.ndarray,
                       last: np.ndarray) -> bool:
    """True when the 15-wide replicate-padded window sum of the per-line
    bounds ``min(15, cov + 7*(first + last))`` is <= 216 everywhere — see
    ``detect_line_positions`` for why that proves ``_bilevel_mask01`` is
    the plain black-pixel mask."""
    b = np.minimum(cov, 15).astype(np.uint8)
    b += np.uint8(7) * (first + last)
    np.minimum(b, 15, out=b)
    return int(_win15_axis1_u8(b[None, :]).max()) <= 216


def _binarize_region_rows(gray: np.ndarray, y0: int, y1: int) -> np.ndarray:
    """Rows [y0, y1) of ``binarize_for_lines(gray)`` — exact, including
    the replicate-border semantics relative to the FULL image."""
    block, c = 15, 10
    a = block // 2
    h, w = gray.shape
    lo = max(0, y0 - a)
    hi = min(h, y1 + (block - 1 - a))
    g = gray[lo:hi]
    top_pad = a - (y0 - lo)
    bot_pad = (block - 1 - a) - (hi - y1)
    if top_pad or bot_pad:
        g = np.pad(g, ((top_pad, bot_pad), (0, 0)), mode="edge")
    s1 = _window_count(g, block, axis=1, border="replicate")
    zero = np.zeros((1, w), dtype=np.uint16)
    c2 = np.cumsum(np.vstack([zero, s1]), axis=0, dtype=np.uint16)
    n = y1 - y0
    b2 = block * block
    s = (c2[block:block + n] - c2[0:n]).astype(np.int32)
    lhs = (gray[y0:y1].astype(np.int32) + c) * (2 * b2)
    return np.where(lhs <= 2 * s + b2, 255, 0).astype(np.uint8)


def binarize_for_lines(gray: np.ndarray) -> np.ndarray:
    """ImagePdfUtils.binarizeForLines (ImagePdfUtils.java:95-99):
    adaptive MEAN_C, BINARY_INV, block=15, C=10.

    Strip-tiled so every temporary stays cache-resident: at 32 cores the
    full-image u16/int32 temporaries of the generic path double the
    per-page CPU through DRAM contention (measured 248→503 kernel-CPU
    seconds on the bench corpus). Bit-identical to
    ``adaptive_threshold(gray, 15, 10, 'mean', invert=True)``."""
    h, w = gray.shape
    if h == 0 or w == 0:
        return np.zeros((h, w), dtype=np.uint8)
    if _is_bilevel(gray):
        return _bilevel_mask01(gray) * np.uint8(255)
    out = np.empty((h, w), dtype=np.uint8)
    for y0 in range(0, h, 128):
        y1 = min(h, y0 + 128)
        out[y0:y1] = _binarize_region_rows(gray, y0, y1)
    return out


def _open_count_rows(sub01: np.ndarray, k: int) -> np.ndarray:
    """Per-row set-pixel count after a 1-D opening of width k (the
    erode+dilate pair with OpenCV border semantics)."""
    er = (_window_count(sub01, k, axis=1, border=1) == k).astype(np.uint8)
    op = _window_count(er, k, axis=1, border=0) > 0
    return op.sum(axis=1)


def _line_candidates(cov: np.ndarray, length: int) -> np.ndarray:
    """Lines whose opened coverage can still exceed ``LINE_COVERAGE``. A
    1-D opening adds at most ONE pixel to a line: with an even k the
    anchor k//2 (the same for erode and dilate) shifts every run one
    pixel to the right, and a run that starts at the border keeps its
    start (the erosion pads with 1), so it grows by one. Raw coverage
    within one pixel of the threshold must therefore still be opened
    exactly."""
    return np.where(cov > length * LINE_COVERAGE - 1)[0]


def _open_lines(m01: np.ndarray, row_cov: np.ndarray, col_cov: np.ndarray,
                k: int) -> tuple[np.ndarray, np.ndarray]:
    """Rows/columns of the 0/1 mask ``m01`` (raw coverage ``row_cov`` /
    ``col_cov``) whose coverage after a (k,1)/(1,k) opening exceeds
    ``LINE_COVERAGE``; only the candidate lines are opened."""
    h, w = m01.shape
    rows_out = np.empty(0, dtype=np.int64)
    cand_r = _line_candidates(row_cov, w)
    if len(cand_r):
        keep = _open_count_rows(m01[cand_r], k) > w * LINE_COVERAGE
        rows_out = cand_r[keep]
    cols_out = np.empty(0, dtype=np.int64)
    cand_c = _line_candidates(col_cov, h)
    if len(cand_c):
        sub = np.ascontiguousarray(m01[:, cand_c].T)
        keep = _open_count_rows(sub, k) > h * LINE_COVERAGE
        cols_out = cand_c[keep]
    return rows_out, cols_out


def detect_line_positions(gray: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Binarize → morphological-open → projection for BOTH axes.

    Every page builds ONE 0/1 mask equal to ``binarize_for_lines(gray) >
    0`` and counts its per-row/per-column coverage; ``_open_lines`` then
    applies the exact 1-D opening to the candidate lines only (see
    ``_line_candidates``). Bit-identical to erode+dilate with a (k,1)/
    (1,k) kernel then the >35% projection (LatticeParser.java:150-161,
    268-291) on ``binarize_for_lines(gray)`` for both axes — pinned by
    tests against the literal oracle.

    This entry point takes a raw uint8 page and sniffs it: a bilevel one
    (every pixel 0 or 255) goes to :func:`bilevel_line_positions` with
    its black mask ``gray == 0``; a grayscale one uses
    ``binarize_for_lines``. The lattice kernel calls
    ``bilevel_line_positions`` itself for a payload whose header says
    bilevel, so a decoded bilevel page is never expanded or rescanned."""
    if _is_bilevel(gray):
        return bilevel_line_positions((gray == 0).view(np.uint8), k)
    h, w = gray.shape
    acc = np.uint16 if max(h, w) < 65536 else np.int64
    m01 = (binarize_for_lines(gray) > 0).view(np.uint8)
    return _open_lines(m01, m01.sum(axis=1, dtype=acc),
                       m01.sum(axis=0, dtype=acc), k)


def bilevel_line_positions(z: np.ndarray, k: int
                           ) -> tuple[np.ndarray, np.ndarray]:
    """``detect_line_positions`` of a bilevel page, from its 0/1 uint8
    black mask ``z`` (1 where the pixel is 0). The adaptive mask is the
    plain black-pixel mask ``z`` when a bound proves it exact, and
    ``_bilevel_mask01`` otherwise.

    Bilevel bound: ``_bilevel_mask01`` clears a black pixel only when
    its 15x15 window holds >= 217 black pixels, so the mask is ``z``
    whenever no window reaches 217. A row's share of any window is at
    most ``min(15, row_cov + 7*(z[r,0] + z[r,-1]))``: under replicate
    borders an interior pixel is counted at most once per window row,
    but an edge pixel up to 8 times (itself plus 7 clamped copies; in a
    1-px-wide image both terms name the same pixel, 1 + 7 + 7 = 15).
    Summing those row bounds over a 15-row replicate-padded window bounds
    every window count, and the same holds for columns. If either axis's
    windowed bound is <= 216 everywhere, ``z`` is the mask and the
    adaptive window is skipped; otherwise the exact ``_bilevel_mask01``
    runs on ``z``. Ruled or blank pages pass the bound; pages with
    rendered glyphs or dense rules usually fail it and pay the full
    window."""
    h, w = z.shape
    acc = np.uint16 if max(h, w) < 65536 else np.int64
    row_cov = z.sum(axis=1, dtype=acc)
    col_cov = z.sum(axis=0, dtype=acc)
    if h and w and (_win15_bound_le216(row_cov, z[:, 0], z[:, -1])
                    or _win15_bound_le216(col_cov, z[0, :], z[-1, :])):
        return _open_lines(z, row_cov, col_cov, k)
    m01 = _bilevel_mask01(None, z)
    return _open_lines(m01, m01.sum(axis=1, dtype=acc),
                       m01.sum(axis=0, dtype=acc), k)


# ---------------------------------------------------------------------------
# Line projection / dedupe (lattice)
# ---------------------------------------------------------------------------

def dedupe_positions(xs: np.ndarray, tol: int) -> list[int]:
    """Sort then drop neighbors within tol (LatticeParser.java:297-307:
    keep v when |v-last| > tol)."""
    if len(xs) == 0:
        return []
    xs = np.sort(np.asarray(xs))
    out = [int(xs[0])]
    last = int(xs[0])
    for v in xs[1:]:
        v = int(v)
        if abs(v - last) > tol:
            out.append(v)
            last = v
    return out


def remove_rules(bin_inv: np.ndarray) -> np.ndarray:
    """OcrStreamParser.removeRules (OcrStreamParser.java:215-231):
    open with (max(w/30,35),1) and (1,max(h/24,30)) kernels, OR the rule
    masks, subtract from the text mask (binary ⇒ AND NOT)."""
    h, w = bin_inv.shape
    h_kw = max(w // 30, 35)
    v_kh = max(h // 24, 30)
    h_lines = morph_open_binary(bin_inv, h_kw, 1)
    v_lines = morph_open_binary(bin_inv, 1, v_kh)
    rules = (h_lines > 0) | (v_lines > 0)
    no_lines = (bin_inv > 0) & ~rules
    return no_lines.astype(np.uint8) * np.uint8(255)


def resize2x(gray: np.ndarray) -> np.ndarray:
    """2x upscale used before per-cell OCR (LatticeParser.java:211,
    INTER_CUBIC there). Pixel-exact cubic interpolation is irrelevant to
    extraction semantics (only the OCR engine sees the pixels), so this
    uses bilinear 2x which preserves the geometry contract."""
    h, w = gray.shape
    g = gray.astype(np.float64)
    # interleave rows/cols with midpoint averages
    rows = np.empty((2 * h, w), dtype=np.float64)
    rows[0::2] = g
    rows[1::2] = np.vstack([(g[:-1] + g[1:]) / 2.0, g[-1:]])
    out = np.empty((2 * h, 2 * w), dtype=np.float64)
    out[:, 0::2] = rows
    out[:, 1::2] = np.hstack([(rows[:, :-1] + rows[:, 1:]) / 2.0, rows[:, -1:]])
    return np.floor(out + 0.5).astype(np.uint8)
