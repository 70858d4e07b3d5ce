"""OCR-stream strategy: header-aware OCR word layout, vectorized.

Re-expresses OcrStreamParser.java over a page raster payload:

1.  preprocess: gaussian adaptive 31/15 BINARY_INV; removeRules (morph-open
    h/v kernels, OR, subtract); 1x1 dilate (no-op kept for parity);
    invert to black-on-white          — OcrStreamParser.java:117-144,215-231
2.  TSV OCR words (psm 6), blank-filtered      — OcrStreamParser.java:147-150
3.  line grouping by (block,par,line) first-appearance order; lines sorted
    by min top, words by left (stable)         — OcrStreamParser.java:153-158
4.  required-headers gate (per document, never a process kill)
                                               — OcrStreamParser.java:160-162,234-239,301-313
5.  header-anchored column bounds: in the top region (cutoff = firstTop +
    int(pageWidth*0.35)), a line fuzzy-matching >=4 of
    {date,description,debit,credit,balance} anchors bounds at midpoints of
    the matched headers' sorted lefts          — OcrStreamParser.java:241-296
6.  fallback separator histogram: gaps>18 vote mid/20 bins; peaks need
    max(3, nlines/3) votes; merged within 30; margins 25 dropped
                                               — OcrStreamParser.java:357-387
7.  word→cell assignment: right-edge-1 anchor for numeric-like words else
    center; locate() clamped to last column; the first header-looking line
    is skipped; all-blank rows dropped         — OcrStreamParser.java:181-199,338-353
8.  column type inference + amount/date normalization (>=60% votes)
                                               — OcrStreamParser.java:400-423
9.  row bounds from ALL lines: (minTop+maxBot)/2 — OcrStreamParser.java:204-209

Internal representation: a page's words are ~tens of rows, so the hot
path runs on plain Python lists, the backend's ``word_columns`` (pandas
frames cost more in object construction and column reads than the whole
page's matching work — per line they measured 2x kernel time at bench
scale, and one frame per page was still the kernel's largest cost).
Tests call the same ``_*_core`` functions the kernel runs.
"""

from __future__ import annotations

import numpy as np

from .. import imageops
from ..docmodel import PagePayload
from ..ocr import OcrBackend
from ..table import Table
from ..textnorm import (EXPECTED_HEADERS, edit_distance, edit_distance_le1,
                        fuzzy_header_match, is_likely_numeric,
                        normalize_alpha, normalize_numeric_like_columns)

GAP_MIN = 18         # OcrStreamParser.java:365
BIN = 20             # OcrStreamParser.java:369
MERGE_TOL = 30       # OcrStreamParser.java:384
MARGIN = 25          # OcrStreamParser.java:386
HEADER_REGION = 0.35  # OcrStreamParser.java:251
DEFAULT_PSM = 6      # Ocr.java:192 (tess.psm default)


def preprocess_page(gray: np.ndarray) -> np.ndarray:
    """Steps of OcrStreamParser.extractFromPage:117-144 before OCR."""
    bin_inv = imageops.adaptive_threshold(gray, 31, 15, method="gaussian",
                                          invert=True)
    no_lines = imageops.remove_rules(bin_inv)
    # 1x1 dilation is the identity; kept for parity with :130-131
    cleaned = np.uint8(255) - no_lines
    return cleaned


# ---------------------------------------------------------------------------
# List-based cores (the kernel path)
# ---------------------------------------------------------------------------

class _Line:
    """One logical line: parallel lists in left-sorted (stable) order."""
    __slots__ = ("left", "top", "width", "height", "text", "norm")

    def __init__(self, left, top, width, height, text, norm):
        self.left = left
        self.top = top
        self.width = width
        self.height = height
        self.text = text
        self.norm = norm


def _group_lines_lists(left, top, width, height, text, block, par, line
                       ) -> list[_Line]:
    """Line grouping core (OcrStreamParser.java:153-158): first-appearance
    order of (block,par,line); lines sorted by min top (stable); words in
    each line by left (stable)."""
    groups: dict[tuple, list[int]] = {}
    for i, k in enumerate(zip(block, par, line)):
        g = groups.get(k)
        if g is None:
            groups[k] = [i]
        else:
            g.append(i)
    # int() on the key matches the frame path's int(ln["top"].min())
    idx_lists = sorted(groups.values(),
                       key=lambda g: int(min(top[i] for i in g)))
    out = []
    norms = [normalize_alpha(t) for t in text]
    for g in idx_lists:
        g = sorted(g, key=lambda i: left[i])
        out.append(_Line([left[i] for i in g], [top[i] for i in g],
                         [width[i] for i in g], [height[i] for i in g],
                         [text[i] for i in g], [norms[i] for i in g]))
    return out


def _match_header_core(norms: list[str], lefts: list) -> dict[str, float]:
    """OcrStreamParser.matchHeader:282-296 — each word claims the first
    unclaimed expected header it fuzzy-matches."""
    out: dict[str, float] = {}
    for i, n in enumerate(norms):
        for target in EXPECTED_HEADERS:
            if target in out:
                continue
            if fuzzy_header_match(n, target):
                out[target] = float(lefts[i])
                break
    return out


def _looks_like_header_core(norms: list[str]) -> bool:
    """OcrStreamParser.java:338-347 — >=3 words hitting any target."""
    hit = 0
    for n in norms:
        for target in EXPECTED_HEADERS:
            if fuzzy_header_match(n, target):
                hit += 1
                break
    return hit >= 3


def _matches_required_core(norms: list[str], required: tuple[str, ...]) -> bool:
    """OcrStreamParser.matchRequiredHeaders:301-313 (equality or
    editDistance<=1 — note: NO containment rule here)."""
    found: list[str] = []
    for n in norms:
        for req in required:
            if req in found:
                continue
            if n == req or edit_distance_le1(n, req):
                found.append(req)
    return len(found) == len(required)


def _header_anchored_bounds_core(lines: list[_Line],
                                 page_width: int) -> list[float] | None:
    """OcrStreamParser.java:246-279."""
    if not lines:
        return None
    first_top = int(min(lines[0].top))
    cutoff_y = first_top + int(page_width * HEADER_REGION)
    for ln in lines:
        if int(min(ln.top)) > cutoff_y:
            break
        match = _match_header_core(ln.norm, ln.left)
        if len(match) >= 4:
            xs = [match[h] for h in EXPECTED_HEADERS if h in match]
            if len(xs) >= 3:
                xs.sort()
                bounds = [0.0]
                for i in range(len(xs) - 1):
                    bounds.append((xs[i] + xs[i + 1]) / 2.0)
                bounds.append(float(page_width))
                return bounds
    return None


def _infer_separators_core(lines: list[_Line], page_width: int) -> list[int]:
    """OcrStreamParser.java:357-387 (Java int division throughout)."""
    mids: list[int] = []
    for ln in lines:
        if len(ln.left) < 2:
            continue
        left = ln.left
        width = ln.width
        for i in range(len(left) - 1):
            right_a = int(left[i]) + int(width[i])
            gap = int(left[i + 1]) - right_a
            if gap > GAP_MIN:
                mids.append(right_a + gap // 2)
    if not mids:
        return []
    hist: dict[int, int] = {}
    for x in mids:
        k = max(0, min(page_width, x)) // BIN
        hist[k] = hist.get(k, 0) + 1
    min_votes = max(3, len(lines) // 3)
    peaks = sorted(k * BIN for k, v in hist.items() if v >= min_votes)
    seps: list[int] = []
    last = -10_000
    for x in peaks:
        if not seps or abs(x - last) > MERGE_TOL:
            seps.append(x)
            last = x
    return [x for x in seps if MARGIN < x < page_width - MARGIN]


def _locate_clamped(bounds: list[float], x: float) -> int:
    """OcrStreamParser.locate:392-395 — clamped to max(0, ncols-1)."""
    for i in range(len(bounds) - 1):
        if bounds[i] <= x < bounds[i + 1]:
            return i
    return max(0, len(bounds) - 2)


# ---------------------------------------------------------------------------
# Page kernel
# ---------------------------------------------------------------------------

def ocrstream_extract_page(payload: PagePayload | None, backend: OcrBackend,
                           required_headers: tuple[str, ...] = (),
                           psm: int = DEFAULT_PSM) -> tuple[Table, bool]:
    """Extract one page; returns (table, required_headers_found_on_page).

    Without a raster payload there is nothing to OCR → empty table (the
    reference would rasterize the page; text-layer pages route to the
    stream strategy in our document model)."""
    if payload is None:
        return Table([], [], []), False

    # rule removal / rebinarization exist to help a pixel-reading OCR
    # engine; a pixel-free backend gets no image, so the uint8 page is
    # never built for it (the page width comes from the header)
    cleaned = preprocess_page(payload.image) if backend.reads_pixels else None
    words = backend.word_columns(payload, cleaned, psm)
    # blank filter strips a COPY; cells keep the backend's original text
    text = [str(t) for t in words["text"]]
    keep = [i for i, t in enumerate(text) if t.strip() != ""]
    if not keep:
        return Table([], [], []), False
    cols = [words[c] for c in ("left", "top", "width", "height", "block",
                               "par", "line")]
    if len(keep) != len(text):
        cols = [[v[i] for i in keep] for v in cols]
        text = [text[i] for i in keep]
    left, top, width, height, block, par, line = cols
    lines = _group_lines_lists(left, top, width, height, text,
                               block, par, line)

    headers_found = False
    if required_headers:
        headers_found = any(
            _matches_required_core(ln.norm, required_headers) for ln in lines)

    page_width = payload.shape[1]
    col_bounds = _header_anchored_bounds_core(lines, page_width)
    if col_bounds is None:
        seps = _infer_separators_core(lines, page_width)
        col_bounds = [0.0] + [float(s) for s in seps] + [float(page_width)]

    ncols = max(1, len(col_bounds) - 1)

    grid: list[list[str]] = []
    header_passed = False
    for ln in lines:
        if not header_passed and _looks_like_header_core(ln.norm):
            header_passed = True
            continue
        row = ["" for _ in range(ncols)]
        for i, t in enumerate(ln.text):
            if is_likely_numeric(t):
                cx = ln.left[i] + ln.width[i] - 1
            else:
                cx = ln.left[i] + ln.width[i] / 2.0
            c = _locate_clamped(col_bounds, cx)
            row[c] = t if row[c] == "" else row[c] + " " + t
        row = [v.strip() for v in row]
        if any(v for v in row):
            grid.append(row)

    normalize_numeric_like_columns(grid)

    row_bounds: list[float] = []
    for ln in lines:
        top_min = int(min(ln.top))
        bot_max = int(max(t + h for t, h in zip(ln.top, ln.height)))
        row_bounds.append((top_min + bot_max) / 2.0)

    return Table(grid, col_bounds, row_bounds), headers_found
