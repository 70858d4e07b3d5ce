"""Lattice strategy: ruling-line grid detection, vectorized.

Re-expresses LatticeParser.java over a page's raster payload + glyph runs:

1.  binarize for lines: adaptive MEAN 15/10 BINARY_INV
                                            — ImagePdfUtils.java:95-99
2.  morphology: scale = max(1, cols/1000); h-kernel (max(10*scale,10),1),
    v-kernel (1, max(10*scale,10)); erode+dilate
                                            — LatticeParser.java:150-157
3.  projection profiles: a row/col is a line when white coverage > 35%
    (imageops.LINE_COVERAGE; numpy axis reduction replaces the O(W*H)
    Java loop)
                                            — LatticeParser.java:268-291
4.  dedupe near-duplicates within 3 px      — LatticeParser.java:160-161,297-307
5.  border closing (prepend 0 / append edge when >3 px away)
                                            — LatticeParser.java:163-167
6.  grid dims nrows=len(rowsY)-1, ncols=len(colsX)-1; empty table when 0
                                            — LatticeParser.java:169-174
7.  glyph-center transform PDF points (origin bottom-left) → raster pixels:
    cx=(x+w/2)*dpi/72, cy=(pageH-(y+h/2))*dpi/72
                                            — LatticeParser.java:331-345
8.  2-D interval join via locate() returning -1 outside (glyph dropped);
    cell concat with " "                    — LatticeParser.java:176-187,313-316
    (np.searchsorted on both axes — the page-local range join)
9.  OCR fallback when non-empty cells < 25% of total: every cell at least
    minCellW x minCellH (20x10) is cropped, upscaled 2x, gaussian-
    binarized 35/15, inverted when mean<128, OCR'd; the OCR text REPLACES
    the cell                                — LatticeParser.java:189-231

Steps 1-3 on a bilevel payload (the header flag) read its 0/1 black mask
through ``imageops.bilevel_line_positions``; the uint8 raster is built
only for a grayscale page or for step 9's crops when the OCR backend
reads pixels.
"""

from __future__ import annotations

import numpy as np

from .. import imageops
from ..docmodel import GlyphRuns, PagePayload
from ..ocr import OcrBackend
from ..table import Table

DEDUPE_TOL = 3       # LatticeParser.java:160-161
BORDER_TOL = 3       # LatticeParser.java:164-167
OCR_FILL_GATE = 0.25  # LatticeParser.java:192


def detect_grid(gray: np.ndarray) -> tuple[list[int], list[int]]:
    """Steps 1-5 on a raw uint8 page: ruling-line positions (rowsY,
    colsX) incl. border close.

    Uses imageops.detect_line_positions (one mask per page, candidate
    lines opened once) — exact semantics of the reference's binarize +
    full-image erode/dilate + projection, verified against the literal
    oracle."""
    return _grid(gray.shape, imageops.detect_line_positions, gray)


def _payload_grid(payload: PagePayload) -> tuple[list[int], list[int]]:
    """``detect_grid(payload.image)`` without building the image when the
    header says bilevel: the black mask goes straight to
    ``imageops.bilevel_line_positions``."""
    if payload.bilevel:
        return _grid(payload.shape, imageops.bilevel_line_positions,
                     payload.mask)
    return detect_grid(payload.image)


def _grid(shape: tuple[int, int], line_positions, arr: np.ndarray
          ) -> tuple[list[int], list[int]]:
    h, w = shape
    scale = max(1, w // 1000)
    k = max(10 * scale, 10)
    rows_pos, cols_pos = line_positions(arr, k)
    rows_y = imageops.dedupe_positions(rows_pos, DEDUPE_TOL)
    cols_x = imageops.dedupe_positions(cols_pos, DEDUPE_TOL)

    if not rows_y or rows_y[0] > BORDER_TOL:
        rows_y.insert(0, 0)
    if rows_y[-1] < h - BORDER_TOL:
        rows_y.append(h - 1)
    if not cols_x or cols_x[0] > BORDER_TOL:
        cols_x.insert(0, 0)
    if cols_x[-1] < w - BORDER_TOL:
        cols_x.append(w - 1)
    return rows_y, cols_x


def _locate(bounds: np.ndarray, coords: np.ndarray) -> np.ndarray:
    """Vectorized LatticeParser.locate (LatticeParser.java:313-316):
    interval index in [bounds[i], bounds[i+1}) or -1 outside."""
    idx = np.searchsorted(bounds, coords, side="right") - 1
    idx[(coords < bounds[0]) | (coords >= bounds[-1])] = -1
    idx[idx > len(bounds) - 2] = -1
    return idx


def lattice_extract_page(payload: PagePayload | None, glyphs: GlyphRuns | None,
                         backend: OcrBackend, min_cell_w: float = 20.0,
                         min_cell_h: float = 10.0) -> tuple[Table, int]:
    """Extract one page; returns (table, ocr_fallback_cell_count).

    Without a raster payload there are no ruling lines to detect, so the
    result is the empty table (the reference would rasterize the page
    first; pure-text documents route to the stream strategy). A bilevel
    payload's grid is read off its black mask; the uint8 page is built
    only for a backend that reads the cell crops' pixels."""
    if payload is None:
        return Table([], [], []), 0
    rows_y, cols_x = _payload_grid(payload)
    nrows, ncols = max(0, len(rows_y) - 1), max(0, len(cols_x) - 1)
    if nrows == 0 or ncols == 0:
        return Table([], [], []), 0

    grid = [["" for _ in range(ncols)] for _ in range(nrows)]

    # 7-8) glyph-center transform + 2-D interval join
    if glyphs is not None and glyphs.n > 0:
        s = payload.dpi / 72.0
        cx = (glyphs.x + glyphs.w / 2.0) * s
        cy = (payload.page_height_pt - (glyphs.y + glyphs.h / 2.0)) * s
        ci = _locate(np.asarray(cols_x, dtype=np.float64), cx)
        ri = _locate(np.asarray(rows_y, dtype=np.float64), cy)
        ok = (ri >= 0) & (ri < nrows) & (ci >= 0) & (ci < ncols)
        for i in np.where(ok)[0]:
            r, c = ri[i], ci[i]
            prev = grid[r][c]
            tok = glyphs.tokens[i]
            grid[r][c] = tok if prev == "" else prev + " " + tok

    # 9) OCR-fallback gate: strict '<' on 25% fill
    non_empty = sum(1 for row in grid for v in row if v is not None and v.strip())
    ocr_cells = 0
    if non_empty < nrows * ncols * OCR_FILL_GATE:
        for r in range(nrows):
            for c in range(ncols):
                x, y = cols_x[c], rows_y[r]
                w, h = cols_x[c + 1] - x, rows_y[r + 1] - y
                if w < min_cell_w or h < min_cell_h:
                    continue
                if backend.reads_pixels:
                    # crop prep exists to help a pixel-reading OCR engine
                    roi = payload.image[y:y + h, x:x + w]
                    up = imageops.resize2x(roi)
                    binimg = imageops.adaptive_threshold(up, 35, 15,
                                                         method="gaussian",
                                                         invert=False)
                    if binimg.mean() < 128:
                        binimg = np.uint8(255) - binimg
                else:
                    binimg = None
                grid[r][c] = backend.cell_text(payload, binimg, (x, y, w, h))
                ocr_cells += 1

    col_bounds = [float(v) for v in cols_x]
    row_bounds = [float(v) for v in rows_y]
    return Table(grid, col_bounds, row_bounds), ocr_cells
