"""Reference-semantics oracle: a slow, literal, scalar transliteration of
the Java parsers (StreamParser/LatticeParser/OcrStreamParser/HybridParser),
kept line-by-line close to the source so parity failures localize to a
specific reference behavior. The vectorized engine kernels are verified
against this oracle on the fixture corpus (span-sequence equality).

Image primitives (threshold/morphology/projection) are shared with the
engine's ``imageops`` — in the reference those are OpenCV library calls,
not logic the Java expresses; the orchestration logic here is independent.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from extractpdf4j_spark import imageops
from extractpdf4j_spark.docmodel import GlyphRuns, PagePayload, serialize_tables
from extractpdf4j_spark.ocr import OcrBackend
from extractpdf4j_spark.table import Table
from extractpdf4j_spark.textnorm import (EXPECTED_HEADERS, edit_distance,
                                         is_likely_numeric, normalize_alpha,
                                         normalize_amount, normalize_date,
                                         NUM_LIKE, DATE_LIKE)


def java_round(v: float) -> int:
    """Java Math.round(double) = floor(x+0.5)."""
    return int(math.floor(v + 0.5))


# ---------------------------------------------------------------------------
# StreamParser.java oracle
# ---------------------------------------------------------------------------

def oracle_stream_page(glyphs: list[tuple[str, float, float, float]],
                       strip_text: bool = True) -> Table:
    """StreamParser.extractFromPage:106-152. glyphs = (s, x, y, w)."""
    y_tol = 2.0
    lines: dict[int, list] = {}
    for g in glyphs:
        bucket = java_round(g[2] / y_tol)
        lines.setdefault(bucket, []).append(g)
    ordered_buckets = sorted(lines.keys(), reverse=True)  # TreeMap reverse
    rows = []
    for b in ordered_buckets:
        gs = sorted(lines[b], key=lambda g: g[1])  # stable by x
        rows.append(gs)

    bounds = _infer_column_bounds(rows)
    grid = []
    for gs in rows:
        row = ["" for _ in range(len(bounds) - 1)]
        for (sx, stext) in _spans(gs):
            col = _find_col(bounds, sx)
            prev = row[col]
            row[col] = stext if prev == "" else prev + " " + stext
        if strip_text:
            row = [v.strip() for v in row]
        grid.append(row)
    row_bounds = [sum(g[2] for g in gs) / len(gs) for gs in rows]
    return Table(grid, bounds, row_bounds)


def _spans(gs: list) -> list[tuple[float, str]]:
    """Row.spans() — StreamParser.java:190-208."""
    out = []
    sb = ""
    cur_x = gs[0][1] if gs else 0.0
    last_right = -1e9
    for g in gs:
        gap = g[1] - last_right
        if last_right > -1e9 and gap > 6.0:
            out.append((cur_x, sb.strip()))
            sb = ""
            cur_x = g[1]
        sb += g[0]
        last_right = g[1] + g[3]
    if len(sb) > 0:
        out.append((cur_x, sb.strip()))
    return out


def _find_col(bounds: list[float], x: float) -> int:
    """StreamParser.java:155-158."""
    for i in range(len(bounds) - 1):
        if bounds[i] <= x < bounds[i + 1]:
            return i
    return len(bounds) - 2


def _infer_column_bounds(rows: list[list]) -> list[float]:
    """StreamParser.java:164-184."""
    hist: dict[int, int] = {}
    for gs in rows:
        for i in range(len(gs) - 1):
            right = gs[i][1] + gs[i][3]
            gap = gs[i + 1][1] - right
            if gap > 12.0:
                bucket = java_round((right + gap / 2) / 10.0)
                hist[bucket] = hist.get(bucket, 0) + 1
    keys = sorted(hist.keys())
    bounds = [0.0] + [k * 10.0 for k in keys] + [1e9]
    return bounds


def glyphs_from_runs(runs: GlyphRuns) -> list[tuple[str, float, float, float]]:
    return [(runs.tokens[i], runs.x[i], runs.y[i], runs.w[i])
            for i in range(runs.n)]


# ---------------------------------------------------------------------------
# LatticeParser.java oracle
# ---------------------------------------------------------------------------

def oracle_lattice_page(payload: PagePayload | None, runs: GlyphRuns | None,
                        backend: OcrBackend, min_cell_w: float = 20.0,
                        min_cell_h: float = 10.0) -> Table:
    """LatticeParser.extractFromPage:144-258 (scalar loops)."""
    if payload is None:
        return Table([], [], [])
    gray = payload.image
    bw = imageops.binarize_for_lines(gray)
    scale = max(1, gray.shape[1] // 1000)
    k = max(10 * scale, 10)
    peaks_y, peaks_x = line_peaks(bw, k)
    rows_y = _dedupe(peaks_y, 3)
    cols_x = _dedupe(peaks_x, 3)
    h, w = gray.shape
    if not rows_y or rows_y[0] > 3:
        rows_y.insert(0, 0)
    if rows_y[-1] < h - 3:
        rows_y.append(h - 1)
    if not cols_x or cols_x[0] > 3:
        cols_x.insert(0, 0)
    if cols_x[-1] < w - 3:
        cols_x.append(w - 1)

    nrows, ncols = max(0, len(rows_y) - 1), max(0, len(cols_x) - 1)
    if nrows == 0 or ncols == 0:
        return Table([], [], [])
    grid = [["" for _ in range(ncols)] for _ in range(nrows)]

    if runs is not None:
        s = payload.dpi / 72.0
        for i in range(runs.n):
            cx = (runs.x[i] + runs.w[i] / 2.0) * s
            cy = (payload.page_height_pt - (runs.y[i] + runs.h[i] / 2.0)) * s
            ci = _locate_lattice(cols_x, cx)
            ri = _locate_lattice(rows_y, cy)
            if 0 <= ri < nrows and 0 <= ci < ncols:
                prev = grid[ri][ci]
                grid[ri][ci] = runs.tokens[i] if prev == "" else prev + " " + runs.tokens[i]

    non_empty = sum(1 for rr in grid for v in rr if v is not None and v.strip())
    if non_empty < nrows * ncols * 0.25:
        for r in range(nrows):
            for c in range(ncols):
                x, y = cols_x[c], rows_y[r]
                cw, ch = cols_x[c + 1] - x, rows_y[r + 1] - y
                if cw < min_cell_w or ch < min_cell_h:
                    continue
                roi = gray[y:y + ch, x:x + cw]
                up = imageops.resize2x(roi)
                binimg = imageops.adaptive_threshold(up, 35, 15,
                                                     method="gaussian",
                                                     invert=False)
                if binimg.mean() < 128:
                    binimg = np.uint8(255) - binimg
                grid[r][c] = backend.cell_text(payload, binimg, (x, y, cw, ch))

    return Table(grid, [float(v) for v in cols_x], [float(v) for v in rows_y])


def line_peaks(bw: np.ndarray, k: int) -> tuple[list[int], list[int]]:
    """LatticeParser.java:150-159: open the binarized page with (k,1) and
    (1,k) kernels (erode then dilate), then project each axis."""
    horizontal = imageops.dilate_binary(imageops.erode_binary(bw, k, 1), k, 1)
    vertical = imageops.dilate_binary(imageops.erode_binary(bw, 1, k), 1, k)
    return _project(horizontal, True), _project(vertical, False)


def _project(bin_img: np.ndarray, horizontal: bool) -> list[int]:
    """LatticeParser.projectLines:268-291 — per-position scalar loop."""
    rows, cols = bin_img.shape
    peaks = []
    if horizontal:
        for y in range(rows):
            s = int((bin_img[y] > 0).sum())
            if s > cols * 0.35:
                peaks.append(y)
    else:
        for x in range(cols):
            s = int((bin_img[:, x] > 0).sum())
            if s > rows * 0.35:
                peaks.append(x)
    return peaks


def _dedupe(xs: list[int], tol: int) -> list[int]:
    """LatticeParser.dedupe:297-307."""
    if not xs:
        return xs
    xs = sorted(xs)
    out = [xs[0]]
    last = xs[0]
    for v in xs[1:]:
        if abs(v - last) > tol:
            out.append(v)
            last = v
    return out


def _locate_lattice(bounds: list[int], coord: float) -> int:
    """LatticeParser.locate:313-316 — -1 outside."""
    for i in range(len(bounds) - 1):
        if bounds[i] <= coord < bounds[i + 1]:
            return i
    return -1


# ---------------------------------------------------------------------------
# OcrStreamParser.java oracle
# ---------------------------------------------------------------------------

def oracle_ocrstream_page(payload: PagePayload | None, backend: OcrBackend,
                          required_headers: tuple[str, ...] = ()
                          ) -> tuple[Table, bool]:
    """OcrStreamParser.extractFromPage:117-212 (scalar loops)."""
    if payload is None:
        return Table([], [], []), False
    bin_inv = imageops.adaptive_threshold(payload.image, 31, 15,
                                          method="gaussian", invert=True)
    no_lines = imageops.remove_rules(bin_inv)
    cleaned = np.uint8(255) - no_lines

    words = backend.words(payload, cleaned, 6)
    words = [w for w in words.to_dict("records")
             if w["text"] is not None and str(w["text"]).strip() != ""]
    if not words:
        return Table([], [], []), False

    groups: dict[str, list[dict]] = {}
    for w in words:
        key = f"{w['block']}:{w['par']}:{w['line']}"
        groups.setdefault(key, []).append(w)
    lines = list(groups.values())
    lines.sort(key=lambda ln: min(w["top"] for w in ln))
    for ln in lines:
        ln.sort(key=lambda w: w["left"])

    headers_found = False
    if required_headers:
        headers_found = _find_required_headers(lines, required_headers)

    page_width = cleaned.shape[1]
    col_bounds = _header_anchored_bounds(lines, page_width)
    if col_bounds is None:
        seps = _infer_separators(lines, page_width)
        col_bounds = [0.0] + [float(s) for s in seps] + [float(page_width)]
    ncols = max(1, len(col_bounds) - 1)

    grid: list[list[str]] = []
    header_passed = False
    for ln in lines:
        if not header_passed and _looks_like_header(ln):
            header_passed = True
            continue
        row = ["" for _ in range(ncols)]
        for w in ln:
            if is_likely_numeric(str(w["text"])):
                cx = (w["left"] + w["width"]) - 1
            else:
                cx = w["left"] + w["width"] / 2.0
            col = _locate_ocr(col_bounds, cx)
            row[col] = str(w["text"]) if row[col] == "" else row[col] + " " + str(w["text"])
        row = [v.strip() for v in row]
        if any(v is not None and v.strip() for v in row):
            grid.append(row)

    _normalize_columns(grid)

    row_bounds = []
    for ln in lines:
        top_min = min(w["top"] for w in ln)
        bot_max = max(w["top"] + w["height"] for w in ln)
        row_bounds.append((top_min + bot_max) / 2.0)
    return Table(grid, col_bounds, row_bounds), headers_found


def _fuzzy(n: str, target: str) -> bool:
    return edit_distance(n, target) <= 1 or target in n or n in target


def _header_anchored_bounds(lines, page_width) -> list[float] | None:
    """OcrStreamParser.java:246-279."""
    cutoff_y = float("inf")
    if lines:
        first_top = min(w["top"] for w in lines[0])
        cutoff_y = first_top + int(page_width * 0.35)
    for ln in lines:
        top = min(w["top"] for w in ln)
        if top > cutoff_y:
            break
        match: dict[str, dict] = {}
        for w in ln:
            n = normalize_alpha(str(w["text"]))
            for target in EXPECTED_HEADERS:
                if target in match:
                    continue
                if _fuzzy(n, target):
                    match[target] = w
                    break
        if len(match) >= 4:
            xs = [float(match[h]["left"]) for h in EXPECTED_HEADERS if h in match]
            if len(xs) >= 3:
                xs.sort()
                bounds = [0.0]
                for i in range(len(xs) - 1):
                    bounds.append((xs[i] + xs[i + 1]) / 2.0)
                bounds.append(float(page_width))
                return bounds
    return None


def _looks_like_header(ln) -> bool:
    hit = 0
    for w in ln:
        n = normalize_alpha(str(w["text"]))
        for target in EXPECTED_HEADERS:
            if _fuzzy(n, target):
                hit += 1
                break
    return hit >= 3


def _find_required_headers(lines, required) -> bool:
    for ln in lines:
        found: list[str] = []
        for w in ln:
            n = normalize_alpha(str(w["text"]))
            for req in required:
                if req in found:
                    continue
                if n == req or edit_distance(n, req) <= 1:
                    found.append(req)
        if len(found) == len(required):
            return True
    return False


def _infer_separators(lines, page_width) -> list[int]:
    """OcrStreamParser.java:357-387."""
    mids = []
    for ln in lines:
        if len(ln) < 2:
            continue
        for i in range(len(ln) - 1):
            a, b = ln[i], ln[i + 1]
            right_a = a["left"] + a["width"]
            gap = b["left"] - right_a
            if gap > 18:
                mids.append(int(right_a + gap // 2))
    if not mids:
        return []
    bin_w = 20
    hist: dict[int, int] = {}
    for x in mids:
        k = max(0, min(page_width, x)) // bin_w
        hist[k] = hist.get(k, 0) + 1
    min_votes = max(3, len(lines) // 3)
    peaks = sorted(k * bin_w for k, v in hist.items() if v >= min_votes)
    seps = []
    last = -10_000
    for x in peaks:
        if not seps or abs(x - last) > 30:
            seps.append(x)
            last = x
    return [x for x in seps if 25 < x < page_width - 25]


def _locate_ocr(bounds: list[float], x: float) -> int:
    for i in range(len(bounds) - 1):
        if bounds[i] <= x < bounds[i + 1]:
            return i
    return max(0, len(bounds) - 2)


def _normalize_columns(grid: list[list[str]]) -> None:
    """OcrStreamParser.normalizeNumericLikeColumns:400-423."""
    if not grid:
        return
    cols = len(grid[0])
    for c in range(cols):
        numish = dateish = nonempty = 0
        for row in grid:
            if c >= len(row):
                continue
            s = row[c]
            if s is None or not s.strip():
                continue
            nonempty += 1
            t = s.replace("CR", "").strip()
            if NUM_LIKE.match(t):
                numish += 1
            elif DATE_LIKE.match(s.strip()):
                dateish += 1
        if nonempty == 0:
            continue
        if numish / nonempty >= 0.6:
            for row in grid:
                if c < len(row):
                    row[c] = normalize_amount(row[c])
        elif dateish / nonempty >= 0.6:
            for row in grid:
                if c < len(row):
                    row[c] = normalize_date(row[c])


# ---------------------------------------------------------------------------
# HybridParser.java oracle (per document)
# ---------------------------------------------------------------------------

def _score(t: Table) -> float:
    """HybridParser.score:297-322."""
    rows, cols = t.nrows, t.ncols
    if rows == 0 or cols == 0:
        return 0.0
    total = rows * cols
    non_empty = 0
    multi = 0
    for r in range(rows):
        row_ne = 0
        for c in range(cols):
            v = t.cell(r, c)
            if v is not None and v.strip():
                non_empty += 1
                row_ne += 1
        if row_ne > 1:
            multi += 1
    return (0.6 * non_empty / total + 0.3 * multi / rows
            + 0.1 * math.log(1 + cols) / math.log(4))


def _score_all(ts: list[Table]) -> float:
    if not ts:
        return 0.0
    return sum(_score(t) for t in ts) / len(ts)


def oracle_hybrid_doc(pages: list[tuple[int, GlyphRuns | None, PagePayload | None]],
                      backend: OcrBackend, min_score: float = 0.0,
                      required_headers: tuple[str, ...] = ()
                      ) -> tuple[list[dict], str, str]:
    """HybridParser.parse(PDDocument):235-264 per document.

    pages: [(page_no, glyph_runs, payload)] page-ascending.
    Returns (output spans, status, winning strategy).
    """
    stream_tabs: list[tuple[int, Table]] = []
    lattice_tabs: list[tuple[int, Table]] = []
    ocr_tabs: list[tuple[int, Table]] = []
    headers_found = False
    for page_no, runs, payload in pages:
        if runs is not None:
            t = oracle_stream_page(glyphs_from_runs(runs))
            if t.nrows > 0:
                stream_tabs.append((page_no, t))
        lt = oracle_lattice_page(payload, runs, backend)
        if lt.nrows > 0:
            lattice_tabs.append((page_no, lt))
        ot, found = oracle_ocrstream_page(payload, backend, required_headers)
        headers_found = headers_found or found
        if ot.nrows > 0:
            ocr_tabs.append((page_no, ot))

    if required_headers and not headers_found:
        ocr_tabs = []  # OcrStreamParser.java:107-112

    if not stream_tabs and not lattice_tabs and not ocr_tabs:
        return [], "no_tables", ""

    sa = _score_all([t for _, t in stream_tabs])
    sb = _score_all([t for _, t in lattice_tabs])
    sc = _score_all([t for _, t in ocr_tabs])
    best = max(sa, sb, sc)
    if best < min_score:
        return [], "below_min_score", ""

    if sb >= sa and sb >= sc:
        win, tabs = "lattice", lattice_tabs
    elif sc >= sa and sc >= sb:
        win, tabs = "ocrstream", ocr_tabs
    else:
        win, tabs = "stream", stream_tabs
    spans = serialize_tables([(p, win, t) for p, t in tabs])
    return spans, "ok", win
