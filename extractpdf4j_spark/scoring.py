"""Hybrid table scoring and strategy selection.

Anchored to HybridParser.java:

* ``score_cells_vectorized`` — 0.6*fill + 0.3*structure + 0.1*richness
                    (HybridParser.java:297-322); richness =
                    log(1+ncols)/log(4) so scores may slightly exceed 1.
* ``pick_strategy`` — the EXACT argmax tie-break order
                    (HybridParser.java:257-263): lattice wins any tie it
                    participates in, then ocrstream, then stream.
* ``select_strategy`` — the whole per-document rule
                    (HybridParser.java:235-264): required-headers gate,
                    per-strategy mean score (0.0 for no tables,
                    HybridParser.java:275-282), status, tie-break and the
                    minScore gate. Spark stage 2 calls it, also when
                    ``local.extract_document`` runs stage 2 in-process.

Blankness uses Java ``String.isBlank`` semantics = all-whitespace.
"""

from __future__ import annotations

import math
from collections.abc import Mapping, Sequence

import numpy as np

from .config import ExtractConfig, MODE_LATTICE, MODE_OCRSTREAM, MODE_STREAM

# Per-document status values (the metrics table's ``status`` column)
STATUS_OK = "ok"
STATUS_NO_TABLES = "no_tables"
STATUS_HEADERS_MISSING = "headers_missing"
STATUS_BELOW_MIN_SCORE = "below_min_score"
STATUS_ERROR = "error"


def score_cells_vectorized(cells: list[list[str]]) -> float:
    """Single-table score (HybridParser.java:297-322) of a raw grid. Plain
    comprehensions beat np.vectorize by ~100x on the small grids here."""
    if not cells or not cells[0]:
        return 0.0
    rows, cols = len(cells), len(cells[0])
    non_empty = 0
    multi = 0
    for row in cells:
        ne = sum(1 for v in row if v is not None and v.strip())
        non_empty += ne
        if ne > 1:
            multi += 1
    fill = non_empty / (rows * cols)
    structure = multi / rows
    richness = math.log(1 + cols) / math.log(4)
    return 0.6 * fill + 0.3 * structure + 0.1 * richness


def pick_strategy(stream_score: float, lattice_score: float,
                  ocr_score: float) -> str:
    """Reference argmax with exact tie-break (HybridParser.java:257-263):

    ``lattice`` if lattice>=stream and lattice>=ocr; elif ``ocrstream`` if
    ocr>=stream and ocr>=lattice; else ``stream``.
    """
    if lattice_score >= stream_score and lattice_score >= ocr_score:
        return MODE_LATTICE
    if ocr_score >= stream_score and ocr_score >= lattice_score:
        return MODE_OCRSTREAM
    return MODE_STREAM


def select_strategy(cfg: ExtractConfig,
                    page_scores: Mapping[str, Sequence[float]],
                    headers_found: bool, errors: int = 0
                    ) -> tuple[str, str, float]:
    """One document's ``(status, winner, score)``.

    ``page_scores`` maps each strategy to the scores of its non-empty page
    tables. The required-headers gate empties ocrstream for the WHOLE
    document when the headers never appeared (OcrStreamParser.java:107-112)
    — never a process kill. A document with no tables left is ``error``
    when a page failed, ``headers_missing`` for an ocrstream-only job whose
    gate fired, else ``no_tables``. Below ``cfg.min_score`` the result is
    empty (HybridParser.java:251-255 service semantics)."""
    strategies = cfg.strategies()
    gated = bool(cfg.required_headers) and not headers_found
    kept = {st: ([] if gated and st == MODE_OCRSTREAM
                 else page_scores.get(st, [])) for st in strategies}
    if not any(len(v) for v in kept.values()):
        if errors > 0:
            return STATUS_ERROR, "", 0.0
        if gated and strategies == (MODE_OCRSTREAM,):
            return STATUS_HEADERS_MISSING, "", 0.0
        return STATUS_NO_TABLES, "", 0.0
    means = {st: (float(np.mean(v)) if len(v) else 0.0)
             for st, v in kept.items()}
    if len(strategies) > 1:
        winner = pick_strategy(means[MODE_STREAM], means[MODE_LATTICE],
                               means[MODE_OCRSTREAM])
    else:
        winner = strategies[0]
    best = max(means.values())
    if best < cfg.min_score:
        return STATUS_BELOW_MIN_SCORE, winner, best
    return STATUS_OK, winner, means[winner]
