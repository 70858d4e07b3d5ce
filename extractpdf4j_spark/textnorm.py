"""String normalization / fuzzy-match scalar functions.

The reference's entire scalar-function surface is lexical string work in
``OcrStreamParser.java``; this module re-expresses it with vectorized
pandas ``.str`` chains where used in the hot path, while exposing scalar
versions for the oracle and tests.

Semantics anchored to:
* NUM_LIKE / DATE_LIKE regexes            — OcrStreamParser.java:397-398
* isLikelyNumeric                         — OcrStreamParser.java:349-353
* normalizeAlpha                          — OcrStreamParser.java:315-322
* editDistance (plain Levenshtein)        — OcrStreamParser.java:324-336
* normalizeAmount (OCR confusion map)     — OcrStreamParser.java:425-432
* normalizeDate                           — OcrStreamParser.java:434-438
* column type inference (>=60% vote)      — OcrStreamParser.java:400-423
"""

from __future__ import annotations

import re
from functools import lru_cache

# ^[\s$\-.,0-9CR]+$ case-insensitive (OcrStreamParser.java:397)
NUM_LIKE = re.compile(r"^[\s\$\-\.,0-9CR]+$", re.IGNORECASE)
# ^\d{1,2}\s?[A-Za-z]{3}(?:\s?\d{2,4})?$ (OcrStreamParser.java:398)
DATE_LIKE = re.compile(r"^\d{1,2}\s?[A-Za-z]{3}(?:\s?\d{2,4})?$")

EXPECTED_HEADERS = ("date", "description", "debit", "credit", "balance")


def is_likely_numeric(s: str | None) -> bool:
    """OcrStreamParser.java:349-353 — trim, uppercase, drop literal "CR",
    then full-match NUM_LIKE (empty string does not match: '+' needs >=1)."""
    if s is None:
        return False
    t = s.strip().upper().replace("CR", "")
    return bool(NUM_LIKE.match(t)) and len(t) > 0


def normalize_alpha(s: str) -> str:
    """Keep only lowercase a-z (OcrStreamParser.java:315-322)."""
    return "".join(c for c in s.lower() if "a" <= c <= "z")


def edit_distance(a: str, b: str) -> int:
    """Plain Levenshtein DP (OcrStreamParser.java:324-336)."""
    n, m = len(a), len(b)
    if n == 0:
        return m
    if m == 0:
        return n
    prev = list(range(m + 1))
    for i in range(1, n + 1):
        cur = [i] + [0] * m
        ca = a[i - 1]
        for j in range(1, m + 1):
            cost = 0 if ca == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
        prev = cur
    return prev[m]


@lru_cache(maxsize=1 << 16)
def fuzzy_header_match(norm: str, target: str) -> bool:
    """The header acceptance rule used throughout the OCR-stream parser
    (OcrStreamParser.java:289,343): editDistance<=1 OR containment either
    way. NOTE bug-compatible: an empty normalized word matches every
    target via ``target.contains("")``.

    lru-cached: the kernel evaluates this per word x 5 targets x several
    matching passes over a small OCR vocabulary, so repeats dominate; a
    pure function of two short strings is safe to memoize."""
    return (
        edit_distance(norm, target) <= 1 or target in norm or norm in target
    )


@lru_cache(maxsize=1 << 16)
def edit_distance_le1(a: str, b: str) -> bool:
    """Cached ``edit_distance(a, b) <= 1`` with a length pre-filter
    (|len(a)-len(b)| > 1 can never pass) — the required-headers gate's
    hot predicate."""
    if abs(len(a) - len(b)) > 1:
        return False
    return edit_distance(a, b) <= 1


def normalize_amount(s: str | None) -> str:
    """OcrStreamParser.java:425-432, bug-compatible:

    * strip all whitespace, uppercase,
    * OCR confusions O→0, I→1, L→1, S→5,
    * the thousands-separator rule replaces ``,`` with ``,`` (a no-op kept
      for parity),
    * the trailing-cents rule ``(\\d),(\\d{2})$`` → ``.$2`` DROPS the
      captured digit before the comma (the Java replacement string is
      ``".$2"``, not ``"$1.$2"``).
    """
    if s is None:
        return ""
    s = re.sub(r"\s+", "", s).upper()
    s = s.replace("O", "0").replace("I", "1").replace("L", "1").replace("S", "5")
    s = re.sub(r"(?<=\d),(?=\d{3}\b)", ",", s)  # intentional no-op (parity)
    s = re.sub(r"(\d),(\d{2})$", r".\2", s)
    return s


def normalize_date(s: str | None) -> str:
    """OcrStreamParser.java:434-438 — collapse whitespace, split '12Jul'."""
    if s is None:
        return ""
    s = re.sub(r"\s+", " ", s).strip()
    return re.sub(r"^(\d{1,2})([A-Za-z]{3})\b", r"\1 \2", s, count=1)


def normalize_numeric_like_columns(grid: list[list[str]]) -> None:
    """In-place per-column type inference + normalization
    (OcrStreamParser.java:400-423):

    per column, over non-blank cells: count cells whose
    ``replace("CR","").strip()`` full-matches NUM_LIKE (numish) else whose
    ``strip()`` full-matches DATE_LIKE (dateish). If numish>=60% →
    normalize_amount on EVERY cell of the column; elif dateish>=60% →
    normalize_date. Note the Java replace("CR","") here is case-sensitive
    and there is no uppercase step (unlike is_likely_numeric).
    """
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
