"""Interleaved text+media document model: span (de)serialization.

The engine's input is the BASELINE.json ``input_hint`` shape:

    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)

* ``kind='text'``  — the text layer of ONE page, serialized as glyph runs
  (the Spark analog of PDFBox's per-page ``TextPosition`` stream that the
  reference collects in StreamParser.java:106-117 and
  LatticeParser.java:331-345). Format::

      p=<page>\n
      x|y|w|h|token\n      (one line per positioned run; floats %.4f)

  Coordinates are PDF points, origin bottom-left (y grows upward), so the
  stream parser's descending Y-bucket order (StreamParser.java:121) yields
  top-to-bottom reading order and the lattice transform
  ``cy_img=(pageH-cy)*dpi/72`` (LatticeParser.java:339-340) flips into
  raster space.

* ``kind='media'`` — one rendered page raster; ``media_ref`` keys a row of
  the side table ``media(media_ref string, doc_id string, page int,
  payload binary)``. The payload holds the grayscale raster, page
  geometry, and the deterministic OCR word layer a real OCR backend would
  produce (see ``ocr.py`` for the backend seam), in one flat layout::

      header   struct '<4sBiIIIIddd': magic b'XPM\x01' (format version in
               the last byte), bilevel flag, page, h, w, word count n,
               text byte count, dpi, page width and height in points
      body     ONE raw-deflate stream (wbits=-15) of
               pixels    packbits(image > 127) if bilevel, else h*w uint8
               columns   9 x n int32 LE: left top width height conf
                         block par line word
               offsets   n int32 LE end offsets of each word's text
               text      the words' UTF-8 bytes, concatenated

  Decode is one ``zlib.decompress`` plus ``np.frombuffer`` slices and
  never deserializes Python objects. It yields a :class:`PagePayload`
  that holds what the kernels read: a bilevel page's pixels unpack
  straight to its 0/1 black mask (one ``unpackbits`` of the inverted
  packed bytes), and the uint8 page and the pandas word frame are built
  only when something asks for them. A payload with a bad magic,
  undecodable deflate, a body length the header does not imply, or text
  offsets that decrease or miss the declared byte count raises
  ``ValueError``, which stage 1 records as an 'error' status row.

Output ``documents_extracted`` uses the same spans schema: the winning
strategy's tables re-serialized as an ordered span sequence (the equality
surface — kind, text, media_ref, order):

    ('media', '',      'table:<strategy>:p<page>:<nrows>x<ncols>', off)
    ('text',  cell,    'r<r>c<c>',                                 off)...
    ... cells in row-major order, one table after another, page ascending.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from . import imageops
from .table import Table

TEXT = "text"
MEDIA = "media"

OCR_WORD_COLS = ["left", "top", "width", "height", "conf", "text",
                 "block", "par", "line", "word"]


# ---------------------------------------------------------------------------
# Text spans (glyph runs)
# ---------------------------------------------------------------------------

def encode_text_span(page: int, runs: list[tuple[float, float, float, float, str]]) -> str:
    """Serialize one page's glyph runs: (x, y, w, h, token) tuples."""
    lines = [f"p={page}"]
    for x, y, w, h, tok in runs:
        lines.append(f"{x:.4f}|{y:.4f}|{w:.4f}|{h:.4f}|{tok}")
    return "\n".join(lines)


@dataclass
class GlyphRuns:
    page: int
    x: np.ndarray      # float64
    y: np.ndarray
    w: np.ndarray
    h: np.ndarray
    tokens: np.ndarray  # object (str)

    @property
    def n(self) -> int:
        return len(self.x)


def decode_text_span(text: str) -> GlyphRuns:
    """Parse the glyph-run serialization back into numpy columns."""
    head, _, rest = text.partition("\n")
    if not head.startswith("p="):
        raise ValueError(f"bad text span header: {head!r}")
    return decode_glyph_blob(int(head[2:]), rest)


def decode_glyph_blob(page: int, blob: str | None) -> GlyphRuns:
    """Decode the glyph lines (header already stripped by the Spark-native
    explode stage). Empty/None blob → zero runs."""
    if blob is None or blob == "":
        z = np.empty(0)
        return GlyphRuns(page, z, z.copy(), z.copy(), z.copy(),
                         np.empty(0, dtype=object))
    lines = blob.split("\n")
    n = len(lines)
    x = np.empty(n); y = np.empty(n); w = np.empty(n); h = np.empty(n)
    toks = np.empty(n, dtype=object)
    for i, ln in enumerate(lines):
        xs, ys, ws, hs, tok = ln.split("|", 4)
        x[i] = float(xs); y[i] = float(ys); w[i] = float(ws); h[i] = float(hs)
        toks[i] = tok
    return GlyphRuns(page, x, y, w, h, toks)


# ---------------------------------------------------------------------------
# Media payloads
# ---------------------------------------------------------------------------

class PagePayload:
    """One page's raster + OCR word layer, holding what the kernels read.

    * A bilevel page (header flag ``bilevel``) keeps only its 0/1 uint8
      **black** mask ``mask`` (1 where the pixel is 0); a grayscale page
      keeps its uint8 raster and ``mask`` is None. ``shape`` is ``(h, w)``
      either way.
    * ``image`` is the uint8 grayscale raster (0/255 on a bilevel page),
      built on first use. Only a pixel-reading OCR backend, the debug sink
      and tests ask for it; lattice reads a bilevel page's ``mask``.
    * ``word_arrays`` holds the OCR word columns (int32 arrays, ``text``
      a list of str). ``words``, the OCR_WORD_COLS frame, is built from
      them on first use: a pandas frame per page cost more than the
      kernels' own work on it."""

    def __init__(self, page: int, shape: tuple[int, int], bilevel: bool,
                 pixels: np.ndarray, dpi: float, page_width_pt: float,
                 page_height_pt: float, word_arrays: dict):
        self.page = page
        self.shape = shape
        self.bilevel = bilevel
        self.mask = pixels if bilevel else None
        self._image = None if bilevel else pixels
        self.dpi = dpi                      # pixels = points*dpi/72
        self.page_width_pt = page_width_pt
        self.page_height_pt = page_height_pt
        self.word_arrays = word_arrays
        self._words = None

    @property
    def image(self) -> np.ndarray:
        if self._image is None:
            self._image = (self.mask ^ np.uint8(1)) * np.uint8(255)
        return self._image

    @property
    def words(self) -> pd.DataFrame:
        if self._words is None:
            self._words = pd.DataFrame(self.word_arrays, copy=False)
        return self._words


# magic+version, bilevel, page, h, w, word count, text bytes, dpi, page w/h pt
_HDR = struct.Struct("<4sBiIIIIddd")
_MAGIC = b"XPM\x01"
_INT_COLS = [c for c in OCR_WORD_COLS if c != "text"]


def encode_media_payload(page: int, image: np.ndarray, dpi: float,
                         page_width_pt: float, page_height_pt: float,
                         words: pd.DataFrame | None = None) -> bytes:
    """Serialize a page raster + OCR word layer (layout: module docstring)."""
    if words is None:
        words = pd.DataFrame({c: [] for c in OCR_WORD_COLS})
    image = np.ascontiguousarray(image, dtype=np.uint8)
    h, w = image.shape
    bilevel = imageops._is_bilevel(image)
    pixels = np.packbits(image > 127) if bilevel else image
    cols = np.array([words[c].to_numpy(np.int32) for c in _INT_COLS], "<i4")
    texts = [str(t).encode() for t in words["text"]]
    ends = np.cumsum([len(t) for t in texts], dtype="<i4")
    text = b"".join(texts)
    z = zlib.compressobj(wbits=-15)
    body = z.compress(b"".join([pixels.tobytes(), cols.tobytes(),
                                ends.tobytes(), text])) + z.flush()
    return _HDR.pack(_MAGIC, bilevel, page, h, w, len(texts), len(text), dpi,
                     page_width_pt, page_height_pt) + body


def media_payload_page(payload: bytes) -> int | None:
    """The page in a payload's header; None if the header is unreadable."""
    ok = len(payload) >= _HDR.size and payload[:4] == _MAGIC
    return _HDR.unpack_from(payload)[2] if ok else None


def decode_media_payload(payload: bytes) -> PagePayload:
    """Inverse of ``encode_media_payload``; any malformed payload raises
    ValueError (stage 1 turns it into an 'error' status row)."""
    if len(payload) < _HDR.size:
        raise ValueError("media payload: truncated header")
    magic, bilevel, page, h, w, n, nt, dpi, pw, ph = _HDR.unpack_from(payload)
    if magic != _MAGIC:
        raise ValueError("media payload: bad magic")
    try:
        body = zlib.decompress(memoryview(payload)[_HDR.size:], -15)
    except zlib.error as e:
        raise ValueError(f"media payload: {e}") from None
    npx = (h * w + 7) // 8 if bilevel else h * w
    if len(body) != npx + 40 * n + nt:
        raise ValueError("media payload: body length mismatch")
    cols = np.frombuffer(body, "<i4", 9 * n, npx).reshape(9, n)
    ends = np.frombuffer(body, "<i4", n, npx + 36 * n).tolist()
    starts = [0] + ends[:-1]
    if (ends[-1] if n else 0) != nt or any(
            b < a for a, b in zip(starts, ends)):
        raise ValueError("media payload: bad text offsets")
    text = body[npx + 40 * n:]
    word_arrays = dict(zip(_INT_COLS, cols))
    word_arrays["text"] = [text[a:b].decode() for a, b in zip(starts, ends)]
    pixels = np.frombuffer(body, np.uint8, npx)
    # a set bit is a white pixel, so the inverted bits are the black mask
    pixels = (np.unpackbits(np.invert(pixels), count=h * w).reshape(h, w)
              if bilevel else pixels.reshape(h, w))
    return PagePayload(page, (h, w), bool(bilevel), pixels, dpi, pw, ph,
                       {c: word_arrays[c] for c in OCR_WORD_COLS})


# ---------------------------------------------------------------------------
# Output span serialization (the equality surface)
# ---------------------------------------------------------------------------

def serialize_tables(tables: list[tuple[int, str, Table]]) -> list[dict]:
    """Re-serialize winning tables as the ordered output span sequence.

    ``tables`` is [(page, strategy, Table)] already in page-ascending
    order. Returns span dicts (kind, text, media_ref, offset).
    """
    spans: list[dict] = []
    off = 0
    for page, strategy, t in tables:
        spans.append({
            "kind": MEDIA, "text": "",
            "media_ref": f"table:{strategy}:p{page}:{t.nrows}x{t.ncols}",
            "offset": off,
        })
        off += 1
        for r in range(t.nrows):
            for c in range(t.ncols):
                spans.append({
                    "kind": TEXT, "text": t.cell(r, c),
                    "media_ref": f"r{r}c{c}", "offset": off,
                })
                off += 1
    return spans
