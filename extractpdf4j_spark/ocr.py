"""OCR backend seam.

The reference shells out to Tesseract (helpers/Ocr.java): TSV word mode
with a PSM heuristic sweep (Ocr.java:28-72 tries PSM 6,4,11,3 and keeps
the run with the most words) and a plain-text mode for lattice cell
fallback (Ocr.java:78-96). This sandbox has no Tesseract binary and no
pytesseract, so the engine defines a backend protocol with two
implementations:

* :class:`EmbeddedWordsBackend` — the deterministic stand-in: media
  payloads carry the word layer a real OCR pass would produce (generated
  by the fixture module); its words filter blanks exactly like
  Ocr.java:228-229, and ``cell_text`` returns the words whose boxes fall
  inside the requested ROI (what Tesseract would read off the crop).
  This keeps the whole extraction dataflow real — only the
  pixels→characters step is substituted.

* :class:`PytesseractBackend` — the production path, import-gated; raises
  a clearly-marked NotImplementedError when pytesseract is absent.

Words come out of the seam two ways. ``words`` returns the TSV-style
OCR_WORD_COLS frame (what Tesseract's DATAFRAME output gives; the test
oracle and the debug sink read it). ``word_columns`` returns the same
columns as a dict of lists, which is what the ocrstream kernel reads: a
page holds tens of words, where building and indexing a pandas frame
costs more than the kernel's own work. The base ``word_columns``
converts ``words()``, so a backend need only implement ``words``;
:class:`EmbeddedWordsBackend` overrides both to read the payload's word
arrays and never builds a frame.

The engine runs one configured PSM (``ExtractConfig.tess_psm``); the
reference's PSM sweep is not reproduced, since only its tests call it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .docmodel import OCR_WORD_COLS, PagePayload


_UNSET = object()   # cell_text cache sentinel (None means "no words")


class OcrBackend:
    """Protocol: produce TSV-style words for a page, or plain text for a
    cell crop.

    ``reads_pixels`` tells kernels whether this backend actually consumes
    image pixels. The reference's image preprocessing (rule removal,
    upscale, re-binarization — OcrStreamParser.java:117-144,
    LatticeParser.java:207-231) exists purely to help Tesseract read the
    raster; a backend that doesn't look at pixels lets the kernel skip
    that work without changing any output."""

    reads_pixels = True

    def words(self, payload: PagePayload, image: np.ndarray | None,
              psm: int) -> pd.DataFrame:
        raise NotImplementedError

    def word_columns(self, payload: PagePayload, image: np.ndarray | None,
                     psm: int) -> dict[str, list]:
        """``words()`` as OCR_WORD_COLS lists. ``image`` is None when
        ``reads_pixels`` is False."""
        w = self.words(payload, image, psm)
        return {c: w[c].tolist() for c in OCR_WORD_COLS}

    def cell_text(self, payload: PagePayload, cell_img: np.ndarray | None,
                  bbox: tuple[int, int, int, int]) -> str:
        raise NotImplementedError


class EmbeddedWordsBackend(OcrBackend):
    """Deterministic OCR stand-in reading the payload's embedded word layer."""

    reads_pixels = False

    def words(self, payload: PagePayload, image: np.ndarray | None,
              psm: int) -> pd.DataFrame:
        return pd.DataFrame(_nonblank_words(payload), copy=False)

    def word_columns(self, payload: PagePayload, image: np.ndarray | None,
                     psm: int) -> dict[str, list]:
        return {c: (v if c == "text" else v.tolist())
                for c, v in _nonblank_words(payload).items()}

    def cell_text(self, payload: PagePayload, cell_img: np.ndarray | None,
                  bbox: tuple[int, int, int, int]) -> str:
        """Words whose box centers fall inside bbox=(x, y, w, h) in page
        raster coordinates, reading order (top then left), joined by a
        single space — what Tesseract PSM 6 reads off the crop.

        Word arrays are extracted and reading-order-sorted once per page
        (a stable sort of the subset equals the subset of the stable
        sort), so each of the potentially many per-cell calls is pure
        numpy masking."""
        arrs = getattr(payload, "_ocr_sorted", _UNSET)
        if arrs is _UNSET:
            w = payload.word_arrays
            if len(w["text"]) == 0:
                arrs = None   # cached below: no-words pages resolve once
            else:
                left = w["left"].astype(np.float64)
                top = w["top"].astype(np.float64)
                cx = left + w["width"].astype(np.float64) / 2.0
                cy = top + w["height"].astype(np.float64) / 2.0
                order = np.lexsort((left, top))  # stable (top, left)
                texts = np.array([str(t).strip() for t in w["text"]],
                                 dtype=object)[order]
                arrs = (cx[order], cy[order], texts)
            payload._ocr_sorted = arrs
        if arrs is None:
            return ""
        cx, cy, texts = arrs
        x, y, bw, bh = bbox
        inside = (cx >= x) & (cx < x + bw) & (cy >= y) & (cy < y + bh)
        if not inside.any():
            return ""
        return " ".join(t for t in texts[inside] if t)


def _nonblank_words(payload: PagePayload) -> dict:
    """The payload's word arrays with texts trimmed and blank ones
    dropped: Ocr.java:228-229 drops rows with empty/blank trimmed text,
    and OcrStreamParser.java:149 filters blanks again post-hoc. Integer
    columns stay int32 arrays; ``text`` is a list."""
    arrs = payload.word_arrays
    stripped = [str(t).strip() for t in arrs["text"]]
    keep = [i for i, t in enumerate(stripped) if t != ""]
    if len(keep) == len(stripped):
        return {**arrs, "text": stripped}
    return {c: ([stripped[i] for i in keep] if c == "text" else v[keep])
            for c, v in arrs.items()}


class PytesseractBackend(OcrBackend):
    """Real Tesseract via pytesseract (absent in this sandbox).

    ``lang``/``oem`` mirror the reference's ``tess.lang``/``tess.oem``
    system properties (Ocr.java:189-196; multi-language values like
    "eng+fra" pass through verbatim, OcrTest.java:96)."""

    def __init__(self, lang: str = "eng", oem: int = 1) -> None:
        try:
            import pytesseract  # noqa: F401
            self._pt = pytesseract
        except ImportError as e:  # pragma: no cover - environment-dependent
            raise NotImplementedError(
                "pytesseract is not installed in this environment; "
                "use EmbeddedWordsBackend or install tesseract+pytesseract"
            ) from e
        self.lang = lang
        self.oem = oem

    def words(self, payload: PagePayload, image: np.ndarray, psm: int) -> pd.DataFrame:  # pragma: no cover
        df = self._pt.image_to_data(
            image, lang=self.lang,
            config=(f"--oem {self.oem} --psm {psm} "
                    "-c preserve_interword_spaces=1 -c user_defined_dpi=300"),
            output_type=self._pt.Output.DATAFRAME,
        )
        df = df[df["level"] == 5]
        df = df.rename(columns={"block_num": "block", "par_num": "par",
                                "line_num": "line", "word_num": "word"})
        df["text"] = df["text"].astype(str).str.strip()
        df = df[df["text"] != ""]
        return df[OCR_WORD_COLS].reset_index(drop=True)

    def cell_text(self, payload: PagePayload, cell_img: np.ndarray,
                  bbox: tuple[int, int, int, int]) -> str:  # pragma: no cover
        return str(self._pt.image_to_string(cell_img, config="--psm 6")).strip()


def default_backend(lang: str = "eng", oem: int = 1,
                    prefer: str = "auto") -> OcrBackend:
    """Prefer real Tesseract when importable, else the deterministic fake.
    ``lang``/``oem``/``prefer`` flow from ExtractConfig.tess_lang /
    tess_oem / ocr_backend; ``prefer="embedded"`` forces the word-layer
    backend regardless of what is installed (reproducible runs)."""
    if prefer == "embedded":
        return EmbeddedWordsBackend()
    try:
        return PytesseractBackend(lang=lang, oem=oem)
    except NotImplementedError:
        return EmbeddedWordsBackend()
