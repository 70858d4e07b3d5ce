"""Round-6 optimization fast paths: each must be bit-identical to the
generic/reference path it replaces. Also the media payload codec: exact
round trips, ValueError on malformed bytes, and nothing unpickled."""

import ast
import io
import pathlib
import zlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

import oracle
from extractpdf4j_spark import fixtures, imageops
from extractpdf4j_spark.docmodel import (OCR_WORD_COLS, _HDR,
                                         decode_media_payload,
                                         decode_text_span,
                                         encode_media_payload)
from extractpdf4j_spark.config import ExtractConfig
from extractpdf4j_spark.kernels import page_extractor
from extractpdf4j_spark.kernels.lattice import _payload_grid, detect_grid
from extractpdf4j_spark.ocr import EmbeddedWordsBackend
from extractpdf4j_spark.textnorm import edit_distance, edit_distance_le1


def _ref_binarize(g):
    """The generic strip-tiled path, forced (what the bilevel fast path
    must reproduce bit-for-bit)."""
    out = np.empty(g.shape, dtype=np.uint8)
    for y0 in range(0, g.shape[0], 128):
        y1 = min(g.shape[0], y0 + 128)
        out[y0:y1] = imageops._binarize_region_rows(g, y0, y1)
    return out


def _ref_detect(g, k):
    return oracle.line_peaks(_ref_binarize(g), k)


def _cases():
    rng = np.random.default_rng(7)
    # bilevel with ruled lines + a filled block (candidate-rich)
    g1 = np.full((300, 400), 255, dtype=np.uint8)
    g1[80:83, :] = 0
    g1[:, 120:122] = 0
    g1[200:260, 40:160] = 0
    # sparse bilevel noise
    g2 = (rng.integers(0, 2, size=(200, 150)) * 255).astype(np.uint8)
    # all-white / all-black degenerate bilevel
    g3 = np.full((64, 64), 255, dtype=np.uint8)
    g4 = np.zeros((64, 64), dtype=np.uint8)
    # grayscale (must take the generic path and still agree)
    g5 = rng.integers(0, 256, size=(150, 220)).astype(np.uint8)
    return [g1, g2, g3, g4, g5]


def test_bilevel_binarize_bit_identical():
    for g in _cases():
        assert np.array_equal(_ref_binarize(g),
                              imageops.binarize_for_lines(g)), g.shape


def test_bilevel_detect_line_positions_bit_identical():
    for g in _cases():
        r0, c0 = _ref_detect(g, 10)
        r1, c1 = imageops.detect_line_positions(g, 10)
        assert np.array_equal(r0, r1) and np.array_equal(c0, c1), g.shape


def test_is_bilevel_detection():
    assert imageops._is_bilevel(np.array([[0, 255]], dtype=np.uint8))
    assert not imageops._is_bilevel(np.array([[0, 254]], dtype=np.uint8))
    assert not imageops._is_bilevel(np.array([[1, 255]], dtype=np.uint8))


# -- bilevel window-bound shortcut in detect_line_positions -----------------

def _bilevel(h, w):
    return np.full((h, w), 255, dtype=np.uint8)


def _assert_bound_sound(g):
    """Whenever either axis's bound admits the shortcut, the adaptive
    mask must really be the plain black-pixel mask."""
    z = (g == 0).view(np.uint8)
    if not z.size:
        return
    rows_ok = imageops._win15_bound_le216(z.sum(axis=1), z[:, 0], z[:, -1])
    cols_ok = imageops._win15_bound_le216(z.sum(axis=0), z[0, :], z[-1, :])
    if rows_ok or cols_ok:
        assert np.array_equal(imageops._bilevel_mask01(g), z), g.shape


def _assert_detect_exact(g, k=10):
    _assert_bound_sound(g)
    r0, c0 = _ref_detect(g, k)
    r1, c1 = imageops.detect_line_positions(g, k)
    assert np.array_equal(r0, r1) and np.array_equal(c0, c1), g.shape


def _border_cases():
    out = []
    for side in ("top", "bottom", "left", "right"):
        for depth in (1, 2, 7, 8, 15):
            g = _bilevel(60, 50)
            sl = {"top": np.s_[:depth, :], "bottom": np.s_[-depth:, :],
                  "left": np.s_[:, :depth], "right": np.s_[:, -depth:]}[side]
            g[sl] = 0
            out.append(g)
    # corner blocks straddling the 216/217 window count: an edge pixel is
    # counted 8 times by the corner window, so 7x7 stays (14*14=196) and
    # 8x8 clears (15*15=225); 8x7 gives 15*14=210, 8x8 minus a pixel 224
    for bh, bw in ((7, 7), (8, 7), (7, 8), (8, 8), (15, 1), (1, 15)):
        for corner in ((0, 0), (0, -1), (-1, 0), (-1, -1)):
            g = _bilevel(40, 45)
            ys = np.s_[:bh] if corner[0] == 0 else np.s_[-bh:]
            xs = np.s_[:bw] if corner[1] == 0 else np.s_[-bw:]
            g[ys, xs] = 0
            out.append(g)
    # 8x8 corner block less one top-edge pixel: the corner window holds
    # exactly 217 (8*14 + 7*15) and both bounds are tight, so it must fall
    # back; less two such pixels (209) it may take the shortcut
    for n_gap in (1, 2):
        g = _bilevel(40, 45)
        g[:8, :8] = 0
        g[0, 3:3 + n_gap] = 255
        out.append(g)
    g = _bilevel(80, 90)                        # all four borders at once
    g[0, :] = g[-1, :] = g[:, 0] = g[:, -1] = 0
    out.append(g)
    return out


def test_shortcut_black_on_each_border():
    for g in _border_cases():
        _assert_detect_exact(g)


def test_shortcut_many_vertical_rules():
    # 8+ two-pixel vertical rules put >= 16 black pixels in every row, so
    # every row bound saturates at 15 and the row test fails (15*15 > 216);
    # the column bound must then decide on its own
    for n_rules in (8, 9, 12):
        g = _bilevel(120, 40 * n_rules)
        for i in range(n_rules):
            g[:, 20 + 40 * i:22 + 40 * i] = 0
        z = (g == 0).view(np.uint8)
        assert not imageops._win15_bound_le216(z.sum(axis=1), z[:, 0], z[:, -1])
        assert imageops._win15_bound_le216(z.sum(axis=0), z[0, :], z[-1, :])
        _assert_detect_exact(g)
    # the same rules crossed by as many horizontal ones: both bounds fail
    g = _bilevel(40 * 8, 40 * 8)
    for i in range(8):
        g[:, 20 + 40 * i:22 + 40 * i] = 0
        g[20 + 40 * i:22 + 40 * i, :] = 0
    _assert_detect_exact(g)


def test_shortcut_solid_15x15_block():
    for shape, y, x in (((30, 30), 8, 8), ((200, 300), 90, 140),
                        ((15, 15), 0, 0), ((40, 40), 0, 25)):
        g = _bilevel(*shape)
        g[y:y + 15, x:x + 15] = 0
        _assert_detect_exact(g)
    # a 15-row band on a narrow page: the cleared interior changes which
    # rows pass the 35% coverage test, so a wrong shortcut would show
    g = _bilevel(60, 24)
    g[20:35, :] = 0
    _assert_detect_exact(g)


def test_shortcut_tiny_images():
    rng = np.random.default_rng(11)
    for h in (1, 2, 7, 14):
        for w in (1, 3, 14, 15, 40):
            for g in (_bilevel(h, w), np.zeros((h, w), dtype=np.uint8),
                      (rng.integers(0, 2, size=(h, w)) * 255).astype(np.uint8)):
                _assert_detect_exact(g)
                _assert_detect_exact(np.ascontiguousarray(g.T))


def test_shortcut_all_black():
    for shape in ((1, 1), (15, 15), (64, 64), (30, 200), (200, 30)):
        _assert_detect_exact(np.zeros(shape, dtype=np.uint8))


@st.composite
def _bilevel_pages(draw):
    h = draw(st.integers(1, 90))
    w = draw(st.integers(1, 90))
    g = _bilevel(h, w)
    for _ in range(draw(st.integers(0, 10))):
        kind = draw(st.sampled_from(["hrule", "vrule", "block"]))
        t = draw(st.integers(1, 4))
        if kind == "hrule":
            y = draw(st.integers(0, h - 1))
            x0 = draw(st.integers(0, w - 1))
            g[y:y + t, x0:draw(st.integers(x0 + 1, w))] = 0
        elif kind == "vrule":
            x = draw(st.integers(0, w - 1))
            y0 = draw(st.integers(0, h - 1))
            g[y0:draw(st.integers(y0 + 1, h)), x:x + t] = 0
        else:
            y, x = draw(st.integers(0, h - 1)), draw(st.integers(0, w - 1))
            g[y:y + draw(st.integers(1, 20)), x:x + draw(st.integers(1, 20))] = 0
    density = draw(st.sampled_from([0.0, 0.02, 0.3, 0.9]))
    if density:
        rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
        g[rng.random((h, w)) < density] = 0
    return g


@settings(max_examples=150, deadline=None)
@given(_bilevel_pages())
def test_shortcut_property_random_bilevel(g):
    _assert_detect_exact(g)


def _fixture_images():
    pdf = pd.DataFrame({"doc_id": np.array([6], dtype=np.int64),
                        "text": [" ".join(["alpha"] * 60)]})
    _, media = fixtures.build_from_corpus_pdf(pdf)
    ruled = [decode_media_payload(p).image for p in media["payload"]]
    fb = fixtures.FixtureBuilder(seed=42)
    fb.grid_scanned("scanned")
    fb.grid_ruled("ruled")
    _, fmedia = fb.to_pandas()
    built = [decode_media_payload(p).image for p in fmedia["payload"]]
    return {"corpus_ruled": ruled[0], "grid_scanned": built[0],
            "grid_ruled": built[1], "blank_ocr": fixtures.blank_page()}


def test_fixture_pages_take_the_shortcut(monkeypatch):
    imgs = _fixture_images()
    expected = {name: detect_grid(g) for name, g in imgs.items()}

    def boom(gray, z=None):
        raise AssertionError("adaptive-window fallback reached")

    monkeypatch.setattr(imageops, "_bilevel_mask01", boom)
    dense = np.zeros((64, 64), dtype=np.uint8)  # the patch is live
    with pytest.raises(AssertionError, match="fallback reached"):
        imageops.detect_line_positions(dense, 10)
    for name, g in imgs.items():
        assert imageops._is_bilevel(g), name
        assert detect_grid(g) == expected[name], name
    assert len(expected["grid_ruled"][0]) > 2  # the grids were found
    assert len(expected["grid_scanned"][1]) > 2


def test_mask_path_grid_matches_detect_grid():
    """A decoded bilevel payload's grid comes off its black mask and
    equals ``detect_grid`` of the raw page, without building the page:
    the fixture pages take the window-bound shortcut, the dense page the
    ``_bilevel_mask01`` fallback."""
    pages = {**_fixture_images(), "dense": np.zeros((64, 64), np.uint8)}
    for name, g in pages.items():
        p = decode_media_payload(encode_media_payload(1, g, 72.0, 1.0, 1.0))
        assert p.bilevel and p.shape == g.shape, name
        assert _payload_grid(p) == detect_grid(g), name
        assert p._image is None, name


# -- media payload codec ------------------------------------------------------

def _words(texts):
    n = len(texts)
    cols = {c: np.arange(n, dtype=np.int64) * (i + 3) - 2
            for i, c in enumerate(OCR_WORD_COLS) if c != "text"}
    return pd.DataFrame({**cols, "text": texts})[OCR_WORD_COLS]


_TEXTS = ["héllo wörld", "", "a|b|c", "日本語", "|", "plain"]
_CODEC_CASES = {
    "bilevel": ((np.arange(120 * 80).reshape(120, 80) % 2 * 255), _TEXTS),
    "grayscale": ((np.arange(120 * 80).reshape(120, 80) % 251), _TEXTS),
    "bilevel_13x11": ((np.arange(13 * 11).reshape(13, 11) % 3 == 0) * 255,
                      _TEXTS),
    "grayscale_13x11": (np.arange(13 * 11).reshape(13, 11), ["x"]),
    "bilevel_1x1": (np.zeros((1, 1)), ["solo"]),
    "grayscale_1x1": (np.full((1, 1), 7), _TEXTS),
    "zero_words": (np.full((9, 9), 255), []),
}


@pytest.mark.parametrize("case", sorted(_CODEC_CASES))
def test_media_payload_round_trip(case):
    img, texts = _CODEC_CASES[case]
    img = img.astype(np.uint8)
    words = _words(texts)
    payload = encode_media_payload(4, img, 144.0, 612.5, 792.25, words)
    assert _HDR.unpack_from(payload)[1] == (not case.startswith("grayscale"))
    p = decode_media_payload(payload)
    assert (p.page, p.dpi, p.page_width_pt, p.page_height_pt) == \
        (4, 144.0, 612.5, 792.25)
    assert p.image.dtype == np.uint8 and np.array_equal(p.image, img)
    want = words.astype({c: np.int32 for c in OCR_WORD_COLS if c != "text"})
    pd.testing.assert_frame_equal(p.words, want)


def test_media_payload_default_words_empty():
    p = decode_media_payload(
        encode_media_payload(1, np.zeros((10, 10), np.uint8), 72.0, 1.0, 1.0))
    assert len(p.words) == 0 and list(p.words.columns) == OCR_WORD_COLS


@pytest.mark.parametrize("case", sorted(_CODEC_CASES))
def test_payload_keeps_black_mask_and_lazy_image(case):
    img, texts = _CODEC_CASES[case]
    img = img.astype(np.uint8)
    p = decode_media_payload(
        encode_media_payload(4, img, 144.0, 612.5, 792.25, _words(texts)))
    assert p.shape == img.shape
    assert p.bilevel == (not case.startswith("grayscale"))
    if p.bilevel:
        assert p.mask.dtype == np.uint8 and p._image is None
        assert np.array_equal(p.mask, (img == 0).view(np.uint8))
    else:
        assert p.mask is None
    assert p.image.dtype == np.uint8 and np.array_equal(p.image, img)


@pytest.mark.parametrize("texts", [
    _TEXTS, [], ["  ", "", "\t"], ["日本語 ", " x", "ünïcödé", ""],
    ["plain", "words"]], ids=["mixed", "zero", "all_blank", "non_ascii",
                              "no_blank"])
def test_word_columns_match_words_frame(texts):
    """The embedded backend's word columns are its ``words()`` frame's
    columns: blank rows dropped, texts trimmed, the same values."""
    p = decode_media_payload(encode_media_payload(
        1, np.full((9, 9), 255, np.uint8), 72.0, 1.0, 1.0, _words(texts)))
    backend = EmbeddedWordsBackend()
    frame = backend.words(p, None, 6)
    cols = backend.word_columns(p, None, 6)
    assert list(cols) == list(frame.columns) == OCR_WORD_COLS
    for c in OCR_WORD_COLS:
        assert cols[c] == frame[c].tolist(), c
    assert cols["text"] == [t.strip() for t in texts if t.strip()]


def test_stage1_kernels_build_no_page_and_no_frame(monkeypatch):
    """Stage 1's kernels read a decoded bilevel page's mask and word
    arrays only: no ``_is_bilevel`` sniff, no pandas frame and no uint8
    page, on a ruled page with a text layer, a scanned grid (lattice's
    OCR fallback) and an OCR word page."""
    fb = fixtures.FixtureBuilder(seed=42)
    fb.grid_ruled("ruled")
    fb.grid_scanned("scanned")
    fb.ocr_words("ocr")
    docs, media = fb.to_pandas()
    glyphs = {}
    for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
        text = [s["text"] for s in spans if s["kind"] == "text"]
        glyphs[doc_id] = decode_text_span(text[0]) if text else None
    payloads = {d: decode_media_payload(b)
                for d, b in zip(media["doc_id"], media["payload"])}
    extract_page = page_extractor(ExtractConfig(), EmbeddedWordsBackend())

    def boom(*args, **kwargs):
        raise AssertionError("called on the stage-1 kernel path")

    monkeypatch.setattr(pd.DataFrame, "__init__", boom)
    monkeypatch.setattr(imageops, "_is_bilevel", boom)
    results = {d: list(extract_page(glyphs[d], p))
               for d, p in payloads.items()}
    monkeypatch.undo()
    for d, p in payloads.items():
        assert p.bilevel and p._image is None and p._words is None, d
    tables = {(d, strat): (t.nrows, t.ncols, n_ocr)
              for d, res in results.items() for strat, t, n_ocr, _ in res}
    rows_y, cols_x = detect_grid(payloads["ruled"].image)
    assert tables[("ruled", "lattice")] == (len(rows_y) - 1,
                                            len(cols_x) - 1, 0)
    assert tables[("scanned", "lattice")][2] > 0      # cell OCR fallback ran
    assert tables[("ocr", "ocrstream")][0] > 0


def _with_body(payload, edit):
    """Re-deflate ``payload``'s body after ``edit(bytearray)``."""
    body = bytearray(zlib.decompress(payload[_HDR.size:], -15))
    edit(body)
    z = zlib.compressobj(wbits=-15)
    return payload[:_HDR.size] + z.compress(bytes(body)) + z.flush()


def _set_ends(ends):
    def edit(body):
        off = len(body) - 5 - 4 * len(ends)  # texts "abc" + "de" = 5 bytes
        body[off:off + 4 * len(ends)] = np.array(ends, "<i4").tobytes()
    return edit


def _old_npz(**extra):
    buf = io.BytesIO()
    np.savez_compressed(buf, page=np.int64(1),
                        image=np.zeros((4, 4), np.uint8), **extra)
    return buf.getvalue()


def _malformed(case):
    good = encode_media_payload(2, np.full((16, 12), 255, np.uint8), 72.0,
                                100.0, 100.0, _words(["abc", "de"]))
    if case == "truncated_header":
        return good[:_HDR.size - 1]
    if case == "bad_magic":
        return b"XPM\x02" + good[4:]
    if case == "length_mismatch":                   # 4 bytes past the text
        return _with_body(good, lambda body: body.extend(b"\0" * 4))
    if case == "decreasing_offsets":
        return _with_body(good, _set_ends([6, 5]))
    if case == "offsets_miss_text_end":
        return _with_body(good, _set_ends([3, 4]))
    if case == "garbage_deflate":
        return good[:_HDR.size] + b"\xff" * 32
    if case == "npz":
        return _old_npz(ocr_left=np.zeros(0, np.int32))
    raise AssertionError(case)


@pytest.mark.parametrize("case", [
    "truncated_header", "bad_magic", "length_mismatch", "decreasing_offsets",
    "offsets_miss_text_end", "garbage_deflate", "npz"])
def test_media_payload_malformed_raises_value_error(case):
    with pytest.raises(ValueError):
        decode_media_payload(_malformed(case))


class _TouchOnUnpickle:
    """Unpickling this object creates ``path`` (stands in for any code a
    crafted payload could run on an executor)."""

    def __init__(self, path):
        self.path = path

    def __reduce__(self):
        return (open, (self.path, "w"))


def test_pickled_npz_payload_is_an_error_and_runs_nothing(spark, tmp_path):
    from extractpdf4j_spark.config import ExtractConfig
    from extractpdf4j_spark.pipeline import (DOCUMENTS_SCHEMA, MEDIA_SCHEMA,
                                             extract)
    marker = tmp_path / "unpickled"
    z = np.zeros(1, np.int32)
    crafted = _old_npz(
        dpi=np.float64(72.0), page_width_pt=np.float64(100.0),
        page_height_pt=np.float64(100.0),
        **{f"ocr_{c}": z for c in OCR_WORD_COLS if c != "text"},
        ocr_text=np.array([_TouchOnUnpickle(str(marker))], dtype=object))
    valid = encode_media_payload(1, np.full((4, 4), 255, np.uint8), 72.0,
                                 100.0, 100.0)
    docs = spark.createDataFrame(
        [(d, [{"kind": "media", "text": "", "media_ref": d, "offset": 0}])
         for d in ("crafted", "valid")], schema=DOCUMENTS_SCHEMA)
    media = spark.createDataFrame(
        [("crafted", "crafted", 1, crafted), ("valid", "valid", 1, valid)],
        schema=MEDIA_SCHEMA)
    out = {r["doc_id"]: r["status"]
           for r in extract(docs, media, ExtractConfig()).collect()}
    assert out["crafted"] == "error" and out["valid"] != "error"
    assert not marker.exists()


def test_package_never_unpickles():
    """No package module imports pickle or passes allow_pickle (other
    than a literal False)."""
    pkg = pathlib.Path(imageops.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                bad = any(a.name.split(".")[0] == "pickle" for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                bad = (node.module or "").split(".")[0] == "pickle"
            elif isinstance(node, ast.keyword):
                bad = node.arg == "allow_pickle" and not (
                    isinstance(node.value, ast.Constant)
                    and node.value.value is False)
            else:
                continue
            if bad:
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert offenders == []


def test_edit_distance_le1_matches_reference():
    vocab = ["", "date", "dte", "dates", "dat", "description", "balance",
             "balanse", "xbalancex", "credit", "kredit", "debit", "debt"]
    for a in vocab:
        for b in vocab:
            assert edit_distance_le1(a, b) == (edit_distance(a, b) <= 1), (a, b)
