"""Property-based parity: on arbitrary glyph clouds and OCR word layouts,
the vectorized kernels must agree with the literal oracle transliteration
— this catches threshold/rounding/ordering divergences no fixture family
happens to hit."""

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from extractpdf4j_spark.kernels.stream import stream_extract_page
from extractpdf4j_spark.kernels.ocrstream import (
    _group_lines_lists, _header_anchored_bounds_core, _infer_separators_core)
from extractpdf4j_spark.table import Table

import oracle


coord = st.floats(min_value=0.0, max_value=900.0,
                  allow_nan=False, allow_infinity=False)
width = st.floats(min_value=0.1, max_value=60.0,
                  allow_nan=False, allow_infinity=False)
token = st.text(alphabet="abcXYZ019.$,- ", min_size=1, max_size=8)

glyph = st.tuples(token, coord, coord, width)


@settings(max_examples=60, deadline=None)
@given(st.lists(glyph, min_size=1, max_size=60))
def test_stream_kernel_matches_oracle_on_random_glyphs(glyphs):
    toks = np.array([g[0] for g in glyphs], dtype=object)
    x = np.array([g[1] for g in glyphs])
    y = np.array([g[2] for g in glyphs])
    w = np.array([g[3] for g in glyphs])
    got = stream_extract_page(x, y, w, toks)
    want = oracle.oracle_stream_page([(g[0], g[1], g[2], g[3])
                                      for g in glyphs])
    assert got.cells == want.cells
    assert np.allclose(got.col_bounds, want.col_bounds)
    assert np.allclose(got.row_bounds, want.row_bounds)


word_box = st.tuples(
    st.text(alphabet="abcdefgDQWE019.$,", min_size=1, max_size=10),
    st.integers(0, 800),    # left
    st.integers(0, 1000),   # top
    st.integers(1, 120),    # width
    st.integers(5, 40),     # height
    st.integers(1, 3),      # block
    st.integers(1, 2),      # par
    st.integers(1, 12),     # line
)


def _words_df(entries):
    return pd.DataFrame({
        "left": [e[1] for e in entries], "top": [e[2] for e in entries],
        "width": [e[3] for e in entries], "height": [e[4] for e in entries],
        "conf": [90] * len(entries), "text": [e[0] for e in entries],
        "block": [e[5] for e in entries], "par": [e[6] for e in entries],
        "line": [e[7] for e in entries],
        "word": list(range(1, len(entries) + 1)),
    })


@settings(max_examples=40, deadline=None)
@given(st.lists(word_box, min_size=1, max_size=40), st.integers(200, 900))
def test_separator_inference_matches_oracle(entries, page_width):
    df = _words_df(entries)
    lines_k = _group_lines_lists(
        *(df[c].tolist() for c in ("left", "top", "width", "height", "text",
                                   "block", "par", "line")))
    lines_o = []
    groups = {}
    for w in df.to_dict("records"):
        groups.setdefault(f"{w['block']}:{w['par']}:{w['line']}", []).append(w)
    lines_o = sorted(groups.values(), key=lambda ln: min(w["top"] for w in ln))
    for ln in lines_o:
        ln.sort(key=lambda w: w["left"])

    got = _infer_separators_core(lines_k, page_width)
    want = oracle._infer_separators(lines_o, page_width)
    assert got == want

    got_b = _header_anchored_bounds_core(lines_k, page_width)
    want_b = oracle._header_anchored_bounds(lines_o, page_width)
    assert got_b == want_b


@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.text(alphabet="abZ 019.$,CRO", max_size=8),
                         min_size=3, max_size=3), min_size=1, max_size=10))
def test_column_normalization_matches_oracle(grid):
    from extractpdf4j_spark.textnorm import normalize_numeric_like_columns
    g1 = [list(r) for r in grid]
    g2 = [list(r) for r in grid]
    normalize_numeric_like_columns(g1)
    oracle._normalize_columns(g2)
    assert g1 == g2


# ---------------------------------------------------------------------------
# Spark-level properties (few examples — each drives a Spark job)
# ---------------------------------------------------------------------------

def _ref_scrub(docs, evals, n, window, min_frag):
    """Literal scalar replay of corpusops.scrub_contaminated."""
    egrams = set()
    for _, t in evals:
        toks = " ".join(t.lower().split()).split(" ")
        for i in range(0, max(len(toks) - n, 0) + 1):
            g = " ".join(toks[i:i + n])
            if g:
                egrams.add(g)
    out = []
    for did, text in docs:
        orig = " ".join(text.split()).split(" ")
        low = [t.lower() for t in orig]
        bad = set()
        for i in range(0, max(len(low) - n, 0) + 1):
            if " ".join(low[i:i + n]) in egrams:
                for p in range(max(i - window, 0),
                               min(i + n - 1 + window, len(low) - 1) + 1):
                    bad.add(p)
        kept = [p for p in range(len(orig)) if p not in bad]
        frags, cur = [], []
        for p in kept:
            if cur and p != cur[-1] + 1:
                frags.append(cur)
                cur = []
            cur.append(p)
        if cur:
            frags.append(cur)
        fid = 0
        for fr in frags:
            if len(fr) >= min_frag:
                out.append((did, fid, " ".join(orig[p] for p in fr),
                            len(fr)))
                fid += 1
    return sorted(out)


@settings(max_examples=6, deadline=None)
@given(st.lists(st.lists(st.sampled_from("Aa Bb cc dd ee ff gg hh".split()),
                         min_size=4, max_size=18),
                min_size=3, max_size=7),
       st.integers(0, 2))
def test_scrub_contaminated_matches_scalar_reference(spark, docs_toks,
                                                     window):
    from extractpdf4j_spark.functions.corpusops import scrub_contaminated
    docs = [(f"d{i}", " ".join(toks)) for i, toks in enumerate(docs_toks)]
    # the benchmark quotes the middle of doc 0 — guaranteed collisions
    evals = [("e0", " ".join(docs_toks[0][1:4]))]
    got = sorted((r["doc_id"], r["frag_id"], r["text"], r["n_tokens"])
                 for r in scrub_contaminated(
                     spark.createDataFrame(docs,
                                           "doc_id string, text string"),
                     spark.createDataFrame(evals,
                                           "doc_id string, text string"),
                     n=3, window=window, min_fragment=2).collect())
    assert got == _ref_scrub(docs, evals, 3, window, 2)


@settings(max_examples=6, deadline=None)
@given(st.lists(st.text(alphabet="abc <>/=\"'&#;\n\t", min_size=0,
                        max_size=60),
                min_size=1, max_size=5))
def test_parse_warc_text_round_trips_random_payloads(spark, bodies):
    """Any payload free of the record magic round-trips byte-exactly
    through the codegen framing parser."""
    from extractpdf4j_spark.functions.warcops import parse_warc_text
    recs = []
    for i, body in enumerate(bodies):
        http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + body)
        recs.append("WARC/1.0\r\nWARC-Type: response\r\n"
                    f"WARC-Target-URI: https://p/{i}\r\n"
                    f"Content-Length: {len(http.encode())}\r\n\r\n"
                    + http + "\r\n\r\n")
    df = spark.createDataFrame([("f", "".join(recs))],
                               "file_id string, content string")
    rows = sorted(parse_warc_text(df).collect(),
                  key=lambda r: r["record_idx"])
    assert len(rows) == len(bodies)
    for i, (r, body) in enumerate(zip(rows, bodies)):
        assert r["target_uri"] == f"https://p/{i}"
        # the parser trims the trailing record separator CRLFs only
        import re as _re
        assert r["payload"] == _re.sub(r"(\r\n)+$", "", body)
