"""Unit ports of the reference's algorithmic tests (SURVEY.md §5).

Each test cites the JUnit source it ports; inputs/expectations are kept
verbatim where the Java test is data-driven.
"""

import numpy as np
import pytest

from extractpdf4j_spark.pagerange import parse_pages
from extractpdf4j_spark.scoring import pick_strategy, score_cells_vectorized
from extractpdf4j_spark.table import Table, export_csv
from extractpdf4j_spark.textnorm import (edit_distance, is_likely_numeric,
                                         normalize_alpha, normalize_amount,
                                         normalize_date)
from extractpdf4j_spark.kernels.stream import stream_extract_page
from extractpdf4j_spark.kernels.ocrstream import (_locate_clamped,
                                                  _matches_required_core)
from oracle import _score


# ---- PageRangeTest.java:7-17 ----------------------------------------------

def test_pagerange_single():
    assert parse_pages("2") == [2]


def test_pagerange_range():
    assert parse_pages("2-5") == [2, 3, 4, 5]


def test_pagerange_mixed():
    assert parse_pages("1,3-4,6") == [1, 3, 4, 6]


def test_pagerange_all():
    assert parse_pages("all") == [-1]


def test_pagerange_default_one():
    assert parse_pages(None) == [1]


def test_pagerange_bad_tokens_throw():
    with pytest.raises(ValueError):
        parse_pages("1,foo,5-bar")


# ---- TableTest.java:8-43 ---------------------------------------------------

def test_table_dims_and_cell():
    t = Table([["a", "b"], ["c", ""]], [0.0, 10.0, 20.0], [0.0, 10.0, 20.0])
    assert t.nrows == 2
    assert t.ncols == 2
    assert t.cell(0, 0) == "a"


def test_table_csv_quoting():
    t = Table([["a", "b,c", 'd"e', "x\ny"]],
              [0.0, 10.0, 20.0, 30.0, 40.0], [0.0, 10.0])
    assert t.to_csv(",") == 'a,"b,c","d""e","x\ny"'


# ---- CsvExporterTest.java:12-107 ------------------------------------------

def test_csv_custom_delimiter():
    t = Table([["Col1", "Col2"], ["Val1", "Val2"]],
              [0.0, 10.0, 20.0], [0.0, 10.0, 20.0])
    assert export_csv([t], ";") == "Col1;Col2\nVal1;Val2\n"


def test_csv_value_containing_delimiter():
    t = Table([["A;B", "C"]], [0.0, 10.0, 20.0], [0.0, 10.0])
    assert export_csv([t], ";") == '"A;B";C\n'


def test_csv_value_containing_quotes():
    t = Table([['A "quote" test', "B"]], [0.0, 10.0, 20.0], [0.0, 10.0])
    assert export_csv([t], ",") == '"A ""quote"" test",B\n'


def test_csv_null_cells():
    t = Table([["A", None, "C"]], [0.0, 10.0, 20.0, 30.0], [0.0, 10.0])
    assert export_csv([t], ",") == "A,,C\n"


def test_csv_delimiter_validation():
    t = Table([["a"]], [0.0, 1.0], [0.0, 1.0])
    with pytest.raises(ValueError):
        export_csv([t], "")
    with pytest.raises(ValueError):
        export_csv([t], ",,")


# ---- HybridParserTest.java:39-62 ------------------------------------------

def test_score_prefers_filled_tables():
    sparse = Table([["", "1", ""], ["", "", ""]],
                   [0.0, 10.0, 20.0], [0.0, 10.0, 20.0])
    dense = Table([["1", "2"], ["3", "4"]],
                  [0.0, 10.0, 20.0], [0.0, 10.0, 20.0])
    assert score_cells_vectorized(dense.cells) > \
        score_cells_vectorized(sparse.cells)
    assert score_cells_vectorized(dense.cells) == pytest.approx(_score(dense))
    assert score_cells_vectorized(sparse.cells) == \
        pytest.approx(_score(sparse))


@pytest.mark.parametrize("cells", [
    [],
    [[]],
    [["a"]],
    [[" ", "\t"], ["x", None]],
    [["a", "b", "c"], ["", " d ", ""], [None, None, None]],
    [["1", "2", "3", "4", "5"]] * 7,
], ids=["empty", "no_cols", "one_cell", "blank_and_none", "mixed", "7x5"])
def test_score_cells_vectorized_matches_reference(cells):
    # Java String.isBlank semantics: whitespace-only and null are blank
    t = Table(cells, [], [])
    assert score_cells_vectorized(cells) == pytest.approx(_score(t))


def test_tie_break_order():
    # HybridParser.java:257-263: lattice wins ties, then ocrstream.
    assert pick_strategy(0.5, 0.5, 0.5) == "lattice"
    assert pick_strategy(0.5, 0.2, 0.5) == "ocrstream"
    assert pick_strategy(0.5, 0.2, 0.3) == "stream"
    assert pick_strategy(0.0, 0.0, 0.0) == "lattice"


# ---- StreamParserTest.java:15-58 ------------------------------------------

def test_stream_infer_bounds_and_findcol():
    """Glyph vectors ported verbatim: two rows A-D / E-H, w=5."""
    x = np.array([5.0, 12.0, 35.0, 42.0, 6.0, 14.0, 37.0, 46.0])
    y = np.array([10.0, 10.0, 10.0, 10.0, 20.0, 20.0, 20.0, 20.0])
    w = np.full(8, 5.0)
    toks = np.array(list("ABCDEFGH"), dtype=object)
    t = stream_extract_page(x, y, w, toks)
    # bounds include [0, ..., 1e9] margins with >=1 voted separator
    assert len(t.col_bounds) >= 3
    bounds = np.asarray(t.col_bounds)
    c0 = np.searchsorted(bounds, 7.0, side="right") - 1
    c1 = np.searchsorted(bounds, 36.0, side="right") - 1
    assert c1 > c0


# ---- OcrStreamParserTest.java:34-93 ---------------------------------------

def test_locate_clamps_to_last_column():
    bounds = [0.0, 10.0, 20.0]
    assert _locate_clamped(bounds, 5.0) == 0
    assert _locate_clamped(bounds, 15.0) == 1
    assert _locate_clamped(bounds, 25.0) == 1  # clamp


def _line(texts):
    return [normalize_alpha(t) for t in texts]


def test_required_headers_all_present():
    line = _line(["Date", "Description", "Balance"])
    assert _matches_required_core(line, ("date", "description", "balance"))


def test_required_headers_missing_one():
    line = _line(["Date", "Description"])
    assert not _matches_required_core(line, ("date", "description", "balance"))


def test_required_headers_small_typos():
    line = _line(["Datc", "Descriptlon", "Balance"])
    assert _matches_required_core(line, ("date", "description", "balance"))


# ---- textnorm (OcrStreamParser.java:315-336,397-438) -----------------------

def test_edit_distance():
    assert edit_distance("datc", "date") == 1
    assert edit_distance("date", "date") == 0
    assert edit_distance("", "abc") == 3


def test_normalize_alpha():
    assert normalize_alpha("Datc9!") == "datc"
    assert normalize_alpha("123") == ""


def test_is_likely_numeric():
    assert is_likely_numeric("1,234.56")
    assert is_likely_numeric("$-12.00CR")
    assert not is_likely_numeric("12 Jul")
    assert not is_likely_numeric("")
    assert not is_likely_numeric(None)


def test_normalize_amount_confusions_and_cents_bug():
    assert normalize_amount("1 2O4.5O") == "1204.50"
    assert normalize_amount("12I.5S") == "121.55"
    # bug-compatible: trailing "d,dd" loses the digit before the comma
    assert normalize_amount("1,234,56") == "1,23.56"


def test_normalize_date():
    assert normalize_date("12Jul  2025") == "12 Jul 2025"
    assert normalize_date(" 3 Aug ") == "3 Aug"


def test_explicit_columns_override_inference():
    """docs/advanced-usage/columns.md feature (doc-only in the reference):
    explicit x boundaries replace the gap histogram."""
    x = np.array([10.0, 100.0, 200.0])
    y = np.array([50.0, 50.0, 50.0])
    w = np.array([10.0, 10.0, 10.0])
    toks = np.array(["a", "b", "c"], dtype=object)
    t = stream_extract_page(x, y, w, toks, columns=(150.0, 60.0))
    assert t.col_bounds == [0.0, 60.0, 150.0, 1e9]
    assert t.cells == [["a", "b", "c"]]


def test_table_areas_confine_glyphs():
    """docs/advanced-usage/table-areas.md feature: glyphs outside every
    region are excluded before parsing."""
    x = np.array([10.0, 100.0, 400.0])
    y = np.array([50.0, 50.0, 700.0])
    w = np.array([10.0, 10.0, 10.0])
    toks = np.array(["in1", "in2", "out"], dtype=object)
    t = stream_extract_page(x, y, w, toks,
                            table_areas=((0.0, 0.0, 300.0, 100.0),))
    flat = [v for row in t.cells for v in row if v]
    assert flat == ["in1", "in2"]
