"""Mirror of the driver's correctness gate: every queries() entry with an
oracle_sql() entry must match DuckDB on row count, columns and values."""

import ast
import math
import pathlib

import duckdb
import pytest

SF = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _norm(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            # The driver's gate canonicalizer (pandas sort_values over all
            # columns) dies on unhashable cells — reject them here so a
            # driver-incompatible query output fails locally too.
            if isinstance(v, (list, dict, set, tuple)):
                raise AssertionError(
                    f"non-scalar value in gated column {c!r}: {type(v).__name__}"
                    " — oracle-gated queries must emit scalar columns only"
                    " (explode arrays to rows)")
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _oracle_pairs():
    from extractpdf4j_spark.entry_queries import ORACLES, QUERIES
    return [(name, QUERIES[name], ORACLES[name]) for name in ORACLES]


def test_registry_contract():
    """Registry order and oracle coverage. External correctness checks
    attest registered gates by position, so the whole order is pinned by
    hash and the 10 E2E/flagship gates must stay first. ``QUERIES`` is a
    dict built from ``GATES``, so a repeated builder would silently drop
    a gate: the lengths must agree."""
    import hashlib

    from extractpdf4j_spark.entry_queries import GATES, ORACLES, QUERIES
    assert len(GATES) == len(QUERIES) == 144
    assert hashlib.sha256("\n".join(QUERIES).encode()).hexdigest() == (
        "df9dc1c5eee1bb30174979161dafe07ccacb6430d44eee4ac2e06c98f3fd8bdd")
    gates = [f"q_extract_{s}_{kind}"
             for s in ("stream", "lattice", "ocr", "hybrid")
             for kind in ("spans", "metrics")]
    assert list(QUERIES)[:10] == gates + ["q_flagship_spans",
                                          "q_flagship_metrics"]
    assert {g.build.__name__ for g in GATES if g.oracle is None} == {
        "q_extract_metrics", "q_extract_spans"}
    assert len(ORACLES) == 142 and set(ORACLES) <= set(QUERIES)


def test_queries_are_the_gate_builders():
    """``QUERIES`` registers each gate's builder itself: no wrapper sits
    between a caller and the plan it builds."""
    from extractpdf4j_spark.entry_queries import GATES, QUERIES
    assert len(GATES) == 144
    for g in GATES:
        assert QUERIES[g.build.__name__] is g.build


def _stage_inputs(node):
    """The shuffle reads feeding ``node``'s stage: the nearest
    AQEShuffleRead or exchange below it, not looking past one."""
    for kid in node.kids:
        if kid.name == "AQEShuffleRead" or "Exchange" in kid.name:
            yield kid
        else:
            yield from _stage_inputs(kid)


def test_gates_leave_the_session_confs_alone(spark):
    """Session confs bind when a plan executes, so a gate that set them
    while building would change how a frame built earlier runs. Build an
    extraction gate, build and run an operator gate, then execute the
    extraction frame: the session still holds ``spark_confs()``'s
    values, and no Python stage of the executed plan reads a coalesced
    shuffle."""
    from test_pipeline import _executed_tree, _nodes

    from extractpdf4j_spark.config import spark_confs
    from extractpdf4j_spark.entry_queries import QUERIES

    def session():
        return {k: spark.conf.get(k, None) for k in spark_confs()}

    before = session()
    extraction = QUERIES["q_extract_stream_metrics"](spark, SF)
    QUERIES["q_hash_embed"](spark, SF).collect()
    assert extraction.collect()
    assert session() == before == spark_confs()
    python = [n for n, _ in _nodes(_executed_tree(extraction))
              if n.name in ("MapInPandas", "ArrowEvalPython",
                            "FlatMapGroupsInPandas")]
    assert python
    for stage in python:
        reads = list(_stage_inputs(stage))
        assert reads and not [n for n in reads if "coalesced" in n.desc]


# the caller-level files that build sessions; tests other than conftest
# set and restore confs in their own bodies
_SESSION_FILES = ("extractpdf4j_spark/**/*.py", "bench.py", "scripts/*.py",
                  "tests/conftest.py")


def _calls(tree):
    """Every method call in ``tree``, descending into string constants
    that build a session (a script run in a subprocess)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func,
                                                     ast.Attribute):
            yield node
        if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and ".getOrCreate()" in node.value):
            yield from _calls(ast.parse(node.value))


def _applies_spark_confs(call):
    return any(k.arg == "map" and isinstance(k.value, ast.Call)
               and getattr(k.value.func, "id", "") == "spark_confs"
               for k in call.keywords)


def test_only_spark_confs_sets_its_confs():
    """``config.spark_confs()`` is the one place the package, bench.py,
    the scripts and the test session set the confs it owns: no other
    ``.config(...)`` or ``.set(...)`` names one of its keys, and every
    session builder chain applies ``spark_confs()``."""
    from extractpdf4j_spark.config import spark_confs
    owned = set(spark_confs())
    root = pathlib.Path(__file__).resolve().parent.parent
    files = sorted({f for pat in _SESSION_FILES for f in root.glob(pat)}
                   - {root / "extractpdf4j_spark" / "config.py"})
    assert root / "bench.py" in files and len(files) > 40
    builders = []
    for f in files:
        for call in _calls(ast.parse(f.read_text())):
            where = f"{f.relative_to(root)}:{call.lineno}"
            if call.func.attr in ("config", "set"):
                keys = {n.value for n in ast.walk(call)
                        if isinstance(n, ast.Constant) and n.value in owned}
                assert not keys, f"{where} sets {keys}"
            if call.func.attr == "getOrCreate":
                chain, node = [], call.func.value
                while (isinstance(node, ast.Call)
                       and isinstance(node.func, ast.Attribute)):
                    chain.append(node)
                    node = node.func.value
                assert any(map(_applies_spark_confs, chain)), where
                builders.append(where)
    assert len(builders) == 8, builders


@pytest.mark.parametrize("name,fn,sql", _oracle_pairs(),
                         ids=[n for n, *_ in _oracle_pairs()])
def test_query_matches_oracle(spark, name, fn, sql):
    sdf = fn(spark, SF)
    srows = [r.asDict() for r in sdf.collect()]
    scols = sorted(sdf.columns)

    con = _duck()
    cur = con.execute(sql)
    dcols_raw = [d[0] for d in cur.description]
    drows = [dict(zip(dcols_raw, row)) for row in cur.fetchall()]
    dcols = sorted(dcols_raw)

    assert scols == dcols, f"{name}: column mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    a, b = _norm(srows, scols), _norm(drows, dcols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_rows_only_queries(spark):
    from extractpdf4j_spark.entry_queries import QUERIES
    metrics = QUERIES["q_extract_metrics"](spark, SF)
    rows = metrics.collect()
    assert len(rows) > 0
    statuses = {r["status"] for r in rows}
    assert "ok" in statuses
    strategies = {r["strategy"] for r in rows if r["status"] == "ok"}
    assert "stream" in strategies

    spans = QUERIES["q_extract_spans"](spark, SF)
    srows = spans.limit(50).collect()
    assert len(srows) > 0
    assert set(spans.columns) == {"doc_id", "kind", "text", "media_ref", "offset"}

    # q_simhash / q_lsh_ann / q_knn_join gained full oracles in round 2 —
    # they are covered by test_query_matches_oracle now


def test_entry_smoke(spark):
    import sys
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry_mod
    df = entry_mod.entry(spark)
    n = df.count()
    assert n >= 0
    assert df.columns == ["doc_id", "kind", "text", "media_ref", "offset"]
