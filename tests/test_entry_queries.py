"""Mirror of the driver's correctness gate: every queries() entry with an
oracle_sql() entry must match DuckDB on row count, columns and values."""

import math

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


def test_exec_prefs_follow_gate_name():
    """Every gate sets the same three session confs: size-based AQE
    partition coalescing on, and an Arrow batch size picked by its name:
    the 12 builders that reach ``pipeline.extract`` (``q_extract_*``,
    ``q_flagship_*``) take 64-row batches, every other gate 4096-row
    ones. No Spark: a stub per registered name is wrapped and called on a
    fake session that records ``conf.set``."""
    from types import SimpleNamespace

    from extractpdf4j_spark.entry_queries import QUERIES, _with_exec_prefs

    batches = {}
    for name in QUERIES:
        confs = {}
        session = SimpleNamespace(conf=SimpleNamespace(
            set=lambda k, v, confs=confs: confs.__setitem__(k, v)))

        def stub(spark, sf):
            return (spark, sf)

        stub.__name__ = name
        assert _with_exec_prefs(stub)(session, "sf") == (session, "sf")
        assert confs.pop(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false"
        assert confs.pop(
            "spark.sql.adaptive.coalescePartitions.enabled") == "true"
        batches[name] = confs.pop(
            "spark.sql.execution.arrow.maxRecordsPerBatch")
        assert not confs, f"{name}: unexpected confs {confs}"
    extraction = {n for n, b in batches.items() if b == "64"}
    assert extraction == {n for n in QUERIES
                          if n.startswith(("q_extract_", "q_flagship_"))}
    assert len(extraction) == 12
    assert sum(b == "4096" for b in batches.values()) == 132


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
