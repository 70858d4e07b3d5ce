"""Round-6 expression-build fast paths: the SQL-string-constructed
plans (one F.expr per output column, replacing thousands of py4j
round-trips at plan-build time) must be row-identical to the original
Column-by-Column constructions on data exercising every branch
(zeros, NaN/Inf, empty text, non-alphabet chars, repeated tokens)."""

import math

import pytest
from pyspark.sql import functions as F

from extractpdf4j_spark.functions._sql import sql_ident, sql_string
from extractpdf4j_spark.functions.dedup import _tokens, simhash64
from extractpdf4j_spark.functions.multimodal import _dhash_exprs
from extractpdf4j_spark.functions.similarity import embedding_audit
from extractpdf4j_spark.functions.textstats import (ENTROPY_ALPHABET,
                                                    char_entropy)


def _assert_same(a, b):
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_dhash_exprs_match_column_build(spark):
    px = F.col("pixels")

    def gray(y, x):
        k = 3 * (9 * y + x)
        return px.getItem(k) + px.getItem(k + 1) + px.getItem(k + 2)

    byte_cols, hex_parts = [], []
    for y in range(8):
        byte = F.lit(0).cast("long")
        for x in range(8):
            byte = byte + F.when(gray(y, x + 1) > gray(y, x),
                                 F.lit(1 << x).cast("long")).otherwise(
                F.lit(0).cast("long"))
        byte_cols.append(byte.alias(f"b{y}"))
        hex_parts.append(F.format_string("%02x", byte.cast("int")))
    old_hex = F.concat(*hex_parts).alias("dhash_hex")

    rows = [(i, [(i * 31 + j * 7 + (i * j) % 5) % 256 for j in range(216)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "asset_id int, pixels array<long>")
    new_b, new_hex = _dhash_exprs(9, 8)
    _assert_same(df.select("asset_id", *byte_cols, old_hex),
                 df.select("asset_id", *new_b, new_hex))


def test_simhash64_matches_column_build(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the the the"),
         (3, ""), (4, "  padded   whitespace  tokens "),
         (5, "unicode tøkens über alles")],
        "doc_id long, text string")

    toks = (df.select(F.col("doc_id"), F.explode(_tokens(F.col("text")))
                      .alias("tok"))
            .filter(F.col("tok") != ""))
    h = F.md5(F.col("tok"))
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    toks = toks.select("doc_id", hi.alias("hi"), lo.alias("lo"))
    votes = []
    for j in range(32):
        votes.append(F.sum(
            (F.shiftright(F.col("hi"), j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v_hi_{j}"))
        votes.append(F.sum(
            (F.shiftright(F.col("lo"), j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v_lo_{j}"))
    agg = toks.groupBy("doc_id").agg(*votes)
    sim_hi = sum((F.col(f"v_hi_{j}") >= 0).cast("long") * (1 << j)
                 for j in range(32))
    sim_lo = sum((F.col(f"v_lo_{j}") >= 0).cast("long") * (1 << j)
                 for j in range(32))
    old = agg.select(F.col("doc_id"), sim_hi.alias("simhash_hi"),
                     sim_lo.alias("simhash_lo"))
    _assert_same(old, simhash64(df))


def test_char_entropy_matches_column_build(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox 123!"), (2, ""), (3, "aaaaaaa"),
         (4, "!@#$%^&*()"), (5, "MiXeD CaSe 42 and spaces")],
        "doc_id long, text string")

    t = F.lower(F.col("text"))
    n = F.length(t).cast("long")
    cnt_cols = [
        (n - F.length(F.replace(t, F.lit(c))).cast("long")).alias(f"_c{i}")
        for i, c in enumerate(ENTROPY_ALPHABET)]
    proj = df.select(F.col("doc_id"), n.alias("_n"), *cnt_cols)
    known = sum((F.col(f"_c{i}") for i in range(1, len(ENTROPY_ALPHABET))),
                F.col("_c0"))
    proj = proj.withColumn("_other", F.col("_n") - known)

    def term(c):
        p = c.cast("double") / F.col("_n").cast("double")
        return F.when(c > 0, -p * F.log(p)).otherwise(F.lit(0.0))

    ent = term(F.col("_c0"))
    for i in range(1, len(ENTROPY_ALPHABET)):
        ent = ent + term(F.col(f"_c{i}"))
    ent = ent + term(F.col("_other"))
    other_ratio = F.when(
        F.col("_n") > 0,
        F.col("_other").cast("double") / F.col("_n").cast("double")
    ).otherwise(F.lit(0.0))
    old = proj.select(
        F.col("doc_id"), F.col("_n").alias("n_chars"),
        F.round(other_ratio, 6).alias("other_ratio"),
        F.round(ent, 6).alias("char_entropy"))
    _assert_same(old, char_entropy(df))


def test_embedding_audit_matches_column_build(spark):
    nan, inf = float("nan"), float("inf")
    rows = [
        (1, [float(j) / 7 - 4 for j in range(64)]),
        (2, [0.0] * 64),
        (3, [nan if j == 3 else 0.5 for j in range(64)]),
        (4, [inf if j == 5 else -0.25 for j in range(64)]),
        (5, [-inf if j == 60 else 1.75 for j in range(64)]),
        (6, [nan, inf, -inf] + [0.0] * 61),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    xs = [F.get(F.col("embedding"), j).cast("double") for j in range(64)]
    one = lambda c: c.cast("long")  # noqa: E731
    n_zero = sum(one(x == 0.0) for x in xs)
    n_nan = sum(one(F.isnan(x)) for x in xs)
    n_inf = sum(one(~F.isnan(x) & (F.abs(x) == inf)) for x in xs)
    sq = sum(
        F.when(F.isnan(x) | (F.abs(x) == inf), F.lit(0).cast("long"))
        .otherwise((F.floor(x * 1e6).cast("long")
                    * F.floor(x * 1e6).cast("long")))
        for x in xs)
    old = df.select(
        F.col("vec_id"),
        F.size("embedding").cast("long").alias("n_dims"),
        n_zero.alias("n_zero"), n_nan.alias("n_nan"),
        n_inf.alias("n_inf"), sq.alias("sumsq_micro"),
        F.round(F.sqrt(sq.cast("double")) / F.lit(1e6), 6).alias("norm"))
    _assert_same(old, embedding_audit(df))
    # sanity on the planted defects
    got = {r["vec_id"]: r for r in embedding_audit(df).collect()}
    assert got[2]["n_zero"] == 64 and got[3]["n_nan"] == 1
    assert got[4]["n_inf"] == 1
    # -inf is counted by abs() == inf too
    assert got[5]["n_inf"] == 1 and got[6]["n_inf"] == 2
    assert not math.isnan(got[3]["norm"])


def test_sql_quoting_helpers():
    assert sql_ident("text") == "`text`"
    assert sql_ident("a`b") == "`a``b`"
    assert sql_string("it's") == "'it''s'"
    with pytest.raises(ValueError):
        sql_string("\\")
    # today's alphabet is spliced exactly as before, so plans are unchanged
    assert [sql_string(c) for c in ENTROPY_ALPHABET] == \
        [f"'{c}'" for c in ENTROPY_ALPHABET]


def test_expr_builders_quote_column_names(spark):
    """A backtick in a column name stays part of the name instead of
    closing the quote in the generated SQL."""
    df = spark.createDataFrame(
        [(1, "it's the `quick` fox 42!"), (2, "")], "doc_id long, text string")
    odd = df.withColumnRenamed("text", "te`xt")
    _assert_same(char_entropy(df),
                 char_entropy(odd, text_col="te`xt"))
    # a name written to break out of the quote only fails to resolve
    with pytest.raises(Exception, match="UNRESOLVED_COLUMN"):
        char_entropy(df, text_col="text`), lower(`text").collect()

    emb = spark.createDataFrame(
        [(1, [0.5, 0.0, float("nan")]), (2, [1.0, -2.0, 3.0])],
        "vec_id long, embedding array<double>")
    odd = emb.withColumnRenamed("embedding", "emb`x")
    _assert_same(embedding_audit(emb, dim=3),
                 embedding_audit(odd, vec_col="emb`x", dim=3))
