"""The unrolled similarity kernel (functions/similarity.py::unrolled_score)
is bit-identical to the higher-order folds it replaces in exact QueryANN,
NaN, ±inf, −0.0, NULL elements, NULL and empty arrays and a query of the
wrong length included, and agrees with DuckDB's list_inner_product. The
SQL-text folds (``score_sql`` without a length) equal the Column folds."""

import math
import os
import struct
import sys

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from systems_spark.functions.similarity import (cosine_similarity,
                                                dot_product, dot_product_sql,
                                                score_sql, unrolled_score)

SCHEMA = "i int, q array<float>, v array<float>"


def _bits(x):
    return None if x is None else struct.pack("<d", x)


def _outcome(df, *cols):
    """The columns' values as bit patterns, row by row, or the error
    class an ANSI division by zero raises (cosine of a zero vector)."""
    try:
        rows = df.select("i", *cols).collect()
    except Exception as e:  # noqa: BLE001 - compared, not swallowed
        if "DIVIDE_BY_ZERO" not in str(e):
            raise
        return "DIVIDE_BY_ZERO"
    return [tuple(_bits(x) for x in r[1:]) for r in sorted(rows)]


FINITE = st.floats(width=32, allow_nan=False, allow_infinity=False)
FLOAT32 = st.one_of(
    FINITE,
    st.sampled_from([0.0, -0.0, math.nan, math.inf, -math.inf, 1e-45]),
    st.none())


def _l2_fold(q, v):
    """Negative squared distance as a Column-tree fold: the reference."""
    return -F.aggregate(
        F.zip_with(q, v, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, t: acc + t)


def _text_fold(metric):
    return F.expr(score_sql(metric, "q", "v"))


def _random(seed, n):
    # embedding-like float32 values over six decades: their double sums
    # round, so any change of the fold order changes the result
    rng = np.random.default_rng(seed)
    return (rng.standard_normal(n) * 10.0 ** rng.uniform(-3, 3, n)) \
        .astype(np.float32).tolist()


def test_unrolled_inner_product_matches_duckdb(spark):
    import duckdb

    rows = [(i, _random(2 * i, 16), _random(2 * i + 1, 16)) for i in range(4)]
    got = [r.s for r in spark.createDataFrame(rows, SCHEMA)
           .select(unrolled_score("ip", "q", "v", 16).alias("s"))
           .orderBy("i").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, q FLOAT[], v FLOAT[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = [r[0] for r in con.execute(
        f"SELECT {dot_product_sql('q', 'v')} FROM t ORDER BY i").fetchall()]
    assert got == want


def test_unrolled_scores_match_the_folds_on_embedding_like_vectors(spark):
    rows = [(i, _random(2 * i, d), _random(2 * i + 1, d))
            for i, d in enumerate([16] * 6 + [64] * 6)]
    df = spark.createDataFrame(rows, SCHEMA)
    q, v = F.col("q"), F.col("v")
    for d in (16, 64):
        part = df.where(F.size("q") == d)
        want = _outcome(part, dot_product(q, v), cosine_similarity(q, v),
                        _l2_fold(q, v))
        for score in (lambda m: unrolled_score(m, "q", "v", d), _text_fold):
            assert _outcome(part, *(score(m)
                                    for m in ("ip", "cosine", "l2"))) == want


@st.composite
def _vector(draw, n, kind):
    """NULL or n elements: embedding-like, hypothesis's finite floats, or
    finite floats mixed with NaN, ±inf, −0.0, a subnormal and NULL."""
    if draw(st.integers(0, 5)) == 0:
        return None
    if kind == "random":
        return _random(draw(st.integers(0, 2**32 - 1)), n)
    elem = FINITE if kind == "finite" else FLOAT32
    return draw(st.lists(elem, min_size=n, max_size=n))


@st.composite
def _case(draw):
    """A vector length d and rows whose item vector is NULL or d long; the
    query is NULL, d long, or one shorter or longer."""
    d = draw(st.sampled_from([0, 1, 16, 64]))
    rows = []
    for i in range(draw(st.integers(1, 5))):
        n = draw(st.sampled_from([d, d, d, max(d - 1, 0), d + 1]))
        kind = draw(st.sampled_from(["random", "random", "finite", "mixed"]))
        rows.append((i, draw(_vector(n, kind)), draw(_vector(d, kind))))
    return d, rows


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@given(case=_case())
def test_unrolled_scores_are_bit_identical_to_the_folds(spark, case):
    d, rows = case
    df = spark.createDataFrame(rows, SCHEMA)
    q, v = F.col("q"), F.col("v")
    # ip and l2 in one job; cosine apart, since a zero vector makes it raise
    want = _outcome(df, dot_product(q, v), _l2_fold(q, v))
    assert _outcome(df, unrolled_score("ip", "q", "v", d),
                    unrolled_score("l2", "q", "v", d)) == want, (d, rows)
    assert _outcome(df, _text_fold("ip"), _text_fold("l2")) == want, \
        (d, rows)
    want = _outcome(df, cosine_similarity(q, v))
    assert _outcome(df, unrolled_score("cosine", "q", "v", d)) == want, \
        (d, rows)
    assert _outcome(df, _text_fold("cosine")) == want, (d, rows)
