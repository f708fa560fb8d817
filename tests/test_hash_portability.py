"""Property-based check of THE load-bearing invariant: the portable hash
and every text expression built on it produce bit-identical results in
Spark and DuckDB for arbitrary strings.

Hypothesis generates adversarial strings (quotes, regex metachars, unicode,
whitespace soup); we evaluate one batch in a single Spark job + one DuckDB
query rather than per-example (Spark job latency would dominate)."""

import os
import sys

from hypothesis import given, settings, strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import functions as F

from systems_spark.functions import text as TX
from systems_spark.functions.hashing import (
    MERSENNE_31,
    hash64,
    hash64_expr,
    hash64_sql,
    minhash_permuted,
    minhash_permuted_sql,
    unit_uniform,
    unit_uniform_expr,
    unit_uniform_sql,
)

# printable-ish strings plus nasty edge content
NASTY = st.text(
    alphabet=st.characters(
        codec="utf-8",
        categories=("L", "N", "P", "S", "Z"),
    ),
    max_size=80,
)


def _batch(spark, samples, spark_exprs, duck_exprs):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i long, s string")
    srows = df.select("i", *spark_exprs).orderBy("i").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(samples)))
    drows = con.execute(
        f"SELECT i, {', '.join(duck_exprs)} FROM t ORDER BY i"
    ).fetchall()
    return srows, drows


@settings(max_examples=10, deadline=None)
@given(st.lists(NASTY, min_size=1, max_size=30))
def test_hash_and_text_portability(spark, samples):
    srows, drows = _batch(
        spark,
        samples,
        [
            hash64(F.col("s")).alias("h"),
            unit_uniform(F.col("s"), salt="z").alias("u"),
            minhash_permuted(hash64(F.col("s")), 1103515245, 12345).alias("mh"),
            TX.token_count(F.col("s")).cast("long").alias("tc"),
            TX.fingerprint(F.col("s")).alias("fp"),
        ],
        [
            f"{hash64_sql('s')} AS h",
            f"{unit_uniform_sql('s', salt='z')} AS u",
            f"{minhash_permuted_sql(hash64_sql('s'), 1103515245, 12345)} AS mh",
            f"({TX.token_count_sql('s')})::BIGINT AS tc",
            f"{TX.fingerprint_sql('s')} AS fp",
        ],
    )
    for s, d in zip(srows, drows):
        assert tuple(s) == tuple(d), f"mismatch for sample {samples[s.i]!r}: {tuple(s)} vs {tuple(d)}"


@settings(max_examples=10, deadline=None)
@given(st.integers(min_value=0, max_value=(1 << 60) - 1),
       st.integers(min_value=1, max_value=MERSENNE_31 - 1),
       st.integers(min_value=0, max_value=MERSENNE_31 - 1))
def test_minhash_permutation_math(h, a, b):
    """Permutation arithmetic is exact in plain python = int64 semantics."""
    expect = (a * (h % MERSENNE_31) + b) % MERSENNE_31
    assert 0 <= expect < MERSENNE_31
    # int64 safety: the largest intermediate fits in 63 bits
    assert a * (h % MERSENNE_31) + b < (1 << 63)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.one_of(NASTY, st.none()),
                          st.one_of(st.integers(-(1 << 63), (1 << 63) - 1),
                                    st.none())), min_size=1, max_size=30),
       NASTY)
def test_sql_text_hashes_equal_the_column_forms(spark, samples, salt):
    """The Spark SQL text twins ``hash64_expr`` and ``unit_uniform_expr``
    equal the Column forms bit for bit, over string and long keys, NULLs
    and salts with quotes, backslashes and non-ASCII characters."""
    import struct

    df = spark.createDataFrame(
        [(i, s, n) for i, (s, n) in enumerate(samples)],
        "i long, s string, n long")
    cols = []
    for c in ("s", "n"):
        cols += [hash64(F.col(c)), F.expr(hash64_expr(c)),
                 unit_uniform(F.col(c), salt=salt),
                 F.expr(unit_uniform_expr(c, salt=salt))]
    for r in df.select(*cols).collect():
        for col, text in zip(r[::2], r[1::2]):
            if isinstance(col, float):
                col, text = (struct.pack("<d", x) for x in (col, text))
            assert col == text, (r, salt)
