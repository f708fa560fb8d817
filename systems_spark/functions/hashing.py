"""Portable deterministic hashing — identical in Spark and ANSI-ish SQL.

The reference's randomized operator (SoftmaxSampling) uses *unseeded* NumPy
randomness (reference: merlin/systems/dag/ops/softmax_sampling.py:105), which
is untestable against an oracle. We instead derive per-row uniforms from an
md5-based 60-bit hash computed with engine-portable primitives:

    Spark:  conv(substr(md5(s), 1, 15), 16, 10)  cast long
    DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

Both interpret the first 15 hex chars of md5 big-endian → the SAME non-negative
int64 in both engines, so "random" sampling, minhash signatures, simhash bits
and fingerprints are all bit-reproducible under oracle checking.

At 100 TB scale this matters beyond testing: deterministic hashing makes every
sampling/dedup operator idempotent and retry-safe (a re-executed Spark task
produces identical output, so shuffle retries can't corrupt sampled results —
unseeded F.rand() famously can).

md5 is a JVM-side expression (whole-stage codegen, no Python boundary).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from systems_spark.functions.sqltext import sql_literal

# Prime modulus for minhash permutations h_i(x) = (a_i * x + b_i) mod P.
# Mersenne prime 2^31-1: with a, b, x all < 2^31 every intermediate product
# stays below 2^62, so the arithmetic is EXACT in int64 in both Spark and
# DuckDB — no overflow, no HUGEINT needed. 31-bit minhash values are the
# standard width for MinHash signatures.
MERSENNE_31 = (1 << 31) - 1  # 2147483647, prime
_UNIFORM_MOD = 1_000_000_007  # prime; uniforms have ~1e-9 resolution


def hash64(col: Column) -> Column:
    """Portable 60-bit hash of a string column (non-negative int64)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def hash64_expr(expr: str) -> str:
    """Spark SQL text of :func:`hash64` over the SQL expression ``expr``,
    for plans built as parsed text (one py4j round trip, not one per
    Column node)."""
    return f"CAST(conv(substring(md5(CAST({expr} AS STRING)), 1, 15), 16, 10) AS BIGINT)"


def hash64_sql(expr: str) -> str:
    """DuckDB-side equivalent of :func:`hash64` for oracle queries."""
    return f"('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15))::BIGINT"


def unit_uniform(col: Column, salt: str = "") -> Column:
    """Deterministic uniform in (0, 1] derived from a key column.

    (0,1] not [0,1): guaranteed non-zero so -ln(u) is finite — needed by the
    Efraimidis–Spirakis sampling key (see operators/softmax_sampling.py).
    """
    h = hash64(F.concat(F.lit(salt), col.cast("string")))
    return ((h % _UNIFORM_MOD) + 1).cast("double") / float(_UNIFORM_MOD + 1)


def unit_uniform_expr(expr: str, salt: str = "") -> str:
    """Spark SQL text of :func:`unit_uniform` over the SQL expression
    ``expr``: the same operations on the same types, so the same double
    bit for bit (tests/test_hash_portability.py)."""
    h = hash64_expr(f"concat({sql_literal(str(salt))}, CAST({expr} AS STRING))")
    return (f"(CAST(({h} % {_UNIFORM_MOD}) + 1 AS DOUBLE) / "
            f"{sql_literal(float(_UNIFORM_MOD + 1))})")


def unit_uniform_sql(expr: str, salt: str = "") -> str:
    h = hash64_sql(f"'{salt}' || CAST({expr} AS VARCHAR)")
    return f"((({h}) % {_UNIFORM_MOD}) + 1)::DOUBLE / {float(_UNIFORM_MOD + 1)!r}"


def minhash_permuted(base_hash: Column, a: int, b: int) -> Column:
    """One universal-hash permutation: (a * (h mod M31) + b) mod M31.

    Requires 0 < a < M31, 0 <= b < M31 (use fixed per-permutation constants
    derived deterministically — see dedup/minhash.py). Exact int64 arithmetic,
    portable to the SQL oracle via :func:`minhash_permuted_sql`.
    """
    a, b = a % MERSENNE_31, b % MERSENNE_31
    return (F.lit(a) * (base_hash % MERSENNE_31) + F.lit(b)) % MERSENNE_31


def minhash_permuted_sql(base_hash_expr: str, a: int, b: int) -> str:
    """DuckDB/ANSI-SQL equivalent of :func:`minhash_permuted`; Spark parses
    the same text too (``MinHashDedup.signatures`` builds its aggregates
    from it)."""
    a, b = a % MERSENNE_31, b % MERSENNE_31
    return f"(({a} * (({base_hash_expr}) % {MERSENNE_31}) + {b}) % {MERSENNE_31})"
