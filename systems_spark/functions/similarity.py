"""Vector similarity expressions over ``array<float>`` columns — pure JVM.

Reference context: QueryFaiss computes inner-product top-k over embedding
vectors (reference: merlin/systems/dag/ops/faiss.py:90-112, metric at :194).

Spark-first: `F.zip_with` + `F.aggregate` keep the dot product in the JVM
(no Python), but NOT in generated code: higher-order functions are
``CodegenFallback`` expressions, so their projection runs interpreted, one
lambda call per element (``plans.codegen_fallbacks`` lists them). We cast to
double before accumulating so the result is order-stable IEEE arithmetic
(arrays have a fixed element order, so unlike a groupBy-sum the fold order is
deterministic → oracle-safe when the oracle folds in the same left-to-right
order).

When every vector on one side has the same known length ``d`` (exact
``QueryANN`` learns it once per pinned item side), :func:`unrolled_score`
writes the same fold out as ``d`` plain products and sums: one generated-code
expression, bit-identical to the higher-order form. It pays only while the
generated method stays small, see :data:`UNROLL_MAX_TERMS`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from systems_spark.functions.sqltext import quote_ident


def dot_product(a: Column, b: Column) -> Column:
    """Σ a[i]*b[i] as double; deterministic left-to-right fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def dot_product_sql(a: str, b: str) -> str:
    """DuckDB oracle twin of :func:`dot_product` — list_inner_product folds
    left-to-right over the same element order."""
    return f"list_inner_product({a}::DOUBLE[], {b}::DOUBLE[])"


def cosine_similarity_sql(a: str, b: str) -> str:
    return f"list_cosine_similarity({a}::DOUBLE[], {b}::DOUBLE[])"


#: Most multiply-add terms an unrolled score may hold (:func:`unrolls`).
#: Whole-stage codegen puts the score in the stage's one per-row method, and
#: HotSpot never JIT-compiles a method of more than 8000 bytes of bytecode:
#: it runs interpreted, slower than the higher-order fold. ip takes about
#: 240 bytes per term, l2 about two terms' worth per element, cosine three.
#: Measured at local[2], exact QueryANN top-50 of 64 queries × 2000 pinned
#: items, 10 alternating runs per side: at each metric's bound the unrolled
#: score won every run (medians ip d=24 0.78 s against 1.16 s for the fold,
#: l2 d=12 0.76 against 1.06, cosine d=8 0.71 against 1.01); past it, ip
#: d=64 (14.7 kB) took 2.9 s against 0.60 s, and at d=16 cosine (11.9 kB)
#: and l2 (8.1 kB) 2.9 and 2.0 s against 1.3 and 1.2 s.
UNROLL_MAX_TERMS = 24
_TERMS_PER_ELEMENT = {"ip": 1, "l2": 2, "cosine": 3}


def unrolls(metric: str, d: int) -> bool:
    """Whether :func:`unrolled_score` of ``metric`` over ``d``-long
    vectors stays within :data:`UNROLL_MAX_TERMS`."""
    per = _TERMS_PER_ELEMENT.get(metric)
    return per is not None and d * per <= UNROLL_MAX_TERMS


def score_sql(metric: str, a: str, b: str, d: "int | None" = None) -> str:
    """Spark SQL text of ``metric`` between the array columns named ``a``
    and ``b``: ``ip`` is :func:`dot_product`, ``cosine``
    :func:`cosine_similarity`, ``l2`` the negative squared distance.

    With ``d`` None this is the higher-order ``zip_with``/``aggregate``
    fold. With ``d`` it is the same fold unrolled into ``d`` terms, for a
    ``b`` side whose non-NULL vectors all have length ``d``: each sum is
    ``0.0 + t(0) + … + t(d-1)``, the same IEEE additions in the same
    left-to-right order as ``aggregate(..., 0.0, acc + v)``, so NaN,
    ±inf, −0.0 and NULL elements give the same result. Outside ``size(a)
    = d AND size(b) = d`` the unrolled value is NULL, which is what the
    fold gives there too: ``zip_with`` pads the shorter array with NULLs,
    and a NULL term makes the fold NULL (a NULL array gives NULL)."""
    qa, qb = quote_ident(a), quote_ident(b)
    if d is None:
        def fold(x, y, term):
            pairs = f"zip_with({x}, {y}, (x, y) -> {term('x', 'y')})"
            return f"aggregate({pairs}, 0.0D, (acc, v) -> acc + v)"

        def norm(x):
            return (f"sqrt(aggregate({x}, 0.0D, "
                    f"(acc, v) -> acc + double(v) * double(v)))")
    else:
        def fold(x, y, term):
            return " + ".join(["(0.0D"] + [
                term(f"get({x}, {i})", f"get({y}, {i})")
                for i in range(d)]) + ")"

        def norm(x):
            return f"sqrt({fold(x, x, prod)})"

    def prod(x, y):
        return f"double({x}) * double({y})"

    def sq_diff(x, y):
        t = f"(double({x}) - double({y}))"
        return f"{t} * {t}"

    if metric == "ip":
        body = fold(qa, qb, prod)
    elif metric == "cosine":
        body = f"{fold(qa, qb, prod)} / ({norm(qa)} * {norm(qb)})"
    elif metric == "l2":
        body = f"-{fold(qa, qb, sq_diff)}"
    else:
        raise ValueError(f"unknown metric {metric!r}")
    if d is None:
        return body
    return f"CASE WHEN size({qa}) = {d} AND size({qb}) = {d} THEN {body} END"


def unrolled_score(metric: str, a: str, b: str, d: int) -> Column:
    """:func:`score_sql` unrolled into ``d`` terms, as a Column: ONE SQL
    expression, bit-identical to the higher-order form."""
    return F.expr(score_sql(metric, a, b, d))
