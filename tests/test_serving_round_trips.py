"""Driver round trips and plan shape of one composed recommender request
(lookup -> exact ANN -> anti-join -> feature join -> unroll -> sampling)
over pinned sides, and exact QueryANN, SoftmaxSampling and UnrollFeatures
against pure-Python models over awkward column names and data."""

import hashlib
import math
import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from systems_spark.functions.sqltext import quote_ident
from systems_spark.operators import (EmbeddingLookup, QueryANN,
                                     QueryFeatureTable, SoftmaxSampling,
                                     UnrollFeatures)
from systems_spark.operators.filter_candidates import \
    FilterCandidatesRelational
from systems_spark.pinning import pin, unpin


def _vec(i, d):
    # exact float32 values
    return [float((i * 7 + j * 3) % 19 - 9) / 4.0 for j in range(d)]


def _stages(users, items, seen):
    return [
        EmbeddingLookup(users, "user_id", "vec", output_col="user_vec"),
        QueryANN(items, item_id_col="ann_id", item_vec_col="vec",
                 query_vec_col="user_vec", query_id_col="user_id", topk=20),
        FilterCandidatesRelational(seen, on=["user_id", "ann_id"]),
        QueryFeatureTable(items, "ann_id", features=["label"],
                          prefix="item_"),
        UnrollFeatures("user_id", users, ["bias"], prefix="user_"),
        SoftmaxSampling("ann_score", topk=5, input_col="ann_id",
                        request_col="user_id", seed="7"),
    ]


def _plan_nodes(df):
    """``(node name, ancestor names, node)`` of every node of the
    executed plan, query stages opened."""
    out = []

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def walk(node, up):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), up)
        if name.endswith("QueryStageExec"):
            return walk(node.plan(), up)
        out.append((name, up, node))
        for c in seq(node.children()):
            walk(c, up + (name,))

    walk(df._jdf.queryExecution().executedPlan(), ())
    return out


def test_composed_request_py4j_budget_and_plan_shape(spark, py4j_commands):
    """Building one composed request over pinned sides sends at most 220
    py4j commands: about twice the 111 measured with every serving plan
    as parsed SQL text and the pin memo (the Column-tree operators sent
    285). The executed plan has one hash exchange, the query side's
    repartition into one partition per core, below the scoring cross
    join and so before scoring, and the five broadcasts."""
    users = pin(spark.createDataFrame(
        [(u, _vec(u, 8), u % 5) for u in range(200)],
        "user_id long, vec array<float>, bias long"), eager=True)
    items = pin(spark.createDataFrame(
        [(i, _vec(i + 1000, 8), i % 10) for i in range(400)],
        "ann_id long, vec array<float>, label long"), eager=True)
    seen = pin(spark.createDataFrame(
        [(u, (u * 13 + k) % 400) for u in range(200) for k in range(30)],
        "user_id long, ann_id long"), eager=True)
    try:
        for n in range(3):
            req = spark.createDataFrame(
                [(u,) for u in range(n, 64 + n)], "user_id long")
            with py4j_commands() as build:
                df = req
                for stage in _stages(users, items, seen):
                    df = stage(df)
            rows = df.collect()
        assert build.n <= 220, f"a request build sent {build.n} commands"
        assert sorted({r.user_id for r in rows}) == list(range(2, 66))
        assert all(sorted(r.sample_rank for r in rows if r.user_id == u)
                   == [1, 2, 3, 4, 5] for u in range(2, 66))

        nodes = _plan_nodes(df)
        shuffles = [(up, node) for name, up, node in nodes
                    if name == "ShuffleExchangeExec"]
        assert len(shuffles) == 1, [name for name, _, _ in nodes]
        up, exchange = shuffles[0]
        assert "BroadcastNestedLoopJoinExec" in up, up
        assert "BroadcastExchangeExec" not in up, up
        assert exchange.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
        assert exchange.outputPartitioning().numPartitions() == \
            spark.sparkContext.defaultParallelism
        assert sum(name == "BroadcastExchangeExec"
                   for name, _, _ in nodes) == 5
    finally:
        for df in (users, items, seen):
            unpin(df)


# -- pure-Python models -------------------------------------------------------

_MOD = 1_000_000_007
NAMES = st.sampled_from(["q id", "a.b", "x`y", "plain", "`", "v.w`z "])
SMALL = st.one_of(st.integers(-4, 4).map(lambda v: v / 2.0), st.none())


def _fold_ip(q, v):
    if q is None or v is None or len(q) != len(v) \
            or any(x is None for x in q + v):
        return None
    acc = 0.0
    for x, y in zip(q, v):
        acc = acc + float(x) * float(y)
    return acc


def _rank(rows, group, key):
    """``(row, rank)`` of each row by ``key`` within its ``group``."""
    by = {}
    for r in rows:
        by.setdefault(group(r), []).append(r)
    return [(r, i + 1) for g in by.values()
            for i, r in enumerate(sorted(g, key=key))]


def _ann_model(queries, items, topk):
    pairs = [(qid, qv, iid, _fold_ip(qv, iv))
             for qid, qv in queries for iid, iv in items]
    # score DESC NULLS LAST, then id ASC
    ranked = _rank(pairs, lambda p: p[0],
                   lambda p: (p[3] is None, -(p[3] or 0.0), p[2]))
    return [(*p, k) for p, k in ranked if k <= topk]


def _uniform(s, salt):
    h = int(hashlib.md5((salt + s).encode()).hexdigest()[:15], 16)
    return ((h % _MOD) + 1) / float(_MOD + 1)


def _sample_model(rows, temperature, topk, seed):
    def key(r):
        req, item, rel = r
        if rel is None:  # a NULL key sorts first
            return (0, 0.0, item is not None, item or 0)
        s = "|".join(str(v) for v in (req, item) if v is not None)
        k = -math.log(_uniform(s, seed)) / math.exp(temperature * rel)
        return (1, k, item is not None, item or 0)

    ranked = _rank(rows, lambda r: r[0], key)
    return [(*r, k) for r, k in ranked if k <= topk]


def _none_first_row(row):
    return tuple((v is not None, repr(v)) for v in row)


@st.composite
def _ann_case(draw):
    d = draw(st.sampled_from([1, 3]))
    vector = st.one_of(
        st.none(),
        st.lists(SMALL, min_size=d, max_size=d),
        st.lists(SMALL, min_size=0, max_size=d + 1))
    ids = st.one_of(st.none(), st.integers(0, 4))
    # request ids are unique (NULL at most once) apart from exact
    # duplicate rows: two different query rows under one id could tie on
    # (score, item id), and row_number would order them arbitrarily
    queries = draw(st.lists(st.tuples(ids, vector), max_size=5,
                            unique_by=lambda t: t[0]))
    queries += queries[:draw(st.integers(0, 2))]  # duplicate request rows
    items = draw(st.lists(st.tuples(st.integers(0, 30), vector),
                          max_size=8, unique_by=lambda t: t[0]))
    items += [(i + 100, v) for i, v in items[:2]]  # tied scores
    names = draw(st.lists(NAMES, min_size=4, max_size=4, unique=True))
    return queries, items, names, draw(st.integers(1, 4)), draw(st.booleans())


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(case=_ann_case())
def test_exact_ann_matches_a_python_model(spark, case):
    """Ties break by id, NULL and wrong-length vectors score NULL (last),
    NULL and duplicate request ids rank together, an empty item side
    gives no rows; over an unpinned and a pinned item side (the
    unrolled score when every item vector has one length)."""
    queries, items, (qid, qvec, iid, ivec), topk, pinned = case
    qdf = spark.createDataFrame(
        queries, f"{quote_ident(qid)} long, {quote_ident(qvec)} array<float>")
    idf = spark.createDataFrame(
        items, f"{quote_ident(iid)} long, {quote_ident(ivec)} array<float>")
    if pinned:
        idf = pin(idf, eager=True)
    try:
        out = QueryANN(idf, item_id_col=iid, item_vec_col=ivec,
                       query_vec_col=qvec, query_id_col=qid, topk=topk)(qdf)
        assert out.columns == [qid, qvec, "ann_id", "ann_score", "ann_rank"]
        assert sorted(map(tuple, out.collect()), key=_none_first_row) == \
            sorted(_ann_model(queries, items, topk), key=_none_first_row)
    finally:
        unpin(idf)


@st.composite
def _sample_case(draw):
    # few requests, so each ranks several candidates; a low temperature
    # (below) leaves the order to U, not only to the relevance
    reqs = st.one_of(st.none(), st.integers(-1, 1))
    items = st.one_of(st.none(), st.integers(-3, 3))
    rows = draw(st.lists(st.tuples(reqs, items, SMALL), max_size=14))
    feats = draw(st.lists(st.tuples(reqs, st.integers(0, 9)), max_size=5))
    names = draw(st.lists(NAMES, min_size=4, max_size=4, unique=True))
    return rows, feats, names, draw(st.integers(1, 4))


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(case=_sample_case())
def test_sampling_and_unroll_match_python_models(spark, case):
    """SoftmaxSampling ranks by -ln(U)/exp(T·s) (a NULL relevance sorts
    first) then id, per request, NULL and duplicate requests and ids
    included; UnrollFeatures inner-joins the renamed features on the
    request (NULL requests and requests with no candidates drop out,
    duplicate feature rows repeat)."""
    rows, feats, (req, item, rel, feat), topk = case
    df = spark.createDataFrame(
        rows, f"{quote_ident(req)} long, {quote_ident(item)} long, "
              f"{quote_ident(rel)} double")
    sampled = SoftmaxSampling(rel, temperature=0.25, topk=topk,
                              input_col=item, request_col=req,
                              seed="s'1")(df)
    assert sampled.columns == [req, item, rel, "sample_rank"]
    assert sorted(map(tuple, sampled.collect()), key=_none_first_row) == \
        sorted(_sample_model(rows, 0.25, topk, "s'1"), key=_none_first_row)

    fdf = spark.createDataFrame(
        feats, f"{quote_ident(req)} long, {quote_ident(feat)} long")
    unrolled = UnrollFeatures(req, fdf, [feat], prefix="u.")(df)
    assert unrolled.columns == [req, item, rel, "u." + feat]
    want = [(r, i, s, f) for r, i, s in rows for fr, f in feats
            if r is not None and r == fr]
    assert sorted(map(tuple, unrolled.collect()), key=_none_first_row) == \
        sorted(want, key=_none_first_row)
