"""Operator-level unit tests mirroring the reference's test patterns
(SURVEY.md §5): tiny synthetic columns, exact/property assertions, schema
propagation, save/load roundtrip equivalence.

Reference analogs cited per test.
"""

import os
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from systems_spark import Pipeline, Schema
from systems_spark.operators import (
    Categorify,
    DropColumns,
    FilterCandidates,
    Padding,
    Rename,
    SelectColumns,
    SoftmaxSampling,
)
from systems_spark.operators.ann import QueryANN
from systems_spark.operators.asof import AsofJoin


def test_filter_candidates_100_minus_20(spark):
    """reference: tests/unit/systems/dag/ops/test_ops.py:126-155 —
    100 candidates minus 20 seen = 80 filtered."""
    candidates = list(range(100))
    seen = candidates[:20]
    df = spark.createDataFrame(
        [(1, candidates, seen)], "request_id long, candidate_ids array<int>, seen array<int>"
    )
    out = FilterCandidates("seen", "candidate_ids")(df).collect()[0]
    assert len(out.filtered_ids) == 80
    assert set(out.filtered_ids) == set(candidates[20:])


def test_filter_candidates_keeps_duplicates(spark):
    """np.isin keeps duplicate candidates (session_filter.py:161);
    array_except would dedup."""
    df = spark.createDataFrame(
        [(1, [5, 5, 7, 9], [9])], "request_id long, candidate_ids array<int>, seen array<int>"
    )
    kept = FilterCandidates("seen", "candidate_ids")(df).collect()[0].filtered_ids
    assert kept == [5, 5, 7]
    dedup = FilterCandidates("seen", "candidate_ids", keep_duplicates=False)(df)
    assert dedup.collect()[0].filtered_ids == [5, 7]


def test_filter_candidates_relational_anti_membership(spark):
    """LEFT ANTI on a composite key equals pure-Python anti-membership when
    the seen rows repeat and carry NULL keys, and the broadcast build side
    is the seen rows themselves: no shuffle anywhere in the plan."""
    from systems_spark.operators.filter_candidates import (
        FilterCandidatesRelational,
    )
    from systems_spark.plans import count_exchanges, has_broadcast_join

    cands = [(u, i, f"c{u}-{i}") for u in (1, 2, 3, None)
             for i in (1, 2, 3, None)]
    cands += cands[:5]  # duplicate candidate rows survive the anti join
    seen = [(1, 1), (1, 1), (1, None), (None, 2), (None, None), (2, 3),
            (2, 3), (3, 1), (4, 4)]
    cdf = spark.createDataFrame(cands, "u long, i long, tag string")
    sdf = spark.createDataFrame(seen, "u long, i long")
    out = FilterCandidatesRelational(sdf, on=["u", "i"]).transform(cdf)

    hit = {(u, i) for u, i in seen if u is not None and i is not None}
    want = sorted((r for r in cands if (r[0], r[1]) not in hit), key=repr)
    assert sorted((tuple(r) for r in out.collect()), key=repr) == want
    assert has_broadcast_join(out)
    assert count_exchanges(out) == 0


def test_softmax_sampling_properties(spark):
    """reference: test_ops.py:48-122 — k rows per request, ids subset of
    candidates, dtypes preserved, deterministic given seed."""
    rows = [(req, i, float(i % 7) / 7.0) for req in (1, 2, 3) for i in range(100)]
    df = spark.createDataFrame(rows, "request_id long, candidate_ids int, rel double")
    op = SoftmaxSampling("rel", topk=10, input_col="candidate_ids", seed="42")
    out = op(df)
    per_req = out.groupBy("request_id").count().collect()
    assert all(r["count"] == 10 for r in per_req)
    got = out.select("candidate_ids").distinct().collect()
    assert all(0 <= r.candidate_ids < 100 for r in got)
    # dtype preservation (int stays int, double stays double)
    assert dict(out.dtypes)["candidate_ids"] == "int"
    assert dict(out.dtypes)["rel"] == "double"
    # determinism
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, op(df).collect()))
    assert a == b
    # different seed → (almost surely) different sample
    c = sorted(map(tuple, SoftmaxSampling("rel", topk=10, input_col="candidate_ids",
                                          seed="43")(df).collect()))
    assert a != c


def test_softmax_sampling_as_arrays_shape(spark):
    """reference output shape (1, topk): test_ops.py:112-113 — array mode."""
    rows = [(1, i, float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "request_id long, candidate_ids int, rel double")
    out = SoftmaxSampling("rel", topk=5, input_col="candidate_ids",
                          as_arrays=True)(df).collect()
    assert len(out) == 1
    assert len(out[0].ordered_ids) == 5
    assert len(out[0].ordered_scores) == 5
    # rank 1 = first element: scores follow the sampled order, not sorted order
    assert set(out[0].ordered_ids) <= set(range(30))


def test_higher_relevance_sampled_more(spark):
    """Distributional property: with temperature 20, the top-scored item
    should win rank 1 for most requests (weights are exp(20*s))."""
    rows = [(req, i, 1.0 if i == 99 else 0.0) for req in range(50) for i in range(100)]
    df = spark.createDataFrame(rows, "request_id long, candidate_ids int, rel double")
    out = SoftmaxSampling("rel", topk=1, input_col="candidate_ids", seed="7")(df)
    winners = [r.candidate_ids for r in out.collect()]
    assert sum(1 for w in winners if w == 99) >= 45  # e^20 dominance


def test_selector_rshift_sugar(spark):
    """reference API: ``["a", "b"] >> op`` roots the chain in a column
    selection (README.md:26-30)."""
    df = spark.createDataFrame([(1, 2.0, "x")], "a int, b double, c string")
    pipe = ["a", "b"] >> Rename(postfix="_r", columns=["a"])
    out = pipe.transform(df)
    assert set(out.columns) == {"a_r", "b"}


def test_schema_propagation_through_pipeline(spark):
    """reference: tests/unit/systems/dag/test_graph.py:31-49 — schema
    equality through composed ops, without executing."""
    schema = Schema.from_struct_type(
        spark.createDataFrame([], "a int, b string, label double").schema
    )
    pipe = Pipeline([SelectColumns(["a", "b", "label"]),
                     Rename(postfix="_x", columns=["a"]),
                     DropColumns(["label"])])
    out = pipe.compute_output_schema(schema)
    assert out.column_names == ["a_x", "b"]


def test_schema_propagation_matches_execution(spark, tables):
    """compute_output_schema must agree with the executed DataFrame's
    schema for every operator that overrides it (reference pattern:
    test_graph.py:31-49, no-execution schema preview)."""
    from systems_spark.operators.predict import PredictModel
    from systems_spark.operators.sessionize import Sessionize

    li = tables["lineitem"]
    cases = []

    cat = Categorify(["l_returnflag"], out_suffix="_c").fit(li)
    cases.append((cat, li))

    sess = Sessionize("l_orderkey", "l_linenumber", 10)
    cases.append((sess, li))

    import pandas as pd
    pm = PredictModel(
        loader=lambda: None,
        predict_fn=lambda m, pdf: pd.DataFrame({"yhat": pdf["l_quantity"]}),
        input_cols=["l_quantity"],
        output_schema="yhat double",
    )
    cases.append((pm, li))

    for op, df in cases:
        declared = op.compute_output_schema(Schema.of(df))
        executed = Schema.of(op(df))
        # set comparison: joins may reorder columns (join key first)
        assert sorted(declared.column_names) == sorted(executed.column_names), \
            type(op).__name__
        for name in declared.column_names:
            assert declared[name].spark_type == executed[name].spark_type, \
                f"{type(op).__name__}.{name}"


def test_missing_column_raises(spark):
    """reference: negative schema tests, fil/test_op.py:316-334."""
    df = spark.createDataFrame([(1,)], "a int")
    with pytest.raises(ValueError, match="missing input columns"):
        SoftmaxSampling("nope", input_col="a", request_col="a")(df)


def test_save_load_roundtrip_equivalence(spark, tables):
    """reference: tests/unit/systems/dag/test_ensemble.py:27-58 — identical
    outputs before/after persistence."""
    li = tables["lineitem"]
    cat = Categorify(["l_returnflag"], out_suffix="_c")
    cat.fit(li)
    pipe = Pipeline([cat, Rename(postfix="_renamed", columns=["l_returnflag_c"])])
    before = pipe.transform(li).groupBy("l_returnflag", "l_returnflag_c_renamed").count()
    with tempfile.TemporaryDirectory() as d:
        pipe.save(d)
        loaded = Pipeline.load(d, spark=spark)
        after = loaded.transform(li).groupBy("l_returnflag", "l_returnflag_c_renamed").count()
        assert sorted(map(tuple, before.collect())) == sorted(map(tuple, after.collect()))


def test_categorify_code_order(spark):
    """Codes 1..N by (freq desc, value asc); OOV/null → 0."""
    df = spark.createDataFrame(
        [("b",), ("b",), ("a",), ("c",), ("c",), ("c",), (None,)], "x string"
    )
    cat = Categorify(["x"], out_suffix="_c")
    cat.fit(df)
    got = {r.x: r.x_c for r in cat(df).select("x", F.col("x_c")).distinct().collect()}
    assert got == {"c": 1, "b": 2, "a": 3, None: 0}
    assert cat.cardinality("x") == 3


def test_categorify_fit_update_append_only(spark):
    """fit_update: unseen values get NEW codes after the current max
    (freq desc, value asc within the new batch); existing codes never
    move — the embedding-table row contract. Stateless/capped modes
    refuse the update."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [("b",), ("b",), ("a",), ("c",), ("c",), ("c",)], "x string"
    )
    cat = Categorify(["x"], out_suffix="_c").fit(df)
    before = {r.value: r.code for r in cat.vocabs["x"].collect()}
    assert before == {"c": 1, "b": 2, "a": 3}

    # new batch: 'e' (x2) and 'd' (x1) unseen; 'a' now hugely frequent —
    # but its code MUST NOT move
    newb = spark.createDataFrame(
        [("a",)] * 10 + [("e",), ("e",), ("d",), (None,)], "x string"
    )
    cat.fit_update(newb)
    after = {r.value: r.code for r in cat.vocabs["x"].collect()}
    assert after == {"c": 1, "b": 2, "a": 3, "e": 4, "d": 5}
    assert cat.cardinality("x") == 5

    out = {r.x: r.x_c for r in
           cat(newb).select("x", "x_c").distinct().collect()}
    assert out == {"a": 3, "e": 4, "d": 5, None: 0}

    # a second update keeps appending
    cat.fit_update(spark.createDataFrame([("f",)], "x string"))
    assert {r.value: r.code for r in cat.vocabs["x"].collect()}["f"] == 6

    with _pytest.raises(RuntimeError, match="before fit"):
        Categorify(["x"]).fit_update(newb)
    with _pytest.raises(ValueError, match="num_buckets"):
        Categorify(["x"], num_buckets=8).fit_update(newb)
    with _pytest.raises(ValueError, match="max_size"):
        Categorify(["x"], max_size=3).fit(df).fit_update(newb)

    # joint mode: the shared code space appends once for all columns
    jdf = spark.createDataFrame([("a", "b"), ("b", "a")], "u string, v string")
    j = Categorify(["u", "v"], encode_type="joint").fit(jdf)
    j.fit_update(spark.createDataFrame([("z", "a")], "u string, v string"))
    jv = {r.value: r.code for r in j.vocabs["u"].collect()}
    assert jv["z"] == max(jv.values()) and j.vocabs["u"] is j.vocabs["v"]


def test_categorify_multicol_single_pass_parity(spark, tables):
    """Multi-column fit (one exploded agg) must produce byte-identical
    vocabs to the per-column build_vocab path."""
    li = tables["lineitem"]
    cols = ["l_returnflag", "l_linestatus"]
    cat = Categorify(cols).fit(li)
    for c in cols:
        fast = sorted(map(tuple, cat.vocabs[c].collect()))
        ref = sorted(map(tuple, Categorify.build_vocab(li, c).collect()))
        assert fast == ref, c


def test_categorify_unpersist_lifecycle(spark, tables):
    """Multi-column fit caches the combined vocab; unpersist releases it
    and transforms still work (recompute instead of cache)."""
    li = tables["lineitem"]
    cat = Categorify(["l_returnflag", "l_linestatus"]).fit(li)
    assert len(cat._persisted) == 1
    assert cat._persisted[0].storageLevel.useMemory
    before = cat(li).count()
    cat.unpersist()
    assert cat._persisted == []
    assert cat(li).count() == before  # still correct, just uncached


def test_categorify_joint_encoding(spark):
    """Joint encoding: all columns share ONE code space over the union of
    their values (NVTabular joint encode_type)."""
    df = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "a")], "x string, y string"
    )
    cat = Categorify(["x", "y"], out_suffix="_c", encode_type="joint").fit(df)
    out = cat(df)
    # union counts: a=3, b=2, c=1 → codes a=1, b=2, c=3 in BOTH columns
    rows = {(r.x, r.x_c, r.y, r.y_c) for r in out.collect()}
    assert rows == {("a", 1, "b", 2), ("a", 1, "c", 3), ("b", 2, "a", 1)}
    assert cat.cardinality("x") == cat.cardinality("y") == 3

    with pytest.raises(ValueError, match="shared dtype"):
        mixed = spark.createDataFrame([("a", 1)], "x string, y int")
        Categorify(["x", "y"], encode_type="joint").fit(mixed)


def test_categorify_distributed_codes_match_window(spark, tables):
    """code_strategy='distributed' (GlobalRank, no single-task stage) must
    assign byte-identical codes to the window path — per-col multi-column
    AND joint encoding."""
    li = tables["lineitem"]
    cols = ["l_returnflag", "l_linestatus"]
    win = Categorify(cols).fit(li)
    dist = Categorify(cols, code_strategy="distributed").fit(li)
    for c in cols:
        a = sorted(map(tuple, win.vocabs[c].collect()))
        b = sorted(map(tuple, dist.vocabs[c].collect()))
        assert a == b, c

    df = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "a")], "x string, y string"
    )
    j_win = Categorify(["x", "y"], out_suffix="_c", encode_type="joint").fit(df)
    j_dist = Categorify(["x", "y"], out_suffix="_c", encode_type="joint",
                        code_strategy="distributed").fit(df)
    assert sorted(map(tuple, j_win(df).collect())) == \
        sorted(map(tuple, j_dist(df).collect()))

    with pytest.raises(ValueError, match="code_strategy"):
        Categorify(["x"], code_strategy="bogus")


def test_padding_exact(spark):
    """reference: padding_op.py:25-41 — ragged [[1]], [[2,3]] → 2×5 dense."""
    df = spark.createDataFrame([(1, [1]), (2, [2, 3])], "id int, a array<int>")
    out = {r.id: r.a for r in Padding("a", 5, 0)(df).collect()}
    assert out == {1: [1, 0, 0, 0, 0], 2: [2, 3, 0, 0, 0]}


def test_ann_exact_self_is_top1_cosine(spark, tables):
    """reference: faiss tests — querying with an indexed vector returns
    itself first (cosine metric; self-similarity = 1)."""
    emb = tables["embeddings"]
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("request_id"), F.col("embedding").alias("qvec")
    )
    op = QueryANN(emb, item_id_col="vec_id", query_vec_col="qvec",
                  query_id_col="request_id", topk=3, metric="cosine")
    top1 = op(q).where(F.col("ann_rank") == 1).collect()
    assert all(r.request_id == r.ann_id for r in top1)


def test_ann_lsh_is_subset_of_items_and_ranked(spark, tables):
    emb = tables["embeddings"]
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("request_id"), F.col("embedding").alias("qvec")
    )
    op = QueryANN(emb, item_id_col="vec_id", query_vec_col="qvec",
                  query_id_col="request_id", topk=5, strategy="lsh",
                  dim=64, n_tables=4, n_planes=6)
    rows = op(q).collect()
    for r in rows:
        assert 1 <= r.ann_rank <= 5
    # per-query ranks are dense from 1
    by_q = {}
    for r in rows:
        by_q.setdefault(r.request_id, []).append(r.ann_rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_lsh_kernel_matches_expression_bitwise(spark, tables):
    """The vectorized Arrow signature kernel must reproduce the Catalyst
    zip_with+aggregate form BIT-EXACTLY (it replays the same IEEE left-fold
    in ascending dimension order) — this equality is what keeps the LSH SQL
    oracle valid after the kernel swap."""
    from systems_spark.operators.ann import (
        hyperplane_signature,
        hyperplane_signatures_kernel,
    )

    emb = tables["embeddings"]
    n_tables, n_planes = 4, 8
    expr = {
        r.vec_id: tuple(r[f"s{t}"] for t in range(n_tables))
        for r in emb.select("vec_id", *[
            hyperplane_signature(F.col("embedding"), 64, n_planes, t).alias(f"s{t}")
            for t in range(n_tables)
        ]).collect()
    }
    kern = hyperplane_signatures_kernel(64, n_planes, n_tables)
    got = {
        r.vec_id: tuple(r.arr)
        for r in emb.select("vec_id", kern(F.col("embedding")).alias("arr")).collect()
    }
    assert got == expr


def test_hash_sampler_partition_invariant(spark, tables):
    """The sample is a pure function of the data: identical membership
    across different partitionings (df.sample is NOT — its seed interacts
    with partition layout), and split labels partition the data exactly."""
    from systems_spark.operators.sampler import HashSampler

    ev = tables["events"].select("event_id", "event_type")
    op = HashSampler("event_id", fraction=0.3)
    a = {r.event_id for r in op(ev).collect()}
    b = {r.event_id for r in op(ev.repartition(17)).collect()}
    assert a == b and 0 < len(a) < ev.count()

    split = HashSampler("event_id", split_col="split",
                        splits=[("train", 0.8), ("test", 0.2)])
    out = split(ev)
    counts = {r.split: r.n for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "test"}
    assert sum(counts.values()) == ev.count()  # exact partition of rows
    n = ev.count()
    assert abs(counts["train"] / n - 0.8) < 0.05  # uniform hash ≈ fractions

    with pytest.raises(ValueError, match="sum to 1"):
        HashSampler("event_id", split_col="s", splits=[("a", 0.5)])


def test_ann_pq_recall_and_self_rank(spark, tables):
    """PQ+ADC with exact rerank: self-query ranks itself #1 (it survives
    into the rerank shortlist and exact scoring puts it first), and
    recall@10 vs exact is high with a 50-candidate rerank buffer."""
    emb = tables["embeddings"]
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("request_id"), F.col("embedding").alias("qvec")
    )
    exact = QueryANN(emb, item_id_col="vec_id", query_vec_col="qvec",
                     query_id_col="request_id", topk=10, metric="ip")
    pq = QueryANN(emb, item_id_col="vec_id", query_vec_col="qvec",
                  query_id_col="request_id", topk=10, metric="ip",
                  strategy="pq", dim=64, pq_m=8, pq_k=16, rerank=50)

    want = {}
    for r in exact(q).collect():
        want.setdefault(r.request_id, set()).add(r.ann_id)
    got = {}
    top1 = {}
    for r in pq(q).collect():
        got.setdefault(r.request_id, set()).add(r.ann_id)
        if r.ann_rank == 1:
            top1[r.request_id] = r.ann_id

    # every query's PQ result has exactly topk ranked rows
    assert all(len(v) == 10 for v in got.values())
    # self is recalled and reranked to #1 under inner product on own vector
    hits = sum(1 for k, v in top1.items() if k == v)
    assert hits >= 18  # allow rare approx misses of self in the shortlist
    recall = sum(len(want[k] & got[k]) for k in want) / sum(
        len(want[k]) for k in want
    )
    assert recall >= 0.5, recall  # random vectors; rerank buffer recovers


def test_ann_pq_trained_codebook(spark, tables):
    """Lloyd-refined codebooks (pq_train_iters>0) produce a valid ranked
    result and at least match the recall floor of the untrained seeding."""
    emb = tables["embeddings"]
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("request_id"), F.col("embedding").alias("qvec")
    )
    pq = QueryANN(emb, item_id_col="vec_id", query_vec_col="qvec",
                  query_id_col="request_id", topk=5, metric="ip",
                  strategy="pq", dim=64, pq_m=8, pq_k=16, rerank=50,
                  pq_train_iters=2)
    rows = pq(q).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.request_id, []).append(r.ann_rank)
    assert len(by_q) == 10
    for ranks in by_q.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_ann_ivf_trained_centroids_beat_degenerate_seeds(spark):
    """k-means-trained IVF (ivf_train_iters>0) on adversarially-seeded
    clustered data: all low ids sit in ONE cluster, so the untrained
    lowest-id seeding puts every coarse cell in the same region —
    inverted lists collapse (unbounded per-probe scan cost) and
    quantization error is huge. Lloyd training must restore balanced
    cells and near-perfect quantization, and the trained operator must
    still produce a full ranked result. (Recall alone cannot show the
    difference: queries and items rank cells with the same score, so
    they agree even on degenerate centroids.)"""
    import math
    import random

    rnd = random.Random(7)
    dim, n_clusters, per = 16, 8, 40
    centers = []
    for c in range(n_clusters):
        v = [rnd.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        centers.append([8.0 * x / n for x in v])
    rows = []
    for c in range(n_clusters):
        for i in range(per):
            # ids 0..39 all in cluster 0, 40..79 in cluster 1, ...
            vid = c * per + i
            vec = [centers[c][d] + rnd.gauss(0, 0.1) for d in range(dim)]
            rows.append((vid, [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(c, [float(x) for x in centers[c]]) for c in range(n_clusters)],
        "request_id long, qvec array<float>",
    )
    kw = dict(item_id_col="vec_id", query_vec_col="qvec",
              query_id_col="request_id", topk=5, metric="cosine")
    ivf_kw = dict(strategy="ivf", n_cells=8, nprobe=2, **kw)
    op = QueryANN(emb, ivf_train_iters=4, **ivf_kw)

    def cell_stats(cents):
        cells = op._ivf_cells(op._items(), F.broadcast(cents)).collect()
        sizes = {}
        for r in cells:
            sizes[r._cell] = sizes.get(r._cell, 0) + 1
        avg_cos = sum(r._cdot for r in cells) / len(cells)
        return sizes, avg_cos

    items = op._items()
    seeds = items.orderBy(F.col("_ann_id").asc()).limit(8).select(
        F.col("_ann_id").alias("_cent_id"), F.col("_ann_vec").alias("_cent_vec"))
    raw_sizes, raw_cos = cell_stats(seeds)
    tr_sizes, tr_cos = cell_stats(op._ivf_train(items, seeds))

    # untrained: every seed sits in cluster 0, so items of the other 7
    # clusters pile onto whichever same-region seed their noise favors —
    # inverted lists collapse and the assigned centroid barely resembles
    # the member (per-probe scan cost at scale is max cell size)
    assert max(raw_sizes.values()) >= 2 * per, raw_sizes
    assert raw_cos < 0.5, raw_cos
    # trained: Lloyd spreads the centroids onto the true cluster means —
    # balanced cells and near-perfect quantization
    assert max(tr_sizes.values()) <= 1.2 * per, tr_sizes
    assert tr_cos > 0.95, tr_cos

    # and the trained operator still produces a full valid ranked result
    by_q = {}
    for r in op(q).collect():
        by_q.setdefault(r.request_id, []).append(r.ann_rank)
    assert len(by_q) == n_clusters
    for ranks in by_q.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_ann_l2_metric_all_strategies(spark):
    """metric='l2' (FAISS METRIC_L2 parity — the reference exposes
    metric= next to its INNER_PRODUCT default, faiss.py:194): exact
    ranking equals a NumPy squared-distance brute force; self is top-1
    with score 0; pq's ADC sums per-subspace squared distances (additive,
    so the approx stage targets the right ordering) and ivf assigns by
    nearest cell; hyperplane LSH refuses l2 (angle-only)."""
    import random

    import numpy as np

    rnd = random.Random(11)
    vecs = [[rnd.gauss(0, 1) * (1 + i % 3) for _ in range(8)]
            for i in range(120)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    q = emb.limit(6).select(F.col("vec_id").alias("request_id"),
                            F.col("embedding").alias("qvec"))
    kw = dict(item_id_col="vec_id", query_vec_col="qvec",
              query_id_col="request_id", topk=5, metric="l2")

    exact = QueryANN(emb, **kw)
    got = {}
    for r in exact(q).collect():
        got.setdefault(r.request_id, []).append((r.ann_rank, r.ann_id, r.ann_score))
    arr = np.array(vecs, dtype=np.float32).astype(np.float64)
    for qid, rows in got.items():
        d2 = ((arr - arr[qid]) ** 2).sum(axis=1)
        order = sorted(range(len(vecs)), key=lambda i: (d2[i], i))[:5]
        rows.sort()
        assert [i for _, i, _ in rows] == order, qid
        assert rows[0][1] == qid and abs(rows[0][2]) < 1e-6  # self, dist 0

    for strat, extra in (("ivf", dict(n_cells=8, nprobe=3)),
                         ("pq", dict(pq_m=2, pq_k=16, rerank=30))):
        op = QueryANN(emb, strategy=strat, dim=8, **{**kw, **extra})
        rows = op(q).collect()
        top1 = {r.request_id: r.ann_id for r in rows if r.ann_rank == 1}
        # self survives any l2 shortlist (distance 0) and reranks to #1
        assert top1 == {i: i for i in range(6)}, (strat, top1)

    with pytest.raises(ValueError, match="ANGLE"):
        QueryANN(emb, strategy="lsh", dim=8, **{**kw, "metric": "l2"})(q)


def test_ann_ivf_train_once_persists_with_artifacts(spark, tmp_path):
    """train() materializes the coarse quantizer once (FAISS index.train);
    the trained centroids persist through save/load_artifacts (the INDEX
    is the artifact, not just the vectors) and the restored operator
    answers identically without retraining."""
    import random

    rnd = random.Random(3)
    emb = spark.createDataFrame(
        [(i, [float(rnd.gauss(0, 1)) for _ in range(8)]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    q = emb.limit(5).select(F.col("vec_id").alias("request_id"),
                            F.col("embedding").alias("qvec"))
    op = QueryANN(emb, item_id_col="vec_id", query_vec_col="qvec",
                  query_id_col="request_id", topk=3, metric="ip",
                  strategy="ivf", n_cells=4, nprobe=2,
                  ivf_train_iters=2).train()
    assert op._centroids is not None
    want = sorted((r.request_id, r.ann_rank, r.ann_id) for r in op(q).collect())

    path = str(tmp_path / "ivf_idx")
    op.save_artifacts(path)
    import os
    assert os.path.exists(f"{path}/centroids.parquet")

    op2 = QueryANN(None, item_id_col="vec_id", query_vec_col="qvec",
                   query_id_col="request_id", topk=3, metric="ip",
                   strategy="ivf", n_cells=4, nprobe=2, ivf_train_iters=2)
    op2.load_artifacts(path, spark=spark)
    got = sorted((r.request_id, r.ann_rank, r.ann_id) for r in op2(q).collect())
    assert got == want

    # an untrained index round-trips without a centroid artifact
    plain = QueryANN(emb, item_id_col="vec_id", query_vec_col="qvec",
                     query_id_col="request_id", strategy="ivf").train()
    assert plain._centroids is None
    p2 = str(tmp_path / "plain_idx")
    plain.save_artifacts(p2)
    assert not os.path.exists(f"{p2}/centroids.parquet")
    plain.load_artifacts(p2, spark=spark)
    assert plain._centroids is None

    # pq: the refined codebook persists the same way
    pq = QueryANN(emb, item_id_col="vec_id", query_vec_col="qvec",
                  query_id_col="request_id", topk=3, metric="ip",
                  strategy="pq", dim=8, pq_m=2, pq_k=8, rerank=10,
                  pq_train_iters=2).train()
    assert pq._codebook is not None
    want_pq = sorted((r.request_id, r.ann_rank, r.ann_id)
                     for r in pq(q).collect())
    p3 = str(tmp_path / "pq_idx")
    pq.save_artifacts(p3)
    assert os.path.exists(f"{p3}/codebook.parquet")
    pq2 = QueryANN(None, item_id_col="vec_id", query_vec_col="qvec",
                   query_id_col="request_id", topk=3, metric="ip",
                   strategy="pq", dim=8, pq_m=2, pq_k=8, rerank=10,
                   pq_train_iters=2)
    pq2.load_artifacts(p3, spark=spark)
    got_pq = sorted((r.request_id, r.ann_rank, r.ann_id)
                    for r in pq2(q).collect())
    assert got_pq == want_pq

    # saving an UNTRAINED operator over a previously-trained artifact path
    # must delete the stale trained state — not silently pair old
    # centroids with new items on the next load
    plain.save_artifacts(path)
    assert not os.path.exists(f"{path}/centroids.parquet")
    op3 = QueryANN(None, item_id_col="vec_id", query_vec_col="qvec",
                   query_id_col="request_id", strategy="ivf")
    op3.load_artifacts(path, spark=spark)
    assert op3._centroids is None

    # train() validates the pq config up front, like transform does
    bad = QueryANN(emb, item_id_col="vec_id", query_vec_col="qvec",
                   query_id_col="request_id", strategy="pq",
                   pq_train_iters=1)
    with pytest.raises(ValueError, match="requires dim"):
        bad.train()


def test_asof_join_exact(spark):
    """Left row matches the latest right row at-or-before its ts, per key."""
    left = spark.createDataFrame(
        [(1, 100, 10), (2, 100, 25), (3, 200, 10)], "id long, k long, ts long"
    )
    right = spark.createDataFrame(
        [(100, 5, "a"), (100, 10, "b"), (100, 20, "c"), (200, 99, "z")],
        "k long, rts long, v string",
    )
    op = AsofJoin(right, on=["k"], left_ts="ts", right_ts="rts", right_cols=["v"])
    got = {r.id: r.v for r in op(left).collect()}
    assert got == {1: "b", 2: "c", 3: None}  # inclusive; no match → null
    strict = AsofJoin(right, on=["k"], left_ts="ts", right_ts="rts",
                      right_cols=["v"], strict=True)
    got2 = {r.id: r.v for r in strict(left).collect()}
    assert got2 == {1: "a", 2: "c", 3: None}  # strict: equal-ts row excluded


def test_profile_diff_and_skew_report(spark):
    """profile_diff flags null spikes, cardinality jumps, and schema
    drift; skew_report ranks hot keys with their uniform-key ratio."""
    from systems_spark.functions.profile import (
        profile_diff,
        profile_table,
        skew_report,
    )

    old = spark.createDataFrame(
        [(i, "x", i) for i in range(100)], "k int, v string, stable int")
    # today: k nulls spike to 20%, v cardinality jumps 1 → 50, stable stays
    new = spark.createDataFrame(
        [(None if i < 20 else i, f"s{i % 50}", i) for i in range(100)],
        "k int, v string, stable int")
    d = {r.column: r for r in profile_diff(
        profile_table(old, ["k", "v", "stable"]),
        profile_table(new, ["k", "v", "stable"])).collect()}
    assert d["k"].drifted and d["k"].null_ratio_delta == 0.2
    assert d["v"].drifted and d["v"].distinct_ratio == 50.0
    assert not d["stable"].drifted

    # schema drift: column only on one side → drifted with null other side
    d2 = {r.column: r for r in profile_diff(
        profile_table(old, ["k"]), profile_table(new, ["k", "v"])).collect()}
    assert d2["v"].drifted and d2["v"].old_rows is None

    # skew: one key holds half the table
    sk = spark.createDataFrame(
        [(7,)] * 50 + [(i,) for i in range(50)], "key int")
    top = skew_report(sk, "key", top_n=3).collect()
    assert top[0].value == 7 and top[0].n == 51
    assert abs(top[0].share - 0.51) < 1e-6
    # 50 distinct keys; a uniform key would hold 2% — key 7 is ~25x that
    assert top[0].x_uniform > 20


def test_profile_table_one_pass(spark):
    """profile_table: exact counts, NULL handling, and the one-job shape
    (single aggregation, no per-column actions)."""
    from systems_spark.functions.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b"), (None, "b")],
        "k int, v string",
    )
    got = {r.column: (r.n_rows, r.n_null, r.n_distinct)
           for r in profile_table(df, ["k", "v"]).collect()}
    assert got == {"k": (5, 1, 4), "v": (5, 1, 2)}
    # approximate mode keeps the same schema/shape
    approx = {r.column: r.n_rows
              for r in profile_table(df, ["k", "v"], exact=False).collect()}
    assert approx == {"k": 5, "v": 5}
    import pytest as _pt
    with _pt.raises(ValueError, match="at least one column"):
        profile_table(df, [])


def test_profile_table_high_cardinality_hll(spark):
    """VERDICT r3 item 8: ``exact=False`` is the >1B-distinct path — HLL
    sketches instead of the Expand-based multi-distinct, whose shuffle
    width grows with per-column distincts. On an every-value-distinct
    200k-row input the HLL estimate must land within its ±2.3% envelope,
    and the physical plan must NOT contain the Expand the exact mode
    needs."""
    from systems_spark.functions.profile import profile_table

    n = 200_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("v"),
    )
    approx = profile_table(df, ["k", "v"], exact=False)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    exact_plan = profile_table(df, ["k", "v"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Expand" in exact_plan  # the width the HLL mode avoids
    got = {r.column: (r.n_rows, r.n_null, r.n_distinct)
           for r in approx.collect()}
    for c in ("k", "v"):
        n_rows, n_null, n_distinct = got[c]
        assert (n_rows, n_null) == (n, 0)
        assert abs(n_distinct - n) / n < 0.05  # HLL rsd 2.3% envelope


def test_categorify_max_size_and_num_buckets(spark):
    """NVTabular-parity knobs: max_size caps the vocab (rarer values -> OOV
    code 0, slot 0 counts toward the cap); num_buckets hashes statelessly
    into 1..num_buckets with null -> 0, no fit pass, per-column independent
    hash spaces."""
    from systems_spark.operators import Categorify

    rows = ([("a",)] * 5 + [("b",)] * 4 + [("c",)] * 3 + [("d",)] * 2
            + [("e",)] * 1 + [(None,)])
    df = spark.createDataFrame(rows, "v string")

    out = Categorify(["v"], out_suffix="_code", max_size=3).fit(df)(df)
    got = {(r.v): r.v_code for r in out.collect()}
    assert got["a"] == 1 and got["b"] == 2          # top-2 kept (3 - OOV slot)
    assert got["c"] == got["d"] == got["e"] == 0    # capped -> OOV
    assert got[None] == 0
    assert Categorify(["v"], max_size=3).fit(df).cardinality("v") == 2

    hashed_op = Categorify(["v"], out_suffix="_code", num_buckets=4)
    hashed = {r.v: r.v_code for r in hashed_op.fit(df)(df).collect()}
    assert hashed[None] == 0
    assert all(1 <= c <= 4 for v, c in hashed.items() if v is not None)
    # deterministic re-run
    assert hashed == {r.v: r.v_code for r in hashed_op(df).collect()}
    assert hashed_op.cardinality("v") == 4

    import pytest as _pt
    with _pt.raises(ValueError, match="excludes"):
        Categorify(["v"], num_buckets=4, max_size=3)
    with _pt.raises(ValueError, match="max_size"):
        Categorify(["v"], max_size=1)


# --- PSI drift -----------------------------------------------------------


def test_psi_identical_distributions_near_zero(spark):
    from systems_spark.functions.profile import psi_drift

    rows = [(float(v % 100),) for v in range(2000)]
    df = spark.createDataFrame(rows, "value double")
    out = psi_drift(df, df, "value", n_bins=10).collect()
    assert len(out) == 10
    # identical samples: every per-bin share matches, PSI exactly 0
    assert all(r.p_old_micros == r.p_new_micros for r in out)
    assert out[0].psi_micros == 0


def test_psi_shifted_distribution_flags_drift(spark):
    from systems_spark.functions.profile import psi_drift

    old = spark.createDataFrame([(float(v % 100),) for v in range(2000)],
                                "value double")
    new = spark.createDataFrame(
        [(float(v % 100) + 60.0,) for v in range(2000)], "value double")
    out = psi_drift(old, new, "value", n_bins=10).collect()
    # a +60 shift on a 0-99 base is severe drift: psi far above 0.25
    assert out[0].psi_micros > 250_000
    # upper old-bins gain mass, lower ones empty out but stay finite
    assert all(r.p_new_micros > 0 for r in out)


def test_psi_matches_python_reference(spark):
    import math

    from systems_spark.functions.profile import psi_drift

    old_vals = [float((v * 7) % 50) for v in range(500)]
    new_vals = [float((v * 11) % 80) for v in range(400)]
    old = spark.createDataFrame([(v,) for v in old_vals], "value double")
    new = spark.createDataFrame([(v,) for v in new_vals], "value double")
    got = {r.bin: (r.n_old, r.n_new, r.term_micros, r.psi_micros)
           for r in psi_drift(old, new, "value", n_bins=4).collect()}
    # independent reference: same fitted-edge contract via sorted old
    from systems_spark.operators.binning import QuantileBin

    op = QuantileBin("value", n_bins=4).fit(old)
    edges = op.edges_micros["value"]
    def bin_of(v):
        vm = math.floor(v * 1_000_000 + 0.5)
        return sum(vm > e for e in edges)
    n_old = [0] * 4
    n_new = [0] * 4
    for v in old_vals:
        n_old[bin_of(v)] += 1
    for v in new_vals:
        n_new[bin_of(v)] += 1
    to, tn = sum(n_old) + 4, sum(n_new) + 4
    total = 0
    for b in range(4):
        po = (n_old[b] + 1) * 1_000_000 // to
        pn = (n_new[b] + 1) * 1_000_000 // tn
        lnr = round(math.log(((n_new[b] + 1) * to) / ((n_old[b] + 1) * tn))
                    * 1_000_000)
        term = (pn - po) * lnr
        total += term
        trunc = abs(term) // 1_000_000 * (1 if term >= 0 else -1)
        assert got[b][:2] == (n_old[b], n_new[b])
        assert got[b][2] == trunc  # DIV truncates toward zero
    # truncating div toward zero on the total, matching both engines
    q = abs(total) // 1_000_000
    want_psi = q if total >= 0 else -q
    assert got[0][3] == want_psi


def test_psi_validation(spark):
    import pytest as _pt

    from systems_spark.functions.profile import psi_drift

    df = spark.createDataFrame([(1.0,)], "value double")
    with _pt.raises(ValueError):
        psi_drift(df, df, "value", n_bins=1)


def test_ann_ivf_pq_recall_self_rank_and_ivf_consistency(spark, tables):
    """IVF-PQ (residual coding + per-cell ADC + exact rerank): self-query
    ranks itself #1 (its own cell is always probed at rank 1 and the
    exact rerank restores it), results carry exactly topk ranked rows,
    and recall@10 vs exact stays above the PQ floor despite visiting
    only nprobe/n_cells of the corpus. Candidates must be a SUBSET of
    what plain IVF with the same cells/nprobe could see (the scan never
    leaves the probed cells)."""
    emb = tables["embeddings"]
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("request_id"), F.col("embedding").alias("qvec")
    )
    kw = dict(item_id_col="vec_id", query_vec_col="qvec",
              query_id_col="request_id", topk=10, metric="ip")
    exact = QueryANN(emb, **kw)
    ivf = QueryANN(emb, strategy="ivf", n_cells=32, nprobe=8,
                   rerank=10_000, **{**kw, "topk": 10_000})
    ivfpq = QueryANN(emb, strategy="ivf_pq", dim=64, n_cells=32, nprobe=8,
                     pq_m=8, pq_k=16, rerank=50, **kw)

    want, got, top1, visible = {}, {}, {}, {}
    for r in exact(q).collect():
        want.setdefault(r.request_id, set()).add(r.ann_id)
    for r in ivf(q).collect():
        visible.setdefault(r.request_id, set()).add(r.ann_id)
    for r in ivfpq(q).collect():
        got.setdefault(r.request_id, set()).add(r.ann_id)
        if r.ann_rank == 1:
            top1[r.request_id] = r.ann_id
    assert all(len(v) == 10 for v in got.values())
    hits = sum(1 for k, v in top1.items() if k == v)
    assert hits >= 18
    # probed-cells containment: ivf with unbounded topk enumerates every
    # item in the probed cells; ivf_pq must never return anything else
    assert all(got[k] <= visible[k] for k in got)
    recall = sum(len(want[k] & got[k]) for k in want) / sum(
        len(want[k]) for k in want)
    assert recall >= 0.4, recall  # random vectors + 8/32 cells visited


def test_ann_ivf_pq_l2_and_deterministic(spark, tables):
    """The l2 path (residual LUT, zero bias) ranks self #1 with score
    -0.0, and two independent runs return identical rows (plan-time
    deterministic seeding end-to-end)."""
    emb = tables["embeddings"]
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("request_id"), F.col("embedding").alias("qvec")
    )
    op = QueryANN(emb, item_id_col="vec_id", query_vec_col="qvec",
                  query_id_col="request_id", topk=5, metric="l2",
                  strategy="ivf_pq", dim=64, n_cells=16, nprobe=4,
                  pq_m=8, pq_k=16, rerank=30)
    a = sorted((r.request_id, r.ann_id, r.ann_rank, r.ann_score)
               for r in op(q).collect())
    b = sorted((r.request_id, r.ann_id, r.ann_rank, r.ann_score)
               for r in op(q).collect())
    assert a == b
    firsts = {r[0]: r[1] for r in a if r[2] == 1}
    assert firsts == {i: i for i in range(8)}


def test_ann_ivf_incremental_postings_equal_scratch(spark, tables):
    """r8 incremental IVF: postings assigned batch-by-batch against a
    PINNED quantizer union to exactly the from-scratch assignment, and
    the search over them is bit-identical."""
    from pyspark.sql import functions as F

    from systems_spark.operators.ann import QueryANN

    emb = tables["embeddings"].limit(400)
    corpus = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    op = QueryANN(corpus, item_id_col="vec_id", item_vec_col="embedding",
                  query_vec_col="qvec", query_id_col="query_id", topk=5,
                  metric="ip", strategy="ivf", n_cells=16, nprobe=4)
    cents = op.ivf_quantizer().localCheckpoint()
    op.with_centroids(cents)

    inc = op.ivf_postings().unionByName(op.ivf_postings(batch))
    scratch_op = QueryANN(emb, item_id_col="vec_id",
                          item_vec_col="embedding", query_vec_col="qvec",
                          query_id_col="query_id", topk=5, metric="ip",
                          strategy="ivf", n_cells=16,
                          nprobe=4).with_centroids(cents)
    scratch = scratch_op.ivf_postings()
    assert ({(r["_ann_id"], r["_cell"]) for r in inc.collect()}
            == {(r["_ann_id"], r["_cell"]) for r in scratch.collect()})

    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    got = {(r.query_id, r.ann_id, r.ann_rank)
           for r in op.transform_ivf_postings(queries, inc).collect()}
    want = {(r.query_id, r.ann_id, r.ann_rank)
            for r in scratch_op.transform_ivf_postings(queries, scratch)
            .collect()}
    assert got == want
    # and the pinned-quantizer path matches plain transform when the
    # quantizer comes from the same item set
    plain = {(r.query_id, r.ann_id, r.ann_rank)
             for r in scratch_op.transform(queries).collect()}
    assert want == plain


def test_ann_ivf_lazy_training_pins_one_quantizer(spark):
    """transform() without an explicit train(): the Lloyd-trained
    quantizer must be materialized once and pinned, so the item cell
    assignment and the query probes share ONE centroid set — two
    independent evaluations of the trained plan could differ at the ulp
    level and silently lose candidates (ADVICE r8)."""
    import random

    rnd = random.Random(11)
    emb = spark.createDataFrame(
        [(i, [float(rnd.gauss(0, 1)) for _ in range(8)]) for i in range(60)],
        "vec_id long, embedding array<float>")
    q = emb.limit(4).select(F.col("vec_id").alias("request_id"),
                            F.col("embedding").alias("qvec"))
    kw = dict(item_id_col="vec_id", query_vec_col="qvec",
              query_id_col="request_id", topk=3, metric="ip",
              strategy="ivf", n_cells=4, nprobe=2, ivf_train_iters=2)
    op = QueryANN(emb, **kw)
    assert op._centroids is None
    q1 = op.ivf_quantizer()
    assert op._centroids is not None, "trained quantizer must auto-pin"
    assert op.ivf_quantizer() is q1, "every caller shares the pin"
    lazy = sorted((r.request_id, r.ann_rank, r.ann_id)
                  for r in op(q).collect())
    explicit = QueryANN(emb, **kw).train()
    want = sorted((r.request_id, r.ann_rank, r.ann_id)
                  for r in explicit(q).collect())
    assert lazy == want
