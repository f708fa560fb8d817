"""Serving operators over pinned sources: EmbeddingLookup and
QueryFeatureTable build their deduped side once per pin
(``pinning.prepared``), exact QueryANN scores in generated code over a
pinned item side of one vector length, and the prepared views live and
die with their source pin."""

import contextlib
import gc
import io
import os
import re
import sys
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from systems_spark import pinning, plans
from systems_spark.functions.similarity import unrolls
from systems_spark.operators import (EmbeddingLookup, QueryANN,
                                     QueryFeatureTable)
from systems_spark.pinning import pin, unpin
from systems_spark.schema import Schema


def _jobs(spark, fn):
    """(Spark jobs ``fn`` started, its result), counted through a job
    group."""
    sc = spark.sparkContext
    group = f"serving-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "serving job budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _vec(i, d):
    # exact float32 values, distinct per row
    return [float((i * 7 + j * 3) % 19 - 9) / 4.0 for j in range(d)]


def _user_rows(n=120, d=4):
    rows = [(i, _vec(i, d), i % 5) for i in range(n)]
    return rows + rows[:3]  # exact duplicates: the dedup must still apply


def _users(spark, n=120, d=4):
    return spark.createDataFrame(_user_rows(n, d),
                                 "user_id long, vec array<float>, bias long")


def _items(spark, n=300, d=16, lengths=None):
    rows = [(i, _vec(i + 1000, lengths(i) if lengths else d), i % 10)
            for i in range(n)]
    return spark.createDataFrame(rows, "item_id long, vec array<float>, label long")


def _requests(spark, col, ids):
    return spark.createDataFrame([(int(i),) for i in ids], f"{col} long")


def _persistent(spark):
    return {int(k) for k in spark._jsc.getPersistentRDDs().keySet()}


def test_pinned_lookups_join_a_prepared_view_from_the_second_request(spark):
    """From the second request on, a lookup over a pinned source has no
    shuffle and runs 2 jobs (the view's broadcast and the result), where
    re-deduplicating the source per request adds an exchange and a job.
    Each request id gets one row, duplicate source rows included."""
    users = pin(_users(spark), eager=True)
    items = pin(_items(spark, n=120), eager=True)
    vecs = {u: v for u, v, _ in _user_rows()}
    try:
        emb = EmbeddingLookup(users, "user_id", "vec", output_col="user_vec")
        feat = QueryFeatureTable(items, "item_id", features=["label"],
                                 prefix="item_")
        for n in range(2):
            ids = [1, 2, 50 + n, 999]
            for op, col, want in ((emb, "user_id", vecs.get),
                                  (feat, "item_id",
                                   lambda i: i % 10 if i < 120 else None)):
                out = op(_requests(spark, col, ids))
                jobs, rows = _jobs(spark, out.collect)
                assert sorted(tuple(r) for r in rows) == \
                    [(i, want(i)) for i in ids]
                if n:
                    assert plans.count_exchanges(out) == 0
                    assert jobs <= 2, f"{type(op).__name__} ran {jobs} jobs"
    finally:
        unpin(users)
        unpin(items)


@pytest.mark.parametrize("metric", ["ip", "cosine", "l2"])
def test_exact_ann_scores_in_generated_code_over_a_pinned_item_side(spark,
                                                                     metric):
    """Over a pinned item side of one vector length the exact score has no
    CodegenFallback. Mixed-length items keep the higher-order fold, and
    both return the rows of the fold over the unpinned items."""
    d = 8  # unrolls for every metric (cosine: 3 terms per element)
    queries = _users(spark, n=20, d=d).select(
        "user_id", F.col("vec").alias("user_vec"))

    def ann(items):
        return QueryANN(items, item_id_col="item_id", item_vec_col="vec",
                        query_vec_col="user_vec", query_id_col="user_id",
                        topk=7, metric=metric)(queries)

    uniform = _items(spark, d=d)
    mixed = _items(spark, d=d, lengths=lambda i: d + (i % 97 == 5))
    for items, unrolled in ((uniform, True), (mixed, False)):
        pinned = pin(items, eager=True)
        try:
            out = ann(pinned)
            assert (plans.codegen_fallbacks(out) == []) == unrolled
            assert sorted(out.collect()) == sorted(ann(items).collect())
        finally:
            unpin(pinned)
    assert plans.codegen_fallbacks(ann(uniform)) == ["Project: aggregate"] * (
        3 if metric == "cosine" else 1)


def test_unrolled_scores_stay_inside_one_jit_compiled_method(spark):
    """At the unroll bound every metric's generated per-row method stays
    under HotSpot's 8000-byte limit for JIT compilation (past it the
    method runs interpreted, slower than the fold); one element more
    keeps the fold."""
    for metric, d in (("ip", 24), ("l2", 12), ("cosine", 8)):
        assert unrolls(metric, d) and not unrolls(metric, d + 1)
        pinned = pin(_items(spark, n=50, d=d), eager=True)
        try:
            q = _users(spark, n=10, d=d).select(
                "user_id", F.col("vec").alias("user_vec"))
            out = QueryANN(pinned, item_id_col="item_id", item_vec_col="vec",
                           query_vec_col="user_vec", query_id_col="user_id",
                           topk=3, metric=metric)(q)
            out.collect()  # the adaptive plan is final once executed
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                out.explain("codegen")
            sizes = [int(n) for n in
                     re.findall(r"maxMethodCodeSize:(\d+)", buf.getvalue())]
            assert plans.codegen_fallbacks(out) == []
            assert sizes and max(sizes) < 8000, (metric, sizes)
        finally:
            unpin(pinned)


def test_prepared_views_live_as_long_as_their_source_pin(spark):
    """Ten requests leave the persistent RDDs where the first left them,
    schemas cost no job, and unpinning the sources releases every
    persistent RDD pinned since before they were pinned. A collected
    source leaves the memo."""
    before = _persistent(spark)
    users = pin(_users(spark), eager=True)
    items = pin(_items(spark), eager=True)
    emb = EmbeddingLookup(users, "user_id", "vec", output_col="user_vec")
    feat = QueryFeatureTable(items, "item_id", features=["label"],
                             prefix="item_")
    ann = QueryANN(items, item_id_col="item_id", item_vec_col="vec",
                   query_vec_col="user_vec", query_id_col="user_id", topk=5)
    jobs, _ = _jobs(spark, lambda: feat.compute_output_schema(
        Schema.of(_requests(spark, "item_id", [1]))))
    assert jobs == 0
    counts = []
    for n in range(10):
        req = _requests(spark, "user_id", [n, n + 1, n + 40])
        out = ann(emb(req)).select("user_id", F.col("ann_id").alias("item_id"))
        feat(out).collect()
        counts.append(frozenset(_persistent(spark) - before))
    assert len(set(counts)) == 1, counts
    assert len(counts[0]) == 4  # two sources and two views
    unpin(users)
    unpin(items)
    assert not _persistent(spark) - before

    src = pin(_users(spark, n=10), eager=True)
    EmbeddingLookup(src, "user_id", "vec")(
        _requests(spark, "user_id", [1])).collect()
    rdd_id = src._jdf.queryExecution().analyzed().rdd().id()

    def entries():
        return [m for m in pinning._PREPARED if m[1] == rdd_id]

    assert len(entries()) == 1
    del src
    gc.collect()
    assert entries() == []


def test_an_unpinned_source_shows_rows_rewritten_between_requests(spark,
                                                                   tmp_path):
    """A catalog parquet table is not a pin: each request reads it again,
    so an overwrite between requests shows up in the next lookup."""
    table = f"serving_src_{uuid.uuid4().hex[:8]}"
    schema = "item_id long, vec array<float>, label long"
    spark.createDataFrame([(1, [1.0], 10), (2, [2.0], 20)], schema) \
        .write.format("parquet").option("path", str(tmp_path / table)) \
        .saveAsTable(table)
    try:
        src = spark.table(table)
        emb = EmbeddingLookup(src, "item_id", "vec")
        feat = QueryFeatureTable(src, "item_id", features=["label"])
        req = _requests(spark, "item_id", [1, 3])
        assert sorted((r.item_id, r.embedding) for r in emb(req).collect()) \
            == [(1, [1.0]), (3, None)]
        spark.createDataFrame([(1, [9.0], 90), (3, [3.0], 30)], schema) \
            .write.insertInto(table, overwrite=True)
        assert sorted((r.item_id, r.embedding) for r in emb(req).collect()) \
            == [(1, [9.0]), (3, [3.0])]
        assert sorted((r.item_id, r.label) for r in feat(req).collect()) == \
            [(1, 90), (3, 30)]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_a_reliably_checkpointed_source_gets_a_reliable_view(spark,
                                                             checkpoint_dir):
    """A view of a reliable checkpoint is checkpointed reliably too: like
    its source it survives executor loss and holds no executor storage."""
    before = _persistent(spark)
    users = pin(_users(spark), corpus_scale=True, eager=True)
    rdd_id = users._jdf.queryExecution().analyzed().rdd().id()
    try:
        emb = EmbeddingLookup(users, "user_id", "vec")
        assert len(emb(_requests(spark, "user_id", [1, 2])).collect()) == 2
        views = [v for m, v in pinning._PREPARED.items() if m[1] == rdd_id]
        assert len(views) == 1
        view = views[0]._jdf.queryExecution().analyzed().rdd()
        assert view.getCheckpointFile().isDefined()
        assert not _persistent(spark) - before
    finally:
        unpin(users)
    assert not [m for m in pinning._PREPARED if m[1] == rdd_id]


def test_prepared_builds_once_under_threads_and_only_over_pins(spark):
    """Concurrent first requests on one pin run its build once and share
    the result; ``pinned_only`` never runs a build over an unpinned
    source."""
    src = pin(_users(spark, n=10), eager=True)
    calls = []

    def build(df):
        calls.append(df)
        time.sleep(0.2)  # keep the first build open while others arrive
        return len(calls)

    try:
        with ThreadPoolExecutor(4) as pool:
            got = list(pool.map(
                lambda _: pinning.prepared(src, "threads", build), range(4)))
        assert got == [1] * 4 and len(calls) == 1
        lazy = _users(spark, n=10)
        assert pinning.prepared(lazy, "threads", build,
                                pinned_only=True) is None
        assert len(calls) == 1
    finally:
        unpin(src)


def test_a_prepared_hit_sends_no_py4j_command(spark, py4j_commands):
    """A hit resolves the source's pin from a memo kept per frame object,
    so it sends no py4j command. After ``unpin(source)`` the same frame
    is no pin any more: every call builds again, lazily."""
    src = pin(_users(spark, n=10), eager=True)
    calls = []

    def build(df):
        calls.append(df)
        return df.select("user_id")

    try:
        view = pinning.prepared(src, "hit", build)
        with py4j_commands() as hit:
            again = pinning.prepared(src, "hit", build)
        assert hit.n == 0, f"a hit sent {hit.n} py4j commands"
        assert again is view and len(calls) == 1
    finally:
        unpin(src)
    lazy = [pinning.prepared(src, "hit", build) for _ in range(2)]
    assert len(calls) == 3
    assert lazy[0] is not lazy[1]
    assert all(pinning._materialized_rdd(df) is None for df in lazy)
