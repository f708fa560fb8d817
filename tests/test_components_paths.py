"""connected_components' two paths: the driver union-find under
``LOCAL_RESOLVE_MAX_EDGES`` and the distributed min-label loop above it
(or on any NULL endpoint).

- Both paths return identical rows under an identical schema (names, id
  type of the a/b union, nullability), so callers cannot tell them apart.
- A small graph costs at most 2 Spark jobs (the loop costs ~20).
- The loop releases its superseded pins: after a forced-loop call only the
  returned frame's own pin is left.
"""

import os
import sys
import uuid
from unittest import mock

from hypothesis import example, given, settings, strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from systems_spark.dedup import clusters

ID = st.one_of(st.integers(0, 20), st.integers(0, 20), st.none())
SCHEMAS = ["a int, b int", "a long, b long", "a int, b long", "a long, b int"]


@st.composite
def _graphs(draw):
    """Edges with self-loops, some NULL endpoints, and duplicated and
    reversed copies of drawn edges."""
    base = draw(st.lists(st.tuples(ID, ID), min_size=0, max_size=25))
    again = draw(st.lists(st.sampled_from(base), max_size=6)) if base else []
    flip = draw(st.lists(st.booleans(), min_size=len(again),
                         max_size=len(again)))
    extra = [(b, a) if f else (a, b) for (a, b), f in zip(again, flip)]
    return base + extra


def _rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: [(v is None, v or 0) for v in t])


@settings(max_examples=5, deadline=None)
@given(edges=_graphs(), ddl=st.sampled_from(SCHEMAS),
       not_null=st.sampled_from(["", "a", "ab"]))
@example(edges=[(1, 2), (2, 1), (1, 2), (3, 3), (4, 5), (5, 3)],
         ddl="a long, b long", not_null="")
@example(edges=[(1, 2), (7, 7), (2, 9)], ddl="a int, b long", not_null="a")
@example(edges=[(1, 2), (2, 3)], ddl="a int, b int", not_null="ab")
@example(edges=[(1, None), (2, 3), (None, None), (3, 3)],
         ddl="a long, b long", not_null="")
@example(edges=[], ddl="a int, b long", not_null="")
def test_local_and_loop_paths_identical(spark, edges, ddl, not_null):
    """Local union-find and the forced loop agree row for row and on the
    schema; a NULL endpoint routes to the loop. ``not_null`` names the
    columns made non-nullable (coalesce keeps the type), which decides
    the result's nullability."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(edges, ddl)
    if all(a is not None and b is not None for a, b in edges):
        df = df.select(*[F.coalesce(c, F.lit(0)).alias(c) if c in not_null
                         else F.col(c) for c in "ab"])
    calls = []
    real = clusters._union_find

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    with mock.patch.object(clusters, "_union_find", counted):
        local = clusters.connected_components(df)
    assert bool(calls) == all(a is not None and b is not None
                              for a, b in edges)
    with mock.patch.object(clusters, "LOCAL_RESOLVE_MAX_EDGES", 0):
        loop = clusters.connected_components(df)
    assert local.schema == loop.schema
    assert _rows(local) == _rows(loop)


def test_small_graph_costs_at_most_two_jobs(spark):
    """Under the cap the whole resolve, result collect included, is at
    most 2 Spark jobs: one bounded collect, no label rounds."""
    sc = spark.sparkContext
    edges = [(i, i + 1) for i in range(0, 600, 2)] + [(0, 598), (7, 7)]
    df = spark.createDataFrame(edges, "a long, b long")
    group = f"cc-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "connected_components job count")
    try:
        got = {r.node: r.component
               for r in clusters.connected_components(df).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    assert got[599] == 0 and got[598] == 0 and got[7] == 6


def test_forced_loop_releases_its_pins(spark, monkeypatch):
    """After a loop-path call the only new persistent RDD is the returned
    frame's own pin: superseded round pins and the edge and node pins are
    released, and the result still reads correctly."""
    monkeypatch.setattr(clusters, "LOCAL_RESOLVE_MAX_EDGES", 0)

    def persistent():
        return {int(k) for k in spark._jsc.getPersistentRDDs().keySet()}

    # a 40-node path needs pointer-jump rounds past the batched checks
    df = spark.createDataFrame([(i, i + 1) for i in range(39)] + [(50, 51)],
                               "a long, b long")
    before = persistent()
    comp = clusters.connected_components(df)
    assert len(persistent() - before) == 1
    got = {r.node: r.component for r in comp.collect()}
    assert got == {**{i: 0 for i in range(40)}, 50: 50, 51: 50}
