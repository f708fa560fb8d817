"""Strongly connected components (operators/scc.py): hand graphs,
DuckDB-twin parity, and a randomized property vs pure-Python Tarjan."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from systems_spark.operators.scc import scc_sql, strongly_connected_components


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.component
            for r in strongly_connected_components(df).collect()}


def _python_scc(edges):
    """Iterative Tarzan-free reference: mutual reachability via closure."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
    reach = {}
    for n in nodes:
        seen, stack = set(), [n]
        while stack:
            v = stack.pop()
            for w in adj[v]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        reach[n] = seen
    return {n: min([n] + [w for w in reach[n] if n in reach[w]])
            for n in nodes}


def test_chain_is_all_singletons(spark):
    got = _run(spark, [(5, 4), (4, 3), (3, 1)])
    assert got == {5: 5, 4: 4, 3: 3, 1: 1}


def test_cycle_and_tail(spark):
    # 1->2->3->1 cycle, 3->4 tail, 4->5
    got = _run(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


def test_two_cycles_bridged_one_way(spark):
    # {1,2} cycle -> {3,4} cycle, one-way bridge keeps them separate
    got = _run(spark, [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3)])
    assert got == {1: 1, 2: 1, 3: 3, 4: 3}


def test_back_edge_merges_everything(spark):
    got = _run(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_unconfirmed_class_member_resolves_next_round(spark):
    """Node 5 reaches the {1,2} cycle but is not reached back — it must
    NOT settle with the cycle (the forward-confirmation direction bug
    this test pins)."""
    got = _run(spark, [(5, 1), (1, 2), (2, 1)])
    assert got == {5: 5, 1: 1, 2: 1}


def test_matches_duckdb_twin(spark):
    import duckdb

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 1),
             (2, 6), (7, 7)]
    got = sorted(_run(spark, edges).items())
    ev = ", ".join(f"({a}, {b})" for a, b in edges)
    want = sorted(duckdb.sql(
        scc_sql(f"SELECT * FROM (VALUES {ev}) t(src, dst)")).fetchall())
    assert got == [(int(n), int(c)) for n, c in want]


def test_random_graphs_match_python_reference(spark):
    import random

    rng = random.Random(23)
    for trial in range(4):
        n = rng.randint(4, 12)
        m = rng.randint(n, 3 * n)
        edges = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(m)})
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        assert _run(spark, edges) == _python_scc(edges), f"trial {trial}"


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert strongly_connected_components(df).count() == 0


def test_descending_chain_2000_nodes_converges(spark):
    """The r8 adversary: a 2,000-node descending chain (v -> v-1) made
    the mark loop settle ONE node per outer round. The alternating
    color refinement must finish well inside max_rounds=50 (the
    backward pass splits the chain into singleton classes in one
    pointer-jumped coloring)."""
    edges = [(v, v - 1) for v in range(2, 2001)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = strongly_connected_components(df)  # default max_rounds=50
    got = {r.node: r.component for r in out.collect()}
    assert got == {v: v for v in range(1, 2001)}


def test_shuffled_id_chain_converges(spark):
    """A 1,000-node chain with RANDOM ids along the path — the class
    structure no longer aligns with id order, so each refinement pass
    splits at interior minima; convergence must stay logarithmic."""
    import random

    rng = random.Random(7)
    ids = list(range(1000))
    rng.shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component
           for r in strongly_connected_components(df).collect()}
    assert got == {v: v for v in range(1000)}


def test_chained_cycles_settle_together(spark):
    """Descending chain of 2-cycles: every cycle is its own SCC and the
    old confirmation settled one per outer round; the refinement must
    label all of them in one run."""
    edges = []
    for k in range(0, 400, 2):  # cycles {k, k+1}
        edges += [(k, k + 1), (k + 1, k)]
        if k >= 2:
            edges.append((k, k - 2))  # descending link between cycles
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component
           for r in strongly_connected_components(df).collect()}
    want = {k: (k // 2) * 2 for k in range(400)}
    assert got == want


def test_shadowed_scc_chain(spark):
    """Cycles C_k reached from a smaller-id cycle with everything also
    draining into one sink — the structure where a single backward pass
    leaves multiple SCCs sharing a class, forcing extra refinement
    passes. Must converge and label exactly."""
    edges = [(3, 2)]  # node 1 = sink; cycles (2,3), (4,5), ... (2k, 2k+1)
    edges = []
    for k in range(2, 42, 2):
        edges += [(k, k + 1), (k + 1, k)]   # the cycle
        edges.append((k + 1, 1))            # drain to sink 1
        if k >= 4:
            edges.append((k - 2, k))        # link from previous cycle
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component
           for r in strongly_connected_components(df).collect()}
    want = {1: 1}
    for k in range(2, 42, 2):
        want[k] = k
        want[k + 1] = k
    assert got == want


def test_releases_its_pins(spark):
    """After a call the only new persistent RDD is the result's own pin:
    the edge and node pins and every refinement pass's pins are released,
    and the result still reads correctly. A 21-node cycle, a 2-cycle and
    one edge between them need several refinement passes."""
    def persistent():
        return {int(k) for k in spark._jsc.getPersistentRDDs().keySet()}

    edges = [(i, (i + 1) % 21) for i in range(21)] + [(30, 31), (31, 30),
                                                      (20, 30)]
    df = spark.createDataFrame(edges, "src long, dst long")
    before = persistent()
    comp = strongly_connected_components(df)
    assert len(persistent() - before) <= 1
    got = {r.node: r.component for r in comp.collect()}
    assert got == {**{i: 0 for i in range(21)}, 30: 30, 31: 30}
