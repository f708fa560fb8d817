"""Strongly connected components over a DIRECTED edge table.

The directed completion of ``dedup/clusters.py connected_components``:
mutual-reachability classes, the structure behind cycle detection in
dependency graphs, "mutually substitutable item" sets in transition
graphs, and dead-state pruning in session flows. Undirected CC treats
v→w as symmetric; SCC must prove BOTH directions.

Algorithm — alternating color refinement (the Orzan forward-coloring
idea iterated to a partition fixpoint; no Tarjan stack, nothing
driver-side):

maintain a partition of the UNSETTLED nodes as one label column
``comp(v) = id of the class representative`` (always the class's min
node id); repeat, alternating direction:

  μ(v) ← min node id reachable FROM v (forward pass) or min node id
  that REACHES v (backward pass), walking only WITHIN-CLASS edges
  (comp(_s) = comp(_d)); the first pass runs unrestricted (one class).
  Nodes with μ(v) = comp(v) SETTLE with that label and leave the
  rump; the rest continue with comp ← μ.

Why this is exact:

- classes are always unions of SCCs: SCC members mutually reach via
  SCC-internal edges, which connect same-comp nodes by induction, so
  every coloring assigns them equal labels — an SCC is never split;
- representatives are class minima: if μ(v) = r for the pass's
  coloring μ, then r ≤ v (v reaches itself) and μ(r) = r (a smaller
  reach from r would propagate to every v that reaches r);
- a label REPRODUCED across two opposite-direction passes proves
  mutual reachability with the class min c (one pass exhibits v →* c,
  the other c →* v — restrictions only weaken, never fabricate, reach
  claims), so settled rows with label c are exactly SCC(c), whole;
- settling is safe to remove: a mutual path between unsettled nodes
  can never route through a settled node — it would put that node on
  the same cycle, i.e. in the same still-unsettled SCC;
- progress: the SCC of the minimum unsettled id reproduces its label
  every pass, so each pass settles at least one whole SCC, and once
  the partition reaches the SCC partition the next pass settles
  everything (μ = class min = comp for every node).

Each coloring pass is the family's one min-label loop
(``operators/graph.py::min_label``, the same loop undirected
``connected_components`` runs) — edge relaxation PLUS pointer jumping
(comp(v) ← min(comp(v), comp(comp(v))) — valid because a label is
always the id of a node reachable from v in the pass direction, so
labels shortcut in O(log diameter) rounds instead of one hop per
round: the r8 version needed one outer round per node on a descending
2,000-node chain; this settles it in two passes). All state is
(node, long) rows; per inner round two narrow equi-joins + one
map-side min-agg; every round's frame is a stats-free pin
(``graph.pin_fresh`` — see its docstring for the self-join stats
pathology).

Pins: every pin here holds graph-sized state (the edge table, the node
set, per-node labels, within-class edges), so all of them are
``pin(corpus_scale=True)`` — reliable checkpoints when the session has
a checkpoint dir, lazy local checkpoints otherwise. Each pass releases
its within-class edges and its coloring once the pass's settle join is
materialized; the settled rows are filters over the settle joins, so
those, the edge pin and the node pin are released once the result, a
union of the settled rows, is materialized. A finished call holds one
pin: the result's own.

Determinism: the SCC label is the component's minimum node id — a
property of the graph, not the algorithm — so the result is
oracle-checkable bit-for-bit against a recursive mutual-reachability
CTE (:func:`scc_sql`).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.operators.graph import BROADCAST_NODES_MAX, min_label
from systems_spark.pinning import pin, unpin

__all__ = ["strongly_connected_components", "scc_sql"]


def _pin(df: DataFrame, eager: bool = False) -> DataFrame:
    return pin(df, corpus_scale=True, eager=eager)


def strongly_connected_components(edges: DataFrame, src: str = "src",
                                  dst: str = "dst",
                                  node_col: str = "node",
                                  component_col: str = "component",
                                  max_rounds: int = 50) -> DataFrame:
    """(node, component) for every node in ``edges`` (either endpoint);
    component = min node id of the node's SCC. A node on no cycle is its
    own singleton SCC. ``max_rounds`` caps BOTH loops (each coloring's
    inner fixpoint and the refinement passes) — a diverged-loop guard,
    not a knob.

    The node set is counted ONCE up front (it is pinned anyway); at or
    under ``graph.BROADCAST_NODES_MAX`` every label-sided join gets an
    explicit broadcast hint — the label frame never exceeds the node
    count, and settling only shrinks it."""
    e_all = _pin(edges.select(F.col(src).alias("_s"),
                              F.col(dst).alias("_d")).distinct())
    nodes = _pin(e_all.select(F.col("_s").alias("n"))
                 .union(e_all.select(F.col("_d").alias("n"))).distinct())
    held = [e_all, nodes]  # released once the result is materialized
    try:
        n_nodes = nodes.count()
        if n_nodes == 0:  # empty edge table
            return (edges.select(F.col(src).alias(node_col))
                    .withColumn(component_col, F.col(node_col)).limit(0))
        bcast = n_nodes <= BROADCAST_NODES_MAX
        maybe_b = F.broadcast if bcast else (lambda df: df)

        # pass 0: forward coloring over ALL edges (one implicit class)
        pinned, comp = min_label(nodes, e_all, "_d", "_s", max_rounds,
                                 "scc: forward coloring", bcast=bcast)
        held.append(pinned)
        done = []
        forward = False  # pass 0 was forward; alternate from backward
        for _ in range(max_rounds):
            # within-class edges of the ACTIVE rump (comp only holds
            # unsettled nodes, so the inner joins drop settled endpoints)
            ec = _pin(e_all
                      .join(maybe_b(comp.select(F.col("n").alias("_s"),
                                                F.col("c").alias("_cs"))),
                            on="_s")
                      .join(maybe_b(comp.select(F.col("n").alias("_d"),
                                                F.col("c").alias("_cd"))),
                            on="_d")
                      .where(F.col("_cs") == F.col("_cd"))
                      .select("_s", "_d"))
            pull, assign = ("_d", "_s") if forward else ("_s", "_d")
            pinned, new = min_label(comp.select("n"), ec, pull, assign,
                                    max_rounds,
                                    "scc: forward coloring" if forward
                                    else "scc: backward coloring",
                                    bcast=bcast)
            unpin(ec)  # the returned labels are materialized without it
            # SETTLE: a label reproduced across two OPPOSITE-direction
            # passes proves mutual reachability with its class min c — the
            # previous pass showed the A-direction path, this pass the B
            # direction — and an SCC always reproduces as one block, so
            # the settled rows are complete SCCs and leave the rump (a
            # remaining mutual path can never route through a settled
            # node: it would put that node on the cycle, i.e. in the same
            # still-unsettled SCC)
            both = _pin(new.join(maybe_b(comp.withColumnRenamed("c", "_pc")),
                                 on="n"))
            held.append(both)
            # counting the rump materializes `both`, which then no longer
            # reads this pass's labels; the settled rows and the next
            # pass's rump are filters over it
            open_rows = both.where(F.col("c") != F.col("_pc")).count()
            unpin(pinned)
            done.append(both.where(F.col("c") == F.col("_pc"))
                        .select(F.col("n").alias(node_col),
                                F.col("c").alias(component_col)))
            comp = both.where(F.col("c") != F.col("_pc")).select("n", "c")
            forward = not forward
            if open_rows == 0:
                return _pin(reduce(DataFrame.unionByName, done), eager=True)
        raise RuntimeError(
            f"scc did not settle in {max_rounds} refinement passes")
    finally:
        for p in held:
            unpin(p)


def scc_sql(edges_sql: str, src: str = "src", dst: str = "dst",
            node_col: str = "node", component_col: str = "component") -> str:
    """DuckDB twin: transitive closure both ways, SCC label = min over
    {v} ∪ {w : v→*w AND w→*v}. Quadratic in the closure — the grading
    anchor, not the scale path."""
    return f"""
WITH RECURSIVE
e AS (SELECT {src} AS a, {dst} AS b FROM ({edges_sql})),
nodes AS (SELECT a AS n FROM e UNION SELECT b FROM e),
reach AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e2.b FROM reach r JOIN e e2 ON e2.a = r.b
)
SELECT n.n AS {node_col},
       least(n.n,
             coalesce(min(CASE WHEN bk.a IS NOT NULL THEN fw.b END),
                      n.n))::BIGINT AS {component_col}
FROM nodes n
LEFT JOIN reach fw ON fw.a = n.n
LEFT JOIN reach bk ON bk.a = fw.b AND bk.b = n.n
GROUP BY n.n
"""
