"""Community detection — deterministic synchronous label propagation.

Fifth member of the graph family (components resolve dup clusters,
PageRank ranks importance, triangles flag near-cliques, k-core extracts
dense subgraphs): label propagation (Raghavan et al., 2007) partitions a
graph into communities — groups more connected inside than out. On a
similarity/co-occurrence graph this surfaces content families a
connected-components pass cannot separate (CC merges everything
reachable; LPA splits a chain of weakly-bridged clusters at the
bridges), which is how curation pipelines find template ECOSYSTEMS
rather than single duplicate clusters.

Algorithm — the deterministic synchronous variant:

    label_0(v)   = v
    label_r+1(v) = argmax over labels L of |{u in N(v): label_r(u) = L}|
                   ties broken toward the SMALLEST label;
                   isolated nodes keep their own label.

Classic LPA breaks ties randomly and updates asynchronously; both are
non-reproducible under distribution. This variant is a pure integer
function of (graph, rounds): the argmax is ``min (−count, label)`` —
exact, order-independent, retry-invariant — so a fixed-round run is
bit-replayable in the SQL oracle (one CTE per round). Synchronous
updates can two-cycle on bipartite-ish structures; a fixed ``rounds``
still yields a deterministic labeling (document the round count with
the result), and ``stop_when_stable`` exits early when a round changes
nothing — a stable labeling reproduces itself, so early-exit equals the
fixed-round output from that point on.

100 TB shape: each round is one equi-join of labels onto the symmetrized
edge list (shuffle: (node, label) longs + edges) and TWO map-side-
combined aggregations — (node, label) counts, then the per-node argmax
via one ``min(struct(-count, label))`` agg; no windows, no single-task
stage. ``checkpoint_every`` truncates lineage like the CC resolver;
``stop_when_stable`` adds one count action per checked round.

Pins: every pinned frame (symmetric edges, node set, per-node labels)
is graph-sized, so all go through ``pinning.pin(corpus_scale=True)`` —
reliable checkpoints when the session has a checkpoint dir, lazy local
checkpoints otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.operators.graph import symmetrize
from systems_spark.pinning import pin


def label_propagation(edges: DataFrame, src: str = "src", dst: str = "dst",
                      rounds: int = 4, checkpoint_every: int = 1,
                      stop_when_stable: bool = False) -> DataFrame:
    """(node, community) after ``rounds`` synchronous label-propagation
    updates; ``community`` is the propagated label (a node id)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    und = pin(symmetrize(edges, src, dst), corpus_scale=True)
    nodes = und.select(F.col("a").alias("node")).union(
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .where(F.col("node").isNotNull())).distinct()
    nodes = pin(nodes, corpus_scale=True)
    labels = nodes.withColumn("community", F.col("node"))
    for r in range(rounds):
        prev = labels
        nb = (und.join(labels.select(F.col("node").alias("b"),
                                     F.col("community")), on="b")
              .groupBy(F.col("a").alias("node"), "community")
              .agg(F.count(F.lit(1)).alias("_c")))
        best = (nb.groupBy("node")
                .agg(F.min(F.struct((-F.col("_c")).alias("_nc"),
                                    F.col("community").alias("_lb")))
                     .alias("_m"))
                .select("node", F.col("_m._lb").alias("_new")))
        # r12 perf: every labeling contains EVERY node (initial labels =
        # nodes; this select preserves the node set), so the argmax result
        # left-joins back onto prev directly — the old nodes⋈best⋈prev
        # form referenced prev twice per round with no checkpoint until
        # checkpoint_every, so the plan DOUBLED per round (2^rounds
        # subtree replication: part_communities' 4-round plan carried 76
        # Exchange nodes and re-executed the round-0 join 16×). One
        # reference + a per-round pin (checkpoint_every now defaults 1)
        # keeps the plan linear in rounds.
        labels = (prev.join(best, on="node", how="left")
                  .select("node", F.coalesce(F.col("_new"), F.col("community"))
                          .alias("community")))
        checkpointed = False
        if checkpoint_every and (r + 1) % checkpoint_every == 0 and r + 1 < rounds:
            labels = pin(labels, corpus_scale=True)
            checkpointed = True
        if stop_when_stable and r + 1 < rounds:
            # one checkpoint per round: skip if the cadence branch above
            # already pinned this labeling (review r5)
            if not checkpointed:
                labels = pin(labels, corpus_scale=True)
            changed = (labels.join(
                prev.select("node", F.col("community").alias("_p")),
                on="node")
                .where(F.col("community") != F.col("_p")).count())
            if changed == 0:
                break
    return labels


def label_propagation_sql(edges_sql: str, src: str = "src",
                          dst: str = "dst", rounds: int = 4) -> str:
    """DuckDB twin of :func:`label_propagation` — one CTE per round, the
    same min(struct(−count, label)) argmax and isolated-node keep rule."""
    ctes = [
        f"raw AS MATERIALIZED ({edges_sql})",
        f"und AS MATERIALIZED (SELECT DISTINCT a, b FROM ("
        f"SELECT {src} AS a, {dst} AS b FROM raw "
        f"UNION ALL SELECT {dst}, {src} FROM raw) WHERE a <> b)",
        f"nodes AS MATERIALIZED (SELECT DISTINCT node FROM ("
        f"SELECT a AS node FROM und UNION ALL SELECT {src} FROM raw "
        f"UNION ALL SELECT {dst} FROM raw) WHERE node IS NOT NULL)",
        "l0 AS MATERIALIZED (SELECT node, node AS community FROM nodes)",
    ]
    for i in range(rounds):
        ctes.append(f"""c{i} AS MATERIALIZED (
  SELECT u.a AS node, l.community, count(*) AS c
  FROM und u JOIN l{i} l ON l.node = u.b
  GROUP BY 1, 2
)""")
        ctes.append(f"""l{i + 1} AS MATERIALIZED (
  SELECT n.node,
         coalesce((min(struct_pack(nc := -c.c, lb := c.community))).lb,
                  any_value(p.community)) AS community
  FROM nodes n
  JOIN l{i} p ON p.node = n.node
  LEFT JOIN c{i} c ON c.node = n.node
  GROUP BY 1
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, community FROM l{rounds}")
