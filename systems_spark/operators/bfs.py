"""Multi-source BFS hop distances over an edge list.

The exact companion of HyperBall (operators/hyperball.py estimates
NEIGHBORHOOD SIZES per node; this computes exact DISTANCES from a seed
set): dist(v) = the minimum number of hops from any seed to v, for
every v reachable within ``max_hops``. The building block for
"distance-to-catalog-anchor" features, influence radii, and
contamination spread over similarity graphs.

Iterative frontier expansion (the textbook distributed BFS): round h
joins the frontier against the edge list and anti-joins the already
-visited set, so each node enters the result EXACTLY once, at its
first (= minimum) hop — no per-node min aggregation over all walks is
ever needed. Rounds are driver-paced like pagerank/kcore: one action
per round (the frontier count doubles as the early-stop probe). Only
each round's NEW frontier is pinned (eagerly); the visited set
and the result are flat unions over those already-pinned per-hop
frontiers — a union of checkpointed children cannot deepen, and the
growing set is never re-materialized (the hyperball per-round-pin
lesson, minus the redundant re-pin of old rows).

100 TB shape: each round shuffles (node, dist) pairs on the node hash
— frontier ∪ visited, never the edge payload; the edge list partitions
once on src and is reused every round. Directed semantics; symmetrize
first (operators/graph.py) for undirected graphs.

Pins: the edge table and the per-hop frontiers are graph-sized, so they
go through ``pinning.pin(corpus_scale=True)`` — reliable checkpoints
when the session has a checkpoint dir, local checkpoints otherwise. The
seed set is caller-sized (typically a handful of anchors) and stays a
plain local pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.pinning import pin


def bfs_distances(edges: DataFrame, seeds: DataFrame, max_hops: int,
                  src: str = "src", dst: str = "dst",
                  node_col: str = "node") -> DataFrame:
    """(node, dist): minimum hop count from the seed set (dist 0) to
    every node reachable within ``max_hops``. ``seeds`` holds one
    column, ``node_col``; seed rows absent from the graph still appear
    at dist 0 (they are trivially reachable)."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    # pinned once: every round's count() is a separate action, and
    # exchange reuse does not span actions — without the pin each round
    # would re-run the full edge scan + distinct shuffle (the
    # pagerank/kcore/hyperball cache_edges discipline)
    e = pin(edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
            .distinct(), corpus_scale=True)
    frontier = pin(seeds.select(F.col(node_col).alias("_n")).distinct(),
                   eager=True)
    # visited = flat union over the per-hop frontiers, each already
    # pinned — never re-materialized as one growing checkpoint
    levels = [frontier.withColumn("dist", F.lit(0).cast("long"))]
    visited_nodes = frontier
    for h in range(1, max_hops + 1):
        nxt = pin(frontier.join(e, frontier["_n"] == e["_s"])
                  .select(F.col("_d").alias("_n")).distinct()
                  .join(visited_nodes, on="_n", how="anti"),
                  corpus_scale=True, eager=True)
        if nxt.count() == 0:
            break
        levels.append(nxt.withColumn("dist", F.lit(h).cast("long")))
        visited_nodes = visited_nodes.unionByName(nxt)
        frontier = nxt
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select(F.col("_n").alias(node_col), "dist")


def bfs_distances_sql(edges_sql: str, seeds_sql: str, max_hops: int,
                      src: str = "src", dst: str = "dst",
                      node_col: str = "node") -> str:
    """DuckDB twin of :func:`bfs_distances`, UNROLLED per hop (level
    CTEs of distinct node sets — bounded like the Spark rounds, unlike
    a recursive walk enumeration whose row count is the number of
    PATHS). dist = the first level containing the node."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    ctes = [f"e AS (SELECT DISTINCT {src} AS s, {dst} AS d"
            f" FROM ({edges_sql}))",
            f"l0 AS (SELECT DISTINCT {node_col} AS n FROM ({seeds_sql}))"]
    unions = ["SELECT n, 0 AS dist FROM l0"]
    for h in range(1, max_hops + 1):
        ctes.append(
            f"l{h} AS (SELECT DISTINCT e.d AS n"
            f" FROM l{h - 1} JOIN e ON e.s = l{h - 1}.n)")
        unions.append(f"SELECT n, {h} AS dist FROM l{h}")
    all_levels = " UNION ALL ".join(unions)
    cte_block = ",\n".join(ctes)
    return f"""
WITH {cte_block},
lv AS ({all_levels})
SELECT n AS {node_col}, min(dist)::BIGINT AS dist
FROM lv GROUP BY 1
"""
