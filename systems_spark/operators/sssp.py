"""Weighted single-source(-set) shortest paths — distributed Bellman–Ford.

The weighted companion of BFS (operators/bfs.py counts HOPS; this
sums EDGE COSTS): dist(v) = the minimum total weight of any path from
the seed set to v using at most ``rounds`` edges. On a similarity
graph with cost = inverse affinity, this is "how related is v to the
anchor set, through any chain" — the multi-hop generalization of
item_knn's one-hop neighbors.

Algorithm: synchronous Bellman–Ford relaxation. Each round joins the
current distance table against the edge list (dist + w per out-edge)
and folds the candidates back with a per-node MIN — the classic
iterative-relaxation shape, and exactly the regime Spark's shuffle
likes: every round moves only (node, dist) longs partitioned by node
hash; the edge list is pinned once and reused (the pagerank/kcore/BFS
cache-edges discipline). Negative weights are rejected (with only
``rounds`` relaxations a negative cycle would silently truncate;
non-negative costs make the truncation monotone: more rounds only
improves).

Early stop without a diff join: min-folding a non-negative relaxation
can only (a) add nodes or (b) lower distances — so the pair
(count, Σdist) strictly changes on ANY update, and ONE tiny aggregate
per round both paces the driver loop and detects convergence (the
kcore one-action-per-round rule; Σdist is exact — int64 dists widened
to decimal(38,0) in the probe).

Determinism: integer weights, integer sums, per-node min — no floats,
no order dependence; the DuckDB twin unrolls the same rounds as
MATERIALIZED CTEs (each dist CTE feeds the relax join AND the min
fold — the hits_sql inlining lesson). A Spark early-stop cannot
diverge from the twin's full unroll: once stable, further rounds are
identity.

Pins: the edge table and each round's distance table are graph-sized,
so they go through ``pinning.pin(corpus_scale=True)`` — reliable
checkpoints when the session has a checkpoint dir, local checkpoints
otherwise. The round-0 table holds only the seeds (caller-sized,
typically a handful) and stays a plain local pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.pinning import pin


def sssp(edges: DataFrame, seeds: DataFrame, rounds: int,
         src: str = "src", dst: str = "dst", weight: str = "w",
         node_col: str = "node") -> DataFrame:
    """(node, dist): minimum path cost from the seed set (dist 0) to
    every node reachable within ``rounds`` edges. Weights must be
    non-negative int64; parallel edges are fine (min wins)."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = pin(edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"),
                         F.col(weight).cast("long").alias("_w")),
            corpus_scale=True)
    # one validation action, up front (it also materializes the edge
    # pin the rounds reuse) — not a per-round probe
    if e.where(F.col("_w") < 0).limit(1).count() > 0:
        raise ValueError("negative edge weight encountered")
    dist = pin(seeds.select(F.col(node_col).alias("_n")).distinct()
               .withColumn("dist", F.lit(0).cast("long")), eager=True)
    probe = dist.agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.col("dist").cast("decimal(38,0)")).alias("s")).collect()[0]
    state = (probe.c, probe.s)
    for _ in range(rounds):
        relaxed = (dist.join(e, dist["_n"] == e["_s"])
                   .select(F.col("_d").alias("_n"),
                           (F.col("dist") + F.col("_w")).alias("dist")))
        nxt = pin(dist.unionByName(relaxed)
                  .groupBy("_n").agg(F.min("dist").alias("dist")),
                  corpus_scale=True, eager=True)
        probe = nxt.agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.col("dist").cast("decimal(38,0)")).alias("s")
        ).collect()[0]
        dist = nxt
        if (probe.c, probe.s) == state:
            break
        state = (probe.c, probe.s)
    return dist.select(F.col("_n").alias(node_col), "dist")


def sssp_sql(edges_sql: str, seeds_sql: str, rounds: int,
             src: str = "src", dst: str = "dst", weight: str = "w",
             node_col: str = "node") -> str:
    """DuckDB twin of :func:`sssp`: per-round relax + min-fold CTEs,
    MATERIALIZED (each dist CTE is referenced twice)."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    ctes = [
        f"e AS MATERIALIZED (SELECT {src} AS s, {dst} AS d,"
        f" ({weight})::BIGINT AS w FROM ({edges_sql}))",
        f"d0 AS MATERIALIZED (SELECT DISTINCT {node_col} AS n,"
        f" 0::BIGINT AS dist FROM ({seeds_sql}))",
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"""d{i} AS MATERIALIZED (
  SELECT n, min(dist)::BIGINT AS dist FROM (
    SELECT n, dist FROM d{i - 1}
    UNION ALL
    SELECT e.d AS n, p.dist + e.w AS dist
    FROM d{i - 1} p JOIN e ON e.s = p.n
  ) GROUP BY 1
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT n AS {node_col}, dist FROM d{rounds}")
