"""HyperBall — neighborhood-function estimation over a graph.

Boldi, Rosa, Vigna, "HyperANF: approximating the neighbourhood function
of very large graphs on a budget" (WWW 2011) and Boldi & Vigna's
HyperBall. The neighborhood function N(v, t) = |{u : dist(v, u) ≤ t}|
underlies reachability profiling, effective-diameter estimation, and
centrality screening — but exact per-node BFS is O(V·E), hopeless at
graph scale. HyperBall keeps ONE HyperLogLog sketch per node and
iterates

    B(v, t+1) = B(v, t) ∪ ⋃_{(v,u) ∈ E} B(u, t)

where sketch union is register-wise MAX — the merge law that makes the
whole algorithm a sequence of joins and max-aggregations.

Spark-first shape
-----------------
State is a plain (node, bucket, register) table — ≤ m = 2^p rows per
node. One round = one equi-join of the register table against the edge
list (each node pulls its out-neighbors' registers) + one map-side-
combined max-aggregation; shuffles carry (long, int, long) triples
only. This is the pagerank loop shape ×m rows — and because the
registers derive from the portable md5 hash (functions/sketches.py),
every register and every ESTIMATE is bit-replayable in DuckDB: even an
approximate graph algorithm is oracle-checkable, round by round.

Cost/accuracy knob: ``p``. p=4 (16 registers, σ≈26%) suffices for
hop-plot/effective-diameter shape; p=8 (256, σ≈6.5%) for per-node
numbers. State is m·|V| rows of longs either way — at 1e9 nodes and
p=4, 16e9 skinny rows, comfortably shuffle-able; exact per-node BFS
frontiers would be |reachable-set| per node instead.

Pins: every pinned frame (edge table, node set, m registers per node)
is graph-sized, so all go through ``pinning.pin(corpus_scale=True)`` —
reliable checkpoints when the session has a checkpoint dir, lazy local
checkpoints otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.functions.sketches import (
    hll_estimate,
    hll_estimate_sql,
    hll_registers,
    hll_registers_sql,
)
from systems_spark.pinning import pin


def hyperball(edges: DataFrame, rounds: int, p: int = 4,
              src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, hops, n_buckets_used, s_int, approx_within) for every node
    of ``edges`` and every t in 1..rounds: the estimated number of nodes
    within t hops (following edge direction; pass a symmetrized edge
    list for undirected balls). hops counts the node itself — N(v, t) ≥ 1.

    The edge table is pinned ONCE (a derived edge list — e.g. a
    co-occurrence self-join — must not re-execute per round; the
    pagerank ``cache_edges`` discipline), and EVERY round's register
    table is pinned before it feeds its two consumers (the estimate
    branch and the next round) — review r6: with a cadenced pin, odd
    rounds re-executed their union+max-agg once per consumer."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = pin(edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst")),
            corpus_scale=True)
    nodes = pin(e.select(F.col("_src").alias("node"))
                .union(e.select(F.col("_dst").alias("node"))).distinct(),
                corpus_scale=True)
    # B(v, 0) = {v}: each node's own key seeds its sketch
    regs = pin(hll_registers(nodes.withColumn("_k", F.col("node")),
                             "_k", ["node"], p), corpus_scale=True)
    out = None
    for t in range(1, rounds + 1):
        pulled = (e.join(regs.withColumnRenamed("node", "_dst"), on="_dst")
                  .select(F.col("_src").alias("node"), "bucket", "register"))
        regs = pin(regs.unionByName(pulled)
                   .groupBy("node", "bucket")
                   .agg(F.max("register").alias("register")),
                   corpus_scale=True)
        est = (hll_estimate(regs, ["node"], p, out_col="approx_within")
               .select("node", F.lit(t).cast("long").alias("hops"),
                       "n_buckets_used", "s_int", "approx_within"))
        out = est if out is None else out.unionByName(est)
    return out


def hyperball_sql(edges_sql: str, rounds: int, p: int = 4,
                  src: str = "src", dst: str = "dst") -> str:
    """DuckDB twin: r0 = per-node self-registers, then ``rounds``
    max-merge levels, estimates unioned per level — same integer
    register arithmetic, same estimator."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    r0 = hll_registers_sql("SELECT node, node AS _k FROM nodes",
                           "_k", ["node"], p)
    ctes = [
        f"e AS (SELECT {src} AS _src, {dst} AS _dst FROM ({edges_sql}))",
        "nodes AS (SELECT _src AS node FROM e UNION SELECT _dst FROM e)",
        f"b0 AS MATERIALIZED ({r0})",
    ]
    selects = []
    for t in range(1, rounds + 1):
        ctes.append(f"""b{t} AS MATERIALIZED (
  SELECT node, bucket, max(register)::BIGINT AS register FROM (
    SELECT node, bucket, register FROM b{t - 1}
    UNION ALL
    SELECT e._src AS node, r.bucket, r.register
    FROM e JOIN b{t - 1} r ON r.node = e._dst
  ) GROUP BY 1, 2
)""")
        est = hll_estimate_sql(f"SELECT * FROM b{t}", ["node"], p,
                               out_col="approx_within")
        selects.append(
            f"SELECT node, {t}::BIGINT AS hops, n_buckets_used, s_int, "
            f"approx_within FROM ({est})")
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(selects))
