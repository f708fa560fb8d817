"""HITS hubs & authorities over an edge table (Kleinberg, JACM 1999).

The directed-graph companion of PageRank for BIPARTITE-flavored
questions: on a customer→part purchase graph, authorities are the
parts endorsed by the broadest well-connected customers and hubs are
the customers whose baskets concentrate on authoritative parts —
mutual reinforcement that plain degree counting misses. PageRank
answers "globally important node"; HITS answers "good endorser / well
endorsed", which is the shape of curation-source scoring (hub = a
data source that links to high-quality documents) and of
basket-based item authority.

Determinism contract — integer HITS
-----------------------------------
Classical HITS normalizes by the L2 norm each round — a float
reduction whose value depends on order, so it cannot be oracle-checked
exactly. Here scores are integers in MICROS, normalized by the ROUND
MAX instead of the L2 norm (scale-invariant: HITS converges to the
same ranking under any per-round positive rescaling):

    a_raw(v) = Σ_{u→v} h(u)            -- exact int64 sum
    a(v)     = a_raw·1e6 div max(a_raw)  -- top authority pinned at 1e6
    h_raw(u) = Σ_{u→v} a(v)
    h(u)     = h_raw·1e6 div max(h_raw)

The normalization product widens to decimal(38,0) (HUGEINT in the
twin) — a_raw ≤ 1e6·N already brushes int64 at N ≈ 1e9 nodes before
the ·1e6. Truncating integer division is identical in both engines
(positive operands), so scores replay bit-for-bit.

100 TB shape: each half-round is one equi-join of scores against the
edge list plus one map-side-combined sum; the round max is a 1-row
aggregate attached by BroadcastNestedLoopJoin (the bm25 scalar-stats
pattern — correct and cheap for 1-row broadcasts); nothing ever
collects to the driver. Every half-round's score frame is pinned
(a lazy pin): raw scores feed both the max and the join,
and each score frame feeds the next half-round and the final output —
without the pins the lineage re-executes exponentially in the round
count. Parallel edges count twice — pass distinct edges if that is
not the intent. ``cache_edges`` pins a derived edge table once (the
pagerank lesson: an operator reading its edges 2R times must not
re-derive them 2R times).

Pins: every pinned frame (edge table, node set, per-node raw scores)
is graph-sized, so all go through ``pinning.pin(corpus_scale=True)`` —
reliable checkpoints when the session has a checkpoint dir, lazy local
checkpoints otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.pinning import pin

_M = 1_000_000


def hits(edges: DataFrame, src: str = "src", dst: str = "dst",
         rounds: int = 4, cache_edges: bool = True,
         edges_by_dst: "DataFrame | None" = None) -> DataFrame:
    """(node, hub_micros, auth_micros) for every node appearing in
    ``edges`` (either endpoint), after ``rounds`` full hub/authority
    update rounds from h₀ = 1e6 everywhere. Pure sinks end with
    hub 0; pure sources with authority 0.

    ``edges_by_dst`` (VERDICT r7 item 4): the SAME edge rows, handed
    separately for the dst-keyed half-round joins. Pass the two
    ``StateStore.materialize_bucketed`` copies (bucketed by ``src`` /
    ``dst`` respectively) and every half-round join shuffles only the
    1-column score side — the static edge table is never exchanged.
    When set, the pin on the EDGE frame is skipped (a
    bucketed-table scan is already storage-pinned, and the pin would
    ERASE the bucket partitioning Catalyst elides the exchange with);
    the derived nodes frame is still pinned — it feeds every round's
    final join and has no bucket layout to preserve."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    pre_bucketed = edges_by_dst is not None
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    if cache_edges and not pre_bucketed:
        e = pin(e, corpus_scale=True)
    e_dst = (edges_by_dst.select(F.col(src).alias("_src"),
                                 F.col(dst).alias("_dst"))
             if pre_bucketed else e)
    nodes = (e.select(F.col("_src").alias("node"))
             .union(e.select(F.col("_dst").alias("node"))).distinct())
    if cache_edges:
        nodes = pin(nodes, corpus_scale=True)

    def _normalize(raw: DataFrame, out: str) -> DataFrame:
        # raw: (node, _v) over the nodes reachable by this half-round's
        # join — which is EVERY _dst (resp. _src) of the edge table, so
        # the next half-round's join matches every edge and absent
        # nodes (exact zeros) never change a sum. PIN raw — it feeds
        # the max aggregate, the next half-round, and (last round) the
        # final output: without per-half-round pins the lineage
        # re-executes exponentially in the round count (the hyperball
        # pin-every-round lesson, reproduced here as an OOM at 5
        # rounds on a 12-node graph before the pins landed). The
        # normalization itself is a NARROW projection over the pin
        # (1-row max attached by broadcast) — r7: the former
        # nodes-LEFT-join expansion per half-round moved to the single
        # final-output join, halving both the joins and the pins per
        # round with bit-identical scores.
        raw = pin(raw, corpus_scale=True)
        mx = raw.agg(F.greatest(F.max("_v"), F.lit(1)).alias("_mx"))
        return (raw.crossJoin(mx)
                .select("node", F.expr(
                    f"cast((cast(_v as decimal(38,0))"
                    f" * {_M}) div _mx as bigint)").alias(out)))

    hub = nodes.withColumn("hub_micros", F.lit(_M).cast("long"))
    auth = None
    for i in range(rounds):
        a_raw = (e.join(hub.withColumnRenamed("node", "_src"), on="_src")
                 .groupBy(F.col("_dst").alias("node"))
                 .agg(F.sum("hub_micros").alias("_v")))
        auth = _normalize(a_raw, "auth_micros")
        h_raw = (e_dst.join(auth.withColumnRenamed("node", "_dst"), on="_dst")
                 .groupBy(F.col("_src").alias("node"))
                 .agg(F.sum("auth_micros").alias("_v")))
        hub = _normalize(h_raw, "hub_micros")
    # one expansion to the full node set (pure sinks → hub 0, pure
    # sources → authority 0), exactly where the output needs it
    return (nodes
            .join(hub, on="node", how="left")
            .join(auth, on="node", how="left")
            .select("node",
                    F.coalesce("hub_micros", F.lit(0).cast("long"))
                    .alias("hub_micros"),
                    F.coalesce("auth_micros", F.lit(0).cast("long"))
                    .alias("auth_micros")))


def hits_sql(edges_sql: str, src: str = "src", dst: str = "dst",
             rounds: int = 4) -> str:
    """DuckDB twin of :func:`hits`: one pair of CTEs per half-round,
    same integer arithmetic (HUGEINT mirrors decimal(38,0)), round max
    as a scalar subquery. AS MATERIALIZED is load-bearing (the
    kcore/communities lesson): each raw-score CTE is referenced twice
    (the normalize join AND its max subquery) and each score CTE feeds
    the next half-round, so plain inlined CTEs re-expand the whole
    prior chain 2^rounds times."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    ctes = [
        f"e AS MATERIALIZED (SELECT {src} AS _src, {dst} AS _dst"
        f" FROM ({edges_sql}))",
        "nodes AS MATERIALIZED "
        "(SELECT _src AS node FROM e UNION SELECT _dst FROM e)",
        f"h0 AS MATERIALIZED (SELECT node, {_M}::BIGINT AS hub FROM nodes)",
    ]
    for i in range(rounds):
        ctes.append(f"""ar{i} AS MATERIALIZED (
  SELECT e._dst AS node, sum(h.hub) AS _v
  FROM e JOIN h{i} h ON h.node = e._src GROUP BY 1
)""")
        ctes.append(f"""a{i} AS MATERIALIZED (
  SELECT n.node,
         ((coalesce(a._v, 0)::HUGEINT * {_M})
          // greatest((SELECT max(_v) FROM ar{i}), 1))::BIGINT AS auth
  FROM nodes n LEFT JOIN ar{i} a ON a.node = n.node
)""")
        ctes.append(f"""hr{i + 1} AS MATERIALIZED (
  SELECT e._src AS node, sum(a.auth) AS _v
  FROM e JOIN a{i} a ON a.node = e._dst GROUP BY 1
)""")
        ctes.append(f"""h{i + 1} AS MATERIALIZED (
  SELECT n.node,
         ((coalesce(h._v, 0)::HUGEINT * {_M})
          // greatest((SELECT max(_v) FROM hr{i + 1}), 1))::BIGINT AS hub
  FROM nodes n LEFT JOIN hr{i + 1} h ON h.node = n.node
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT h.node, h.hub AS hub_micros, a.auth AS auth_micros"
            + f"\nFROM h{rounds} h JOIN a{rounds - 1} a ON a.node = h.node")
