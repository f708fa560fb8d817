"""k-core decomposition — dense-subgraph extraction by iterative peeling.

Fourth member of the graph family (components resolve dup clusters,
PageRank ranks importance, triangles flag near-cliques): the k-core is
the maximal subgraph where every node keeps ≥ k neighbors INSIDE the
subgraph. On a similarity graph it isolates the densely inter-linked
regions — spam/template farms and SEO link rings survive coring long
after organic near-dups are peeled away.

Algorithm: classic peeling — repeatedly delete nodes whose degree within
the surviving subgraph is < k until none remain. Each round is one
degree aggregation + one anti-join, both on (long, long) pairs; the
driver loop stops on a convergence count exactly like the
connected-components resolver (dedup/clusters.py), with periodic
lineage-truncating pins. Counts are exact integers, so
the surviving set is a pure function of the graph.

Oracle strategy: peeling is a GREATEST fixpoint, which a recursive CTE
(least-fixpoint machinery) cannot express with per-level aggregation —
so the SQL twin UNROLLS a fixed number of peel levels. Peeling is
idempotent after convergence (a converged level reproduces itself), so
``unrolled(R) == converged`` for ANY R ≥ the convergence round; the
Spark side raises loudly if ``max_rounds`` is exceeded rather than
returning an unconverged set, keeping the equality honest.

100 TB shape: rounds needed = peeling depth (typically tens on
power-law graphs, not thousands). The live edge set is CARRIED FORWARD
round to round (VERDICT r4 item 5): each round semi-joins the previous
round's surviving edges down to the new survivor set, so late rounds
scan (and shuffle) only the surviving subgraph — both the (node, degree)
aggregation input and the edge-join input shrink monotonically, not just
the survivor list. ``checkpoint_every`` truncates the growing join
lineage with a pin.

Pins: the one pinned frame, the live symmetric edge set, is
graph-sized, so it goes through ``pinning.pin(corpus_scale=True)`` —
a reliable checkpoint when the session has a checkpoint dir, a lazy
local checkpoint otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.operators.graph import symmetrize as _und
from systems_spark.pinning import pin


def kcore(edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
          max_rounds: int = 64, checkpoint_every: int = 4,
          round_stats: "list | None" = None) -> DataFrame:
    """(node, core_deg) for every member of the k-core (its degree within
    the core). Raises RuntimeError when peeling hasn't converged within
    ``max_rounds`` — a silent partial core would be wrong, loudly.

    ``round_stats``: optional list; each round appends its survivor count
    (monotonically non-increasing — the carried-forward edge set shrinks
    with it)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    live = pin(_und(edges, src, dst), corpus_scale=True)
    n_alive = None  # previous round's survivor count doubles as |alive|
    for r in range(max_rounds):
        deg = live.groupBy("a").agg(F.count(F.lit(1)).alias("_deg"))
        survivors = deg.where(F.col("_deg") >= k)
        if n_alive is None:
            # round 0: |alive| == |deg| (deg groups by node), so ONE
            # combined aggregate action yields both counts — the old
            # separate distinct().count() executed the first round's
            # plan twice (VERDICT r5 item 5)
            row = deg.agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum((F.col("_deg") >= k).cast("long")).alias("_s")).first()
            n_alive = row._n
            n_surv = int(row._s or 0)
        else:
            n_surv = survivors.count()  # the ONE action per round
        if round_stats is not None:
            round_stats.append(n_surv)
        if n_surv == n_alive:
            return survivors.select(
                F.col("a").alias("node"), F.col("_deg").alias("core_deg"))
        if n_surv == 0:
            return deg.where(F.lit(False)).select(
                F.col("a").alias("node"), F.col("_deg").alias("core_deg"))
        # carry the surviving subgraph forward: late rounds scan only the
        # edges both of whose endpoints still live, not the full table
        alive = survivors.select(F.col("a").alias("node"))
        live = (live.join(alive.withColumnRenamed("node", "a"), on="a", how="semi")
                .join(alive.withColumnRenamed("node", "b"), on="b", how="semi"))
        n_alive = n_surv
        if checkpoint_every and (r + 1) % checkpoint_every == 0:
            live = pin(live, corpus_scale=True)
    raise RuntimeError(f"k-core peeling did not converge in {max_rounds} rounds")


def kcore_sql(edges_sql: str, k: int, src: str = "src", dst: str = "dst",
              rounds: int = 64) -> str:
    """DuckDB twin: ``rounds`` unrolled peel levels (idempotent once
    converged — choose rounds ≥ the Spark loop's convergence round, which
    the Spark side enforces by raising past ``max_rounds``).

    Default ``rounds=64`` matches :func:`kcore`'s ``max_rounds=64``
    (ADVICE r4): with both defaults, either the Spark side converged
    within 64 rounds — and the 64-level unroll reproduces it exactly by
    idempotence — or the Spark side raised, so the two engines can never
    silently disagree. Callers pinning a smaller unroll for oracle cost
    must pin the Spark loop's ``max_rounds`` to the same number."""
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    # level references the previous one TWICE — inlining would expand the
    # plan 2^rounds times (and reopen the source file at every leaf)
    ctes = [f"raw AS MATERIALIZED ({edges_sql})",
            f"und AS MATERIALIZED (SELECT DISTINCT a, b FROM ("
            f"SELECT {src} AS a, {dst} AS b FROM raw "
            f"UNION ALL SELECT {dst}, {src} FROM raw) WHERE a <> b)",
            "a0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM und)"]
    for i in range(1, rounds + 1):
        ctes.append(f"""a{i} AS MATERIALIZED (
  SELECT u.a AS node
  FROM und u
  JOIN a{i - 1} x ON x.node = u.a JOIN a{i - 1} y ON y.node = u.b
  GROUP BY 1 HAVING count(*) >= {k}
)""")
    last = f"a{rounds}"
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT u.a AS node, count(*) AS core_deg
FROM und u
JOIN {last} x ON x.node = u.a JOIN {last} y ON y.node = u.b
GROUP BY 1 HAVING count(*) >= {k}
""")
