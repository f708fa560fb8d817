"""Deterministic random-walk corpus generation — DeepWalk/node2vec prep.

Perozzi, Al-Rfou, Skiena, "DeepWalk: online learning of social
representations" (KDD 2014): graph embeddings train on a corpus of
random walks, exactly like word2vec trains on sentences. Generating
that corpus is a DATA-PIPELINE job — billions of walks over a
billion-node graph — and this operator emits it as a table of
(start, walk, step, node) rows ready for the sequence-export lanes.

The "randomness" is the portable md5 hash of (seed, start, walk, step)
— functions/hashing.py — so walks are a PURE FUNCTION of the graph:
retries and speculative tasks regenerate identical walks (a real
correctness property: a re-executed task emitting different walks
would corrupt downstream negative sampling), two engines agree
bit-for-bit, and the whole generator is oracle-checkable — which a
`rand()`-driven walker never is.

Spark-first shape: the neighbor table carries a per-source dense index
(row_number over the per-source neighbor order — many-small-groups,
degree-bounded); one walk step = one equi-join of the walk frontier
against the degree table (pick ``hash % degree``) and one against the
indexed neighbors. Shuffles carry (start, walk, cur) longs; walks at
dead-end nodes (no out-edges) terminate early, dropping out of the
frontier — document direction by symmetrizing upstream if undirected
walks are wanted.

Pins: the indexed neighbor table and each step's walk frontier (one row
per live walk) are graph-sized, so they go through
``pinning.pin(corpus_scale=True)`` — reliable checkpoints when the
session has a checkpoint dir, lazy local checkpoints otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from systems_spark.functions.hashing import hash64, hash64_sql
from systems_spark.pinning import pin


def random_walks(edges: DataFrame, length: int, n_walks: int = 1,
                 src: str = "src", dst: str = "dst",
                 seed: str = "walk") -> DataFrame:
    """(start, walk, step, node): ``n_walks`` walks of up to ``length``
    steps from EVERY node of ``edges``; step 0 is the start node
    itself. Duplicate edges are collapsed first (the neighbor index
    must be dense and unambiguous)."""
    if length < 1:
        raise ValueError("length must be >= 1")
    if n_walks < 1:
        raise ValueError("n_walks must be >= 1")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")) \
             .distinct()
    w = Window.partitionBy("_s").orderBy("_d")
    nbr = pin(e.withColumn("_i", F.row_number().over(w) - 1),
              corpus_scale=True)
    # deg AND nodes derive from the PINNED nbr frame — a derived edge
    # table (e.g. a co-occurrence self-join) must execute once, not once
    # per consumer
    deg = nbr.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    nodes = (nbr.select(F.col("_s").alias("node"))
             .union(nbr.select(F.col("_d").alias("node"))).distinct())
    state = nodes.select(
        F.col("node").alias("start"),
        F.explode(F.array(*[F.lit(k).cast("long")
                            for k in range(n_walks)])).alias("walk"),
        F.col("node").alias("cur"))
    frames = [state.select("start", "walk",
                           F.lit(0).cast("long").alias("step"),
                           F.col("cur").alias("node"))]
    for t in range(1, length + 1):
        choice = hash64(F.concat_ws(
            ":", F.lit(seed), F.col("start").cast("string"),
            F.col("walk").cast("string"), F.lit(str(t)))) % F.col("_deg")
        # pinned BEFORE the append: the frame feeds both its output
        # branch of the final union AND the next step's join — un-pinned,
        # each union branch re-executes the whole join-chain prefix (the
        # funnel cache_steps hazard; review r6)
        state = pin(state.join(deg, state["cur"] == deg["_s"])
                    .withColumn("_i", choice)
                    .join(nbr, on=["_s", "_i"])
                    .select("start", "walk", F.col("_d").alias("cur")),
                    corpus_scale=True)
        frames.append(state.select(
            "start", "walk", F.lit(t).cast("long").alias("step"),
            F.col("cur").alias("node")))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def random_walks_sql(edges_sql: str, length: int, n_walks: int = 1,
                     src: str = "src", dst: str = "dst",
                     seed: str = "walk") -> str:
    """DuckDB twin of :func:`random_walks` — same neighbor indexing,
    same hash choice, unrolled steps."""
    if length < 1:
        raise ValueError("length must be >= 1")
    if n_walks < 1:
        raise ValueError("n_walks must be >= 1")
    seed = seed.replace("'", "''")
    walks = ", ".join(str(k) for k in range(n_walks))
    ctes = [
        f"e AS (SELECT DISTINCT {src} AS _s, {dst} AS _d FROM ({edges_sql}))",
        ("nbr AS (SELECT _s, _d, row_number() OVER "
         "(PARTITION BY _s ORDER BY _d) - 1 AS _i FROM e)"),
        "deg AS (SELECT _s, count(*) AS _deg FROM nbr GROUP BY 1)",
        "nodes AS (SELECT _s AS node FROM e UNION SELECT _d FROM e)",
        (f"w0 AS (SELECT node AS start, unnest([{walks}])::BIGINT AS walk, "
         f"node AS cur FROM nodes)"),
    ]
    for t in range(1, length + 1):
        h = hash64_sql(
            f"concat_ws(':', '{seed}', CAST(w.start AS VARCHAR), "
            f"CAST(w.walk AS VARCHAR), '{t}')")
        ctes.append(f"""w{t} AS (
  SELECT w.start, w.walk, n._d AS cur
  FROM w{t - 1} w
  JOIN deg d ON d._s = w.cur
  JOIN nbr n ON n._s = w.cur AND n._i = ({h}) % d._deg
)""")
    selects = [
        f"SELECT start, walk, {t}::BIGINT AS step, cur AS node FROM w{t}"
        for t in range(length + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)
