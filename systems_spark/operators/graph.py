"""Shared graph machinery for the iterative graph operators.

- :func:`symmetrize` — kcore and label_propagation both iterate over the
  SYMMETRIZED distinct edge set (every undirected edge present in both
  directions, self-loops dropped); triangles uses the complementary
  low→high orientation (`triangles._oriented`). One definition here keeps
  the normalization — null handling, dedup strategy — in one place
  (review r5).
- :func:`min_label` — the family's ONE min-label fixpoint loop: forward
  or backward reach colorings for strongly connected components
  (operators/scc.py), and undirected connected components
  (dedup/clusters.py) as the forward coloring of the symmetric edge set.

Pins: every round's label frame goes through ``pinning.pin(corpus_scale=
True)`` (per-node label state is graph-sized), so a session with a
checkpoint dir gets RELIABLE round pins — they survive executor loss on
a real cluster — with no knob; without one the pins are lazy local
checkpoints, exactly as before. A round's pin is released as soon as a
later round is materialized, so a finished loop holds one label pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.pinning import pin, unpin

#: Node-count bound for the label loop's broadcast hints: the label state
#: is (node, long) rows (~16 B/row ⇒ ≤ ~16 MB at the bound). Stats-free
#: pins (see :func:`pin_fresh`) cost Catalyst its plan-time broadcast
#: selection, so every label-sided join would plan as a full-shuffle SMJ
#: (measured ~4-6 s per round of pure exchange/stage floor for a
#: 1,778-edge match graph at 32 cores). Callers count the node set once;
#: at or under this bound every label-sided join carries an explicit
#: broadcast hint — the label frame never exceeds the node count. Above
#: it the hints stay off and AQE's runtime re-plan is the (correct)
#: billion-node fallback.
BROADCAST_NODES_MAX = 1_000_000


def symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetrized distinct edges (a, b), self-loops dropped. NULL
    endpoints drop with the self-loop filter (NULL != NULL is NULL)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    return (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct())


def pin_fresh(df: DataFrame) -> "tuple[DataFrame, DataFrame]":
    """``(pinned, fresh)``: ``pinned = pin(df, corpus_scale=True)`` and
    ``fresh``, the same pinned RDD re-wrapped as a stats-free LogicalRDD.
    Needed because the pointer jump is a
    SELF-join: Catalyst's sizeInBytes estimate SQUARES per round, and a
    checkpoint PROPAGATES the pre-checkpoint estimate into its leaf —
    after k rounds the estimate is a ~2^k-digit BigInteger and every
    join-strategy stats lookup grinds arbitrary-precision arithmetic
    into a driver OOM (measured: stall at ~24 rounds,
    SizeInBytesOnlyStatsPlanVisitor heap exhaustion). Recreating the
    Dataset over the checkpointed RDD resets the leaf estimate to the
    constant defaultSizeInBytes; no data is recomputed or moved. The
    pin is LAZY — the rewrap carries the checkpoint-on-first-use mark,
    and the round's convergence-sum job is what materializes it, so
    each round costs ONE job. Plan through ``fresh``; release through
    ``pinned`` (``unpin`` is a no-op on the rewrap, whose plan root is
    not the pinned RDD)."""
    ds = pin(df, corpus_scale=True)
    spark = ds.sparkSession
    jdf = ds._jdf
    j_new = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False)
    return ds, type(ds)(j_new, spark)


def min_label(nodes: DataFrame, e: DataFrame, pull: str, assign: str,
              max_rounds: int, what: str,
              bcast: bool = False) -> "tuple[DataFrame, DataFrame]":
    """``(pinned, labels)``; ``labels`` is (n, c): c = min node id
    reachable from n by walking edges (_s, _d) in the ``assign`` →
    ``pull`` direction (forward reach for ``pull="_d"``, backward for
    ``"_s"``; on a symmetric edge set either is the connected component's
    min), to fixpoint. ``nodes`` holds one
    column ``n`` and must already be pinned: round 1 reads it twice, and
    the loop builds its first labels over it without a pin of their own.

    One edge relaxation per round (one equi-join + one map-side-combined
    min over (node, candidate) longs, never payloads) plus, from round 4,
    a pointer jump through the previous round's labels
    (c ← min(c, c(c))). Labels decrease monotonically and are always ids
    of nodes n can reach, so the jump is sound and the checksum-equal
    stop is exact; a chain shortcuts in 3 + O(log diameter) rounds once
    doubling starts. Rounds 1-3 skip the jump: low-diameter graphs
    (near-dup clusters are dense/cliquey) converge in a handful of
    one-hop rounds, where the jump's self-join is pure overhead (~30% of
    the graded SCC lane's coloring cost, measured).

    SKEW NOTE: as a giant component converges, most rows carry the
    component min as the jump's join key. The right side is UNIQUE per
    key (one row per node), so AQE skew-join splits the hot left
    partition losslessly — keep spark.sql.adaptive.skewJoin.enabled=true.

    Convergence: labels are monotone non-increasing, so the label SUM
    (one decimal-exact 1-row aggregate; decimal(38,0) because an int64
    sum of billions of int64 ids would overflow) strictly decreases
    until fixpoint. Rounds 1-3 check every round; later rounds batch
    THREE lazy sums into one union-collect, so the driver pays one job
    per three rounds (the job-count-bound lanes pay ~0.35 s fixed
    overhead per driver action). An equal adjacent pair anywhere in the
    checked sequence proves fixpoint, and rounds built past it are
    idempotent no-ops, so returning the latest frame is exact.

    ``bcast``: set when the caller counted the nodes and the label frame
    is broadcast-small (see :data:`BROADCAST_NODES_MAX`); every
    label-sided join then carries an explicit broadcast hint.

    Pins: each check job materializes every round built since the last
    one, after which the newest round reads no earlier round's blocks, so
    the superseded round pins are released right there. The labels keep
    their own pin, returned as ``pinned`` (as in :func:`pin_fresh`: plan
    through ``labels``, release through ``pinned``); ``nodes`` and ``e``
    stay the caller's."""
    maybe_b = F.broadcast if bcast else (lambda df: df)
    lab = nodes.select("n", F.col("n").alias("c"))
    _unset = object()
    prev = _unset
    pending = []  # per-round 1-row label-sum aggs awaiting one fused check
    held = []  # round pins not yet released
    for i in range(max_rounds):
        pulled = (e.join(maybe_b(lab.select(F.col("n").alias(pull),
                                            F.col("c").alias("_ec"))),
                         on=pull)
                  .groupBy(F.col(assign).alias("n"))
                  .agg(F.min("_ec").alias("_ec")))
        base, cand = lab, [F.col("c"), F.coalesce("_ec", "c")]
        if i >= 3:
            base = lab.join(
                maybe_b(lab.select(F.col("n").alias("c"),
                                   F.col("c").alias("_jc"))),
                on="c", how="left")
            cand.append(F.coalesce("_jc", "c"))
        pinned, lab = pin_fresh(base.join(maybe_b(pulled), on="n",
                                          how="left")
                                .select("n", F.least(*cand).alias("c")))
        held.append(pinned)
        pending.append(lab.agg(
            F.sum(F.col("c").cast("decimal(38,0)")).alias("s"))
            .select(F.lit(len(pending)).alias("_k"), "s"))
        if i >= 3 and len(pending) < 3 and i < max_rounds - 1:
            continue
        flushed = pending[0]
        for p in pending[1:]:
            flushed = flushed.union(p)
        sums = [r["s"] for r in
                sorted(flushed.collect(), key=lambda r: r["_k"])]
        for p in held[:-1]:
            unpin(p)
        held = held[-1:]
        # None == None is a real fixpoint (empty node set — sum over
        # zero rows), so compare plain equality from a non-sum sentinel
        seq = ([prev] if prev is not _unset else []) + sums
        if any(a == b for a, b in zip(seq, seq[1:])):
            return held[0], lab
        prev = sums[-1]
        pending = []
    raise RuntimeError(f"{what} did not converge in {max_rounds} rounds")
