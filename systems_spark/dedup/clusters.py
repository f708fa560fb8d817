"""Duplicate-cluster resolution: connected components over near-dup pairs.

Pair finders (minhash/simhash/embedding LSH + exact verify) emit EDGES; an
actual corpus dedup must then pick one survivor per connected component
(near-duplication is not transitive, but production pipelines treat the
pair graph's components as dup clusters and keep one canonical document per
cluster). This is the stage between "found the pairs" and "wrote the
deduplicated corpus".

Scale design — one size gate, then either a bounded driver union-find or
the distributed loop. ``connected_components`` first collects at most
``LOCAL_RESOLVE_MAX_EDGES + 1`` pairs as Arrow (one job on a pinned
input):

- **at or under the cap, no NULL endpoint**: a driver union-find with
  union-by-min-id (every root is its component's minimum node) resolves
  the graph, and the labels go back to Spark as a ``pyarrow.Table``,
  decoded in the JVM (no Python worker). One job in place of the loop's
  ~20 on a batch-sized pair graph. The design's rule against single-node
  collects (SURVEY.md §7.2 M7) still holds at scale: the collect is
  bounded, so the driver never holds more than the cap, and larger
  graphs take the loop.
- **above the cap, or any NULL endpoint**: the graph family's one
  min-label fixpoint loop (``operators/graph.py::min_label``, the loop
  strongly connected components colors with) runs over the SYMMETRIC
  edge set, where forward reach is exactly the connected component, with
  no second collect.

The loop:

- **min-label propagation + pointer jumping**, the classic
  O(log n)-round MapReduce scheme: each round every node takes the min
  label over its neighbors' labels (one equi-join + one map-side-combined
  min agg); from round 4 labels also jump through themselves
  (``lbl ← lbl(lbl)``, one self-join), which halves chain depth — so
  path-shaped clusters converge in O(log diameter) rounds, while the
  dense near-dup clusters converge in 1-2 rounds without paying the jump.
- each round's labels are pinned through ``pinning.pin(corpus_scale=
  True)``: the loop would otherwise build an exponentially deep lineage
  that re-executes on every convergence check. When the session has a
  checkpoint dir the pins are RELIABLE checkpoints (they survive executor
  loss on a real cluster), with no option to set; otherwise they are lazy
  local checkpoints. Superseded round pins, the edge pin and the node pin
  are released once the final labels are materialized; the result keeps
  only its own pin.
- convergence = the label-sum monotone invariant: one decimal-exact
  aggregate (never collects the frame); checked every round for rounds
  1-3, then three rounds' sums per driver job.

Both paths return the same rows under the same schema (component = min
node id is a graph property, not an algorithm artifact;
tests/test_components_paths.py pins the equality).

The reference has no graph stage (its dedup surface stops at pair scoring)
— this is engine-side capability for the 100 TB training-data pipeline
(SURVEY.md §7.2 M7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.operators.graph import BROADCAST_NODES_MAX, min_label
from systems_spark.pinning import pin, unpin

#: Edge cap for resolving a pair graph on the driver instead of through
#: the iterative distributed loop. Under it, ONE bounded
#: ``limit(cap + 1)`` Arrow collect plus a local union-find replaces the
#: loop's rounds (each a join + agg + pin, with a fixed scheduling cost
#: per driver job — ~0.35 s per round at 32 cores, r12 probe; 20 of the
#: 28 jobs of a 1200-doc dedup op at local[2]). 250k edges collect to a
#: few MB of Arrow — far under any sane driver heap — and anything larger
#: takes the distributed loop, so giant graphs stay scale-safe (guide §5:
#: the driver may do SMALL work, never unbounded work). Every caller gets
#: the gate: ``canonical_documents``, the incremental/decremental folds
#: (whose touched subgraphs are batch-proportional by construction) and
#: full resolves alike. ``0`` sends every graph through the loop.
LOCAL_RESOLVE_MAX_EDGES = 250_000


def connected_components(pairs: DataFrame, a_col: str = "a", b_col: str = "b",
                         node_col: str = "node",
                         component_col: str = "component",
                         max_iterations: int = 50) -> DataFrame:
    """One row per node appearing in ``pairs`` (self-loops included):
    (node, component) where component is the MINIMUM node id in the
    node's connected component — deterministic, so the component id
    doubles as the canonical survivor.

    Graphs of at most ``LOCAL_RESOLVE_MAX_EDGES`` pair rows with no NULL
    endpoint resolve on the driver (module docstring); the rest run the
    min-label loop. Both paths give the same rows and schema: the id type
    is that of the a/b union.

    ``max_iterations`` is a diverged-loop guard, not a tuning knob: with
    pointer jumping, rounds needed ≈ log2(largest cluster diameter) + 4;
    50 covers any graph that fits on a cluster.

    Loop path: the node set is counted ONCE (the count materializes its
    pin, which round 1 reads anyway); at or under
    ``graph.BROADCAST_NODES_MAX`` every label-sided join carries a
    broadcast hint."""
    sym = (pairs.select(F.col(a_col).alias("_s"), F.col(b_col).alias("_d"))
           .union(pairs.select(F.col(b_col).alias("_s"),
                               F.col(a_col).alias("_d"))))
    id_field = sym.schema["_s"]
    cap = LOCAL_RESOLVE_MAX_EDGES
    if cap > 0:
        t = pairs.select(a_col, b_col).limit(cap + 1).toArrow()
        if t.num_rows <= cap and not any(c.null_count for c in t.columns):
            return _union_find(t, pairs.sparkSession, id_field,
                               node_col, component_col)
    e = pin(sym.distinct(), corpus_scale=True)
    nodes = pin(e.select(F.col("_s").alias("n")).distinct(),
                corpus_scale=True)
    bcast = nodes.count() <= BROADCAST_NODES_MAX
    _, labels = min_label(nodes, e, "_d", "_s", max_iterations,
                          "connected_components", bcast=bcast)
    # min_label returned materialized labels, whose pin no longer reads
    # the edge or node pins
    unpin(e)
    unpin(nodes)
    return labels.select(F.col("n").alias(node_col),
                         F.col("c").alias(component_col))


def _union_find(t, spark, id_field, node_col: str,
                component_col: str) -> DataFrame:
    """(node, component) of the NULL-free pair table ``t`` by union-find
    with union-by-min-id, so every root IS its component's minimum node;
    handed back to Spark as Arrow under the loop's output schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(t.column(0).to_pylist(), t.column(1).to_pylist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id: the root IS the component minimum
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = list(parent)
    arrow_type = to_arrow_type(id_field.dataType)
    table = pa.table({
        node_col: pa.array(nodes, type=arrow_type),
        component_col: pa.array([find(n) for n in nodes], type=arrow_type),
    })
    schema = StructType([
        StructField(node_col, id_field.dataType, id_field.nullable),
        StructField(component_col, id_field.dataType, id_field.nullable)])
    return spark.createDataFrame(table, schema)


def incremental_components(labels: DataFrame, new_pairs: DataFrame,
                           a_col: str = "a", b_col: str = "b",
                           node_col: str = "node",
                           component_col: str = "component",
                           check_labels: bool = True) -> DataFrame:
    """Update a connected-components labeling with NEW edges without
    re-resolving the whole graph — the maintenance shape of a
    continuously-growing corpus (`streaming_ingest_dedup` admits new
    documents; the pair finder emits edges touching them; this folds
    those edges into the standing cluster labels).

    ``labels``: (node, component) from a previous
    ``connected_components``/``incremental_components`` run.
    ``new_pairs``: newly discovered edges — may connect old nodes, new
    nodes, or bridge existing clusters.

    Plan, in three joins + one bounded CC:

    1. Components TOUCHED by any new edge = distinct labels of the new
       edges' endpoints (broadcast-friendly: proportional to the batch,
       not the corpus).
    2. Rebuild the touched subgraph as STAR edges (node — old component)
       — each old cluster collapses to diameter 2, so the re-run
       converges in ~2 pointer-jump rounds regardless of how the cluster
       originally formed — plus the new edges.
    3. ``connected_components`` on that subgraph only; untouched rows
       pass through by anti-join, so the full-corpus label set is never
       re-shuffled through the iterative stage.

    Correctness: a new edge can only change labels of components it
    touches (transitively THROUGH other new edges — all of which are in
    the subgraph by construction, since every endpoint's component is
    touched). Component ids remain the component-min node id, so a
    bridge between two old clusters relabels both to the smaller min —
    exactly what a full recompute yields
    (``test_incremental_components_matches_full_recompute``).

    ``check_labels`` (default on; opt out when the labeling is a direct
    ``connected_components`` output) enforces the one-label-per-node
    invariant — the symptom of a re-offered batch unioned into a
    standing labeling is a duplicated node, and folding edges into such
    a labeling silently yields clusters no recompute would produce
    (VERDICT r7 item 8). One map-side-combined agg over the (small,
    one-row-per-doc) label table.
    """
    if check_labels:
        from systems_spark.dedup.guards import ensure_unique_labels
        ensure_unique_labels(labels, node_col)
    edges = new_pairs.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
    lbl = labels.select(F.col(node_col).alias("_n"), F.col(component_col).alias("_c"))
    endpoints = (edges.select(F.col("_a").alias("_n"))
                 .unionByName(edges.select(F.col("_b").alias("_n")))
                 .distinct())
    touched = (lbl.join(endpoints, on="_n", how="semi")
               .select("_c").distinct())
    # star edges of every touched component (node — old component id)
    star = (lbl.join(F.broadcast(touched), on="_c", how="semi")
            .select(F.col("_n").alias(a_col), F.col("_c").alias(b_col)))
    sub = star.unionByName(
        edges.select(F.col("_a").alias(a_col), F.col("_b").alias(b_col)))
    # the subgraph is batch-proportional by construction, so it normally
    # resolves under connected_components' driver-side size gate
    resolved = connected_components(
        sub, a_col=a_col, b_col=b_col,
        node_col=node_col, component_col=component_col)
    # old components double as subgraph NODES (star endpoints); a
    # component id is always a member node, so its row is already present
    # as a node row — no synthetic ids leak out
    untouched = (
        lbl.join(F.broadcast(touched), on="_c", how="anti")
        .select(F.col("_n").alias(node_col), F.col("_c").alias(component_col))
    )
    return resolved.unionByName(untouched)


def decremental_components(labels: DataFrame, pairs: DataFrame,
                           deleted: DataFrame,
                           a_col: str = "a", b_col: str = "b",
                           node_col: str = "node",
                           component_col: str = "component",
                           check_labels: bool = True) -> DataFrame:
    """Remove DELETED nodes from a standing labeling — the
    right-to-be-forgotten maintenance shape (a takedown/GDPR batch
    leaves the corpus; its documents must leave the dup clusters, and
    a cluster bridged ONLY by a removed document must split back
    apart). The mirror of :func:`incremental_components`, with one
    fundamental asymmetry: edge ADDITION is monotone, so old clusters
    may collapse to star edges; deletion is not — a touched component
    must re-derive from its TRUE surviving pair set, which is why the
    standing PAIR table (the same one the labels were resolved from)
    is an input here.

    Plan, all batch-proportional:

    1. touched components = distinct labels of deleted nodes (≤ the
       delete batch, broadcastable); every other label row passes
       through by anti-join — deletion provably cannot affect a
       component containing no deleted node;
    2. surviving members of touched components keep only pairs whose
       BOTH endpoints survive (two semi-joins — a standing pair's
       endpoints share a component, so this is exactly the touched
       subgraph);
    3. ``connected_components`` re-resolves that subgraph; members
       left with no surviving pair become their own singletons (they
       are still corpus documents — no longer duplicates of anything).

    Labels remain the component-min surviving node id, exactly what a
    full recompute over the surviving pair set yields."""
    if check_labels:
        from systems_spark.dedup.guards import ensure_unique_labels
        ensure_unique_labels(labels, node_col,
                             "decremental_components")
    # the delete batch is a single id column: take node_col when
    # present, the only column otherwise — anything wider is ambiguous
    if node_col in deleted.columns:
        dcol = node_col
    elif len(deleted.columns) == 1:
        dcol = deleted.columns[0]
    else:
        raise ValueError(
            f"decremental_components: deleted must be a single id "
            f"column or carry {node_col!r}; got {deleted.columns}")
    dele = deleted.select(F.col(dcol).alias("_n")).distinct()
    lbl = labels.select(F.col(node_col).alias("_n"),
                        F.col(component_col).alias("_c"))
    touched = (lbl.join(dele, on="_n", how="semi")
               .select("_c").distinct())
    untouched = (lbl.join(F.broadcast(touched), on="_c", how="anti")
                 .select(F.col("_n").alias(node_col),
                         F.col("_c").alias(component_col)))
    members = (lbl.join(F.broadcast(touched), on="_c", how="semi")
               .join(dele, on="_n", how="anti")
               .select("_n"))
    e = pairs.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
    sub = (e.join(members.withColumnRenamed("_n", "_a"), on="_a",
                  how="semi")
           .join(members.withColumnRenamed("_n", "_b"), on="_b",
                 how="semi"))
    # touched-subgraph resolve (batch-proportional, as in
    # incremental_components)
    resolved = connected_components(
        sub.select(F.col("_a").alias(a_col), F.col("_b").alias(b_col)),
        a_col=a_col, b_col=b_col,
        node_col=node_col, component_col=component_col)
    singles = (members
               .join(resolved.select(F.col(node_col).alias("_n")),
                     on="_n", how="anti")
               .select(F.col("_n").alias(node_col),
                       F.col("_n").alias(component_col)))
    return resolved.unionByName(singles).unionByName(untouched)


def canonical_documents(pairs: DataFrame, a_col: str = "a", b_col: str = "b",
                        id_col: str = "doc_id",
                        canonical_col: str = "canonical_id",
                        size_col: str = "cluster_size") -> DataFrame:
    """Dup-cluster view ready to drive the actual dedup: one row per
    document that appears in any near-dup pair, with its cluster's
    canonical id (= min doc id in the component) and the cluster size.
    The dedup write is then ``docs.join(this, on=id_col, how='left')``
    keeping rows where canonical is null (never duplicated) or equal to
    the own id (cluster survivor)."""
    comp = connected_components(pairs, a_col=a_col, b_col=b_col)
    return canonical_from_labels(comp, id_col=id_col,
                                 canonical_col=canonical_col,
                                 size_col=size_col)


def canonical_from_labels(labels: DataFrame, node_col: str = "node",
                          component_col: str = "component",
                          id_col: str = "doc_id",
                          canonical_col: str = "canonical_id",
                          size_col: str = "cluster_size") -> DataFrame:
    """The ``canonical_documents`` view from an EXISTING (node, component)
    labeling — e.g. one maintained by ``incremental_components`` — without
    re-running the resolve."""
    sizes = labels.groupBy(component_col).agg(
        F.count(F.lit(1)).alias(size_col))
    return (
        labels.join(sizes, on=component_col)
        .select(
            F.col(node_col).alias(id_col),
            F.col(component_col).alias(canonical_col),
            size_col,
        )
    )
