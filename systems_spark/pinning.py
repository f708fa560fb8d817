"""Size-aware lineage pins — the r12 zero-ReusedExchange discipline made
scale-safe (VERDICT r12 item 3 / "Next round" item 4).

The r12 rounds established the pattern: Spark never reuses a lazy subtree
referenced more than once in a plan (no ``ReusedExchange`` across plan
references), so a fitted-state frame derived from a corpus pass must be
PINNED — materialized once per action — or every reference re-runs the
corpus pass. The r12 implementation was a bare ``localCheckpoint
(eager=False)`` everywhere. That is the right call for small derived
frames, but it has two scale hazards on corpus-sized relations:

1. **Fault tolerance.** ``localCheckpoint`` stores blocks in executor
   storage with the lineage TRUNCATED: a lost executor cannot recompute
   its partitions, and multi-hour 100 TB jobs lose executors routinely.
   A RELIABLE checkpoint (``Dataset.checkpoint`` into the cluster's
   checkpoint dir, typically HDFS/object storage) survives executor loss.
2. **Generation leak.** An incremental ``fit_update`` that re-pins the
   cumulative state (old pin ∪ delta) keeps every prior generation's
   blocks reachable through the new pin's lineage — O(n_updates × corpus)
   executor storage (ADVICE r12 item 1). The superseded generation must
   be dropped once the new one is materialized.

``pin(df, corpus_scale=True)`` addresses (1): when the session has a
checkpoint dir configured (``sparkContext.setCheckpointDir`` — routine on
real clusters; never set in the local bench/tests, so local behavior is
bit-identical to r12), corpus-scale pins become reliable checkpoints.
``unpin(df)`` addresses (2): it releases the pinned RDD's storage; the
incremental operators call it on the superseded generation after eagerly
materializing the new one (see ``BM25.fit_update``).

Both pin flavors place a ``LogicalRDD`` leaf in the plan, which erases
the planner's size estimate (no auto-broadcast from stats) — the same
trade r12 measured and accepted per call site; call sites that NEED the
planner estimate stay lazy (ngram ``transform`` sizes, profile counts).

``prepared(source, key, build)`` is the serving memo: an operator that
derives a static side from a pinned source (a dedup, a projection, a
learned scalar) builds it once per pin instead of once per request.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame

__all__ = ["pin", "prepared", "unpin"]

# (application id, pin RDD id, caller key) -> prepared view or value. A hit
# reads the dict without a lock; a miss builds under the lock, so a first
# build happens once when requests arrive on threads (and misses on other
# pins wait for it meanwhile)
_PREPARED: dict = {}
_PREPARED_LOCK = threading.RLock()
_MISSING = object()
# source frame -> (pin id, JVM RDD) of a materialized pin, so a hit sends no
# py4j command (resolving the pin reads the analyzed plan, its class, the
# RDD, its storage level and the application id: about ten). Only pins are
# kept: a frame that is not one yet (a reliable checkpoint before its first
# action) is resolved again on its next call. unpin() drops the entry.
_PIN_OF: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _has_checkpoint_dir(df: DataFrame) -> bool:
    try:
        return df.sparkSession.sparkContext._jsc.sc().getCheckpointDir() \
            .isDefined()
    except Exception:  # noqa: BLE001 - introspection must never break a plan
        return False


def pin(df: DataFrame, corpus_scale: bool = False,
        eager: bool = False) -> DataFrame:
    """Materialization pin for a frame referenced more than once.

    ``corpus_scale=False`` (default): non-eager ``localCheckpoint`` — the
    r12 pattern, right for small derived tables (counts, stats, codebooks)
    whose recompute-on-executor-loss is cheap anyway.

    ``corpus_scale=True``: the pinned payload is O(corpus) (postings,
    exploded shingles/segments, incidence relations). If the session has a
    checkpoint dir, use a RELIABLE checkpoint so the pin survives executor
    loss; otherwise (local mode, tests, bench) fall back to
    ``localCheckpoint`` unchanged.
    """
    if corpus_scale and _has_checkpoint_dir(df):
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _pin_rdd(df: DataFrame):
    """The JVM RDD under ``df`` when the plan root is a pin's
    ``LogicalRDD``, else None."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return plan.rdd()
    except Exception:  # noqa: BLE001 - introspection must never break a plan
        pass
    return None


def _pin_id(df: DataFrame, rdd) -> tuple:
    # RDD ids restart with every SparkContext; the application id keeps a
    # memo entry from one context from matching a pin of the next
    return (df.sparkSession.sparkContext.applicationId, rdd.id())


def _materialized_rdd(df: DataFrame):
    """The JVM RDD of ``df`` when ``df`` is exactly a materialized pin: its
    plan root is a ``LogicalRDD`` with a storage level (``localCheckpoint``)
    or reliable checkpoint files. Else None: a frame built with
    ``createDataFrame`` also has a ``LogicalRDD`` root, but neither, and
    so has a local checkpoint that :func:`unpin` released (it still
    counts as checkpointed, but its blocks are gone)."""
    rdd = _pin_rdd(df)
    try:
        if rdd is not None and (rdd.getStorageLevel().isValid()
                                or rdd.getCheckpointFile().isDefined()):
            return rdd
    except Exception:  # noqa: BLE001 - introspection must never break a plan
        pass
    return None


def _pin_of(df: DataFrame):
    """``(pin id, JVM RDD)`` when ``df`` is a materialized pin, else None;
    memoized per frame object for pins."""
    hit = _PIN_OF.get(df)
    if hit is not None:
        return hit
    rdd = _materialized_rdd(df)
    if rdd is None:
        return None
    hit = (_pin_id(df, rdd), rdd)
    with _PREPARED_LOCK:
        _PIN_OF[df] = hit
    return hit


def prepared(source: DataFrame, key, build, pinned_only: bool = False):
    """``build(source)``, computed once per pinned source.

    When ``source`` is a materialized pin, the result is memoized under
    ``(pin, key)``: a DataFrame result is pinned eagerly on the first
    call, in the source pin's flavor (a reliable checkpoint for a reliably
    checkpointed source, else a ``localCheckpoint``: one more copy of the
    view in executor storage), and its rows are then fixed for the source
    pin's lifetime; any other value (a scalar learned from the source) is kept
    as is. Every later call with the same pin and ``key`` returns it with
    no job. ``key`` must name everything ``build`` depends on besides the
    source (the operator and its column parameters).

    Any other source gets ``build(source)`` on every call, lazily for a
    frame: a parquet table or a view can change between requests, and
    the plan must see the change. With ``pinned_only`` it gets None and
    ``build`` never runs: for a value only worth learning once per pin (a
    scalar ``build`` runs its job on every call).

    A hit sends no py4j command: the source's pin identity is memoized
    per frame object.

    Lifetime: :func:`unpin` on the source releases its views' storage. When
    the source frame object is garbage collected its entries leave the
    memo, and Spark's context cleaner frees each view's blocks once no
    plan references the view any more (a result frame still being read
    keeps it alive)."""
    pinned = _pin_of(source)
    if pinned is None:
        return None if pinned_only else build(source)
    pin_id, rdd = pinned
    memo = pin_id + (key,)
    out = _PREPARED.get(memo, _MISSING)  # a dict read is atomic: no lock
    if out is not _MISSING:
        return out
    with _PREPARED_LOCK:
        out = _PREPARED.get(memo, _MISSING)
        if out is _MISSING:
            out = build(source)
            if isinstance(out, DataFrame):
                # the view's pin is as reliable as its source's: a view of
                # a reliable checkpoint is checkpointed reliably too
                out = pin(out, corpus_scale=rdd.getCheckpointFile()
                          .isDefined(), eager=True)
            _PREPARED[memo] = out
            weakref.finalize(source, _forget, memo)
    return out


def _forget(memo) -> None:
    with _PREPARED_LOCK:
        _PREPARED.pop(memo, None)


def unpin(df: DataFrame) -> None:
    """Release a pin's executor storage — call on a SUPERSEDED generation
    after the superseding pin is materialized (never before: the new
    generation's lineage reads the old pin's blocks, and a truncated
    lineage cannot recompute them). The views :func:`prepared` built from
    the pin are released with it.

    Best-effort by design: works when ``df`` is exactly a pinned frame
    (plan root is the pin's ``LogicalRDD``); anything else is a silent
    no-op, so callers can pass whatever they held without bookkeeping
    the pin provenance."""
    rdd = _pin_rdd(df)
    if rdd is None:
        return
    try:
        if _PREPARED or _PIN_OF:  # nothing memoized: no application id
            pin_id = _pin_id(df, rdd)
            with _PREPARED_LOCK:
                # every frame object of this pin resolves it again
                for src in [s for s, (p, _) in _PIN_OF.items()
                            if p == pin_id]:
                    del _PIN_OF[src]
                views = [_PREPARED.pop(m) for m in list(_PREPARED)
                         if m[:2] == pin_id]
            for view in views:
                if isinstance(view, DataFrame):
                    unpin(view)
        rdd.unpersist(False)
    except Exception:  # noqa: BLE001 - storage release is advisory
        pass
