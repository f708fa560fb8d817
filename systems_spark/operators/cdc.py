"""Change-data-capture merge — MERGE INTO semantics on plain DataFrames.

The lakehouse upsert primitive Spark lacks without a table format: given
a SNAPSHOT and a batch of CHANGES (insert/update/delete rows carrying a
sequence number), produce the next snapshot. Delta/Iceberg/Hudi each
ship this as `MERGE INTO`; here it is the declarative three-step plan:

1. collapse the change batch to its LAST operation per key (one window
   over the CHANGES — batch-sized, never snapshot-sized);
2. untouched snapshot rows pass through an ANTI join on the touched
   keys (a broadcast when the planner can size the batch-derived key
   set; a batch built from an RDD or a Python list has no size
   estimate, and then the snapshot is shuffled into a sort-merge
   join);
3. surviving last-ops (insert/update) append their payloads; deletes
   simply emit nothing.

Semantics (the Debezium/Hudi convention):

- ``op_col`` ∈ {insert, update, delete} — insert and update are both
  "upsert" (an update for an absent key inserts it; an insert over a
  present key replaces it), delete removes the key and is a no-op for
  absent keys;
- ``seq_col`` orders multiple changes to one key within the batch; only
  the LAST wins — an update followed by a delete deletes, a delete
  followed by an insert re-inserts with the new payload;
- (key, seq) must be unique — a tie would make "last" nondeterministic,
  so it raises by default (``check_unique_seq=False`` to skip the one
  batch-sized aggregation when uniqueness is guaranteed upstream).

Cost of ``apply_cdc``: one batch window + one key anti-join per merge.
The sequence-fenced variant behind the CDC tables,
:func:`merge_cdc_fenced`, is one exchange instead: ``snapshot ∪
changes`` hash-partitioned once by key, so the snapshot rows it is
given cross exactly one shuffle (a flat table commit is 2 Spark jobs:
that shuffle's map stage and the write). That is a trade: when the
batch is read from parquet the planner can size it, and a touched-key
anti join would broadcast and leave the snapshot unshuffled; this plan
shuffles every snapshot row it is given. Chain per micro-batch with
``streaming/sinks.IdempotentParquetSink`` for an exactly-once CDC
pipeline on plain parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from systems_spark.functions.sqltext import quote_ident, sql_literal

__all__ = ["apply_cdc", "apply_cdc_sql", "merge_cdc_fenced"]

_OPS = ("insert", "update", "delete")


def _op_checked(op_col: str, what: str) -> str:
    """SQL text of the op column in which an unknown op value becomes an
    explicit execution-time error, never a silent drop or a silent
    upsert."""
    op = quote_ident(op_col)
    ops = ", ".join(f"'{o}'" for o in _OPS)
    msg = sql_literal(f"{what}: unknown {op_col} value: ")
    return (f"CASE WHEN {op} IN ({ops}) THEN {op} "
            f"ELSE raise_error(concat({msg}, {op})) END")


def _touched_join(snapshot: DataFrame, touched: DataFrame, key_cols,
                  how: str) -> DataFrame:
    """Anti/semi join on the touched-key set, NULL-SAFE: a NULL key is a
    real key (the table_diff convention), so a NULL-keyed change must
    match a NULL-keyed snapshot row — a plain equi-join would let the
    old row through AND append the change, duplicating the key."""
    t = touched.select(*[F.col(k).alias(f"_cdc_t_{i}")
                         for i, k in enumerate(key_cols)])
    cond = [F.col(k).eqNullSafe(F.col(f"_cdc_t_{i}"))
            for i, k in enumerate(key_cols)]
    return snapshot.join(t, on=cond, how=how)


def _check_unique_seq(changes: DataFrame, key_cols, seq_col: str,
                      what: str) -> None:
    """(key, seq) ties make 'last change wins' nondeterministic — raise
    with a sample instead of silently picking a winner."""
    dup = (changes.groupBy(*[F.col(quote_ident(c))
                             for c in key_cols + [seq_col]])
           .agg(F.count(F.lit(1)).alias("_n"))
           .where(F.col("_n") > 1).limit(3).collect())
    if dup:
        keys = [tuple(r[c] for c in key_cols + [seq_col]) for r in dup]
        raise ValueError(
            f"{what}: (key, {seq_col}) must be unique within a "
            f"change batch — 'last change wins' is nondeterministic "
            f"under ties. Duplicated sample: {keys}")


def apply_cdc(snapshot: DataFrame, changes: DataFrame, key_cols,
              seq_col: str = "seq", op_col: str = "op",
              check_unique_seq: bool = True) -> DataFrame:
    """Next snapshot after applying ``changes`` to ``snapshot``.

    ``changes`` carries the snapshot's payload columns plus ``seq_col``
    and ``op_col``; the result has exactly the snapshot's columns."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if not key_cols:
        raise ValueError("key_cols must not be empty")
    payload = [c for c in snapshot.columns]
    missing = [c for c in payload + [seq_col, op_col]
               if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing columns: {missing}")
    if check_unique_seq:
        _check_unique_seq(changes, key_cols, seq_col, "apply_cdc")

    # op validation folded into the projection (no extra job), applied to
    # EVERY change — a garbage op must raise even when a later seq
    # supersedes it (silent acceptance would hide producer bugs)
    changes = changes.withColumn(op_col,
                                 F.expr(_op_checked(op_col, "apply_cdc")))
    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    last = (changes
            .withColumn("_cdc_rn", F.row_number().over(w))
            .where(F.col("_cdc_rn") == 1))

    touched = last.select(*key_cols)
    untouched = _touched_join(snapshot, touched, key_cols, "anti")
    upserts = (last.where(F.col(op_col) != "delete")
               .select(*payload))
    return untouched.unionByName(upserts)


def merge_cdc_fenced(snapshot: DataFrame, changes: DataFrame, key_cols,
                     seq_col: str = "seq", op_col: str = "op",
                     deleted_col: str = "_cdc_deleted",
                     check_unique_seq: bool = True,
                     min_seq: "int | None" = None) -> DataFrame:
    """Sequence-FENCED merge — the order-tolerant CDC step (Hudi's
    precombine / Debezium consumer semantics): the snapshot carries per
    row the ``seq_col`` it was last written at plus a ``deleted_col``
    TOMBSTONE flag, and a change applies only if its seq is GREATER than
    the snapshot row's — so a stale or replayed batch is a per-key
    no-op, batches may arrive out of order, and a delete's tombstone
    blocks a late stale update from resurrecting the key. Equal seq
    keeps the snapshot row (idempotent replay of the already-applied
    change).

    ``snapshot``: payload + ``seq_col`` + ``deleted_col``. ``changes``:
    payload + ``seq_col`` + ``op_col``. Returns the next snapshot in the
    snapshot's own columns and column order (tombstones retained —
    compact them out only once no older change can still arrive;
    ``CdcTable.current`` hides them from readers).

    ``min_seq`` is a GLOBAL staleness floor (the compaction fence —
    ``CdcTable.compact``): changes with seq ≤ min_seq are dropped at
    entry, so a key whose tombstone was compacted away can never be
    resurrected by a late replay of a pre-fence batch.

    ``check_unique_seq``: ``True`` runs the eager sample check (one
    small job — right for write paths that want to fail BEFORE staging
    anything); ``"inline"`` evaluates the same rule at execution time on
    the merge's own exchange: a key whose top-seq change is tied raises
    (ties below a key's top seq are harmless and pass); ``False`` skips
    the check.

    Plan: ``snapshot ∪ changes``, tagged by source, hash-partitioned
    ONCE by key; per key the rows rank by ``(seq desc, source)`` with
    the snapshot first, so an equal seq keeps the snapshot row. If a
    change ranks first, the key becomes that one row (a tombstone for a
    delete) — also when the snapshot held the key more than once. If a
    snapshot row ranks first (an untouched key, a stale change, a
    replay), every snapshot row of the key passes through verbatim. The
    inline tie guard is a ``(key, seq)`` window over the same exchange
    (key partitioning satisfies the finer clustering). The whole
    snapshot therefore crosses the one exchange, even when the batch is
    small and sized (read from parquet), where a broadcast anti join
    would not shuffle it; callers that can prune (the bucketed layouts:
    touched buckets on commit, ``pending_buckets`` on a merge-on-read
    fold) pass only those rows.

    Built as SQL text: the tagged union, the ranking windows, the tie
    guard and the op check are each one parsed expression
    (``selectExpr``/``where``), not a Column tree. Every Column call is
    at least one py4j round trip from the driver (several more with
    PySpark's call-site capture on), and a table commit runs this on
    every micro-batch: as a Column tree the merge alone cost about 650
    round trips per commit; as text the parser builds the same plan
    in-JVM. Identifiers are backtick-quoted (:func:`quote_ident`) and
    literals rendered by :func:`sql_literal`, so any column name and
    any error-message text parse as themselves."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    cols = list(snapshot.columns)
    payload = [c for c in cols if c not in (seq_col, deleted_col)]
    missing = [c for c in payload + [seq_col, op_col]
               if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing columns: {missing}")
    what = "merge_cdc_fenced"
    q = quote_ident
    seq = q(seq_col)
    if min_seq is not None:
        changes = changes.where(f"{seq} > {int(min_seq)}")
    if check_unique_seq and check_unique_seq != "inline":
        _check_unique_seq(changes, key_cols, seq_col, what)
    # op validation rides the projection of EVERY change — a garbage op
    # raises even when a later seq supersedes it
    is_delete = f"({_op_checked(op_col, what)}) = 'delete'"
    # both sides project ``cols`` in one order, so a positional union
    both = snapshot.selectExpr(*map(q, cols), "0 AS _cdc_src").union(
        changes.selectExpr(*[f"{is_delete} AS {q(c)}" if c == deleted_col
                             else q(c) for c in cols], "1 AS _cdc_src"))
    keys = ", ".join(map(q, key_cols))
    ranked = f"PARTITION BY {keys} ORDER BY {seq} DESC, _cdc_src ASC"
    whole = (f"{ranked} ROWS BETWEEN UNBOUNDED PRECEDING "
             f"AND UNBOUNDED FOLLOWING")
    windows = [f"row_number() OVER ({ranked}) AS _cdc_rn",
               f"first(_cdc_src) OVER ({whole}) AS _cdc_top"]
    # a change wins its key: keep that one row; else the snapshot rows
    keep = "CASE WHEN _cdc_top = 1 THEN _cdc_rn = 1 ELSE _cdc_src = 0 END"
    if check_unique_seq == "inline":
        windows += [
            f"sum(_cdc_src) OVER (PARTITION BY {keys}, {seq}) AS _cdc_ties",
            # null-safe: max skips NULLs, so a NULL seq is a key's top
            # change only when all of its changes have one
            f"max(CASE WHEN _cdc_src = 1 THEN {seq} END) OVER ({whole}) "
            f"AS _cdc_top_change"]
        msg = sql_literal(
            f"{what}: (key, {seq_col}) must be unique within a change "
            f"batch — 'last change wins' is nondeterministic under ties. "
            f"Duplicated: ")
        dup = ", ".join(f"CAST({c} AS STRING)"
                        for c in [*map(q, key_cols), seq])
        keep = (f"CASE WHEN _cdc_src = 1 AND {seq} <=> _cdc_top_change "
                f"AND _cdc_ties > 1 THEN raise_error(concat({msg}, "
                f"concat_ws(',', {dup}))) ELSE {keep} END")
    return (both.selectExpr("*", *windows).where(keep)
            .selectExpr(*map(q, cols)))


def apply_cdc_sql(snapshot_sql: str, changes_sql: str, key_cols,
                  payload_cols, seq_col: str = "seq",
                  op_col: str = "op") -> str:
    """DuckDB twin of :func:`apply_cdc` — same last-op-per-key window,
    anti pass-through (NULL-safe, like the Spark side), and delete
    filtering."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    payload_cols = list(payload_cols)
    keys = ", ".join(key_cols)
    cols = ", ".join(payload_cols)
    on = " AND ".join(f"s.{c} IS NOT DISTINCT FROM t.{c}"
                      for c in key_cols)
    return f"""
WITH snap AS ({snapshot_sql}), chg AS ({changes_sql}),
last AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY {keys} ORDER BY {seq_col} DESC) AS _cdc_rn
    FROM chg
  ) WHERE _cdc_rn = 1
)
SELECT {cols} FROM snap s
WHERE NOT EXISTS (SELECT 1 FROM last t WHERE {on})
UNION ALL
SELECT {cols} FROM last WHERE {op_col} <> 'delete'
"""
