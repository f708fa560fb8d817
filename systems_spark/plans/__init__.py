"""Plan introspection & scale guardrails.

The reference's "optimizer" is schema propagation + selector-based column
pruning (SURVEY.md §4.1); Catalyst subsumes all of it. What a 100 TB engine
still needs is *assertions* that the optimizer produced the plan you
intended — a broadcast that silently becomes a sort-merge join, or a filter
that stops reaching the scan, is a 100× regression that correctness tests
never see. These helpers make plan shape testable.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def count_exchanges(df: DataFrame) -> int:
    """Number of Exchange NODES in the plan — the shuffle count that
    matters most at scale. Formatted explain prints every node twice
    (tree line + numbered details section), so count only the numbered
    detail headers; a plain-explain fallback counts tree lines."""
    plan = formatted_plan(df)
    nodes = re.findall(r"\(\d+\) Exchange\b", plan)
    if nodes:
        return len(nodes)
    return len(re.findall(r"\bExchange\b", plan))


def codegen_fallbacks(df: DataFrame) -> list:
    """Expressions of the executed plan that run outside generated code:
    every ``CodegenFallback``, such as the higher-order functions
    ``aggregate``, ``zip_with`` and ``transform``. Whole-stage codegen
    leaves the operator that holds one out of its generated stage, and
    the interpreter evaluates the expression row by row (a higher-order
    function element by element). A fallback that slips into a hot
    projection is a silent slowdown no result check sees.

    Returns ``"<operator>: <expression>"`` strings in plan order, the
    outermost fallback of each expression tree only (its children run
    inside it). Empty means every expression compiles."""
    from py4j.java_gateway import get_java_class

    jvm = df.sparkSession._jvm
    fallback = get_java_class(
        jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback)
    out = []

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def visit(op, e):
        if fallback.isInstance(e):
            out.append(f"{op}: {e.prettyName()}")
            return
        for c in seq(e.children()):
            visit(op, c)

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        for e in seq(node.expressions()):
            visit(node.nodeName(), e)
        for c in seq(node.children()) + seq(node.innerChildren()):
            walk(c)  # innerChildren: subqueries

    walk(df._jdf.queryExecution().executedPlan())
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or \
        "BroadcastNestedLoopJoin" in formatted_plan(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in formatted_plan(df)


def pushed_filters(df: DataFrame) -> list:
    """Filters that reached the parquet scan (predicate pushdown proof)."""
    out = []
    for line in formatted_plan(df).splitlines():
        m = re.search(r"PushedFilters: \[(.*)\]", line)
        if m and m.group(1).strip():
            out.extend(p.strip() for p in m.group(1).split(","))
    return out


def scan_columns(df: DataFrame) -> list:
    """Columns actually read from the scan (column-pruning proof)."""
    cols = []
    for line in formatted_plan(df).splitlines():
        m = re.search(r"ReadSchema: struct<(.*)>", line)
        if m:
            cols.extend(c.split(":")[0].strip() for c in m.group(1).split(",") if c)
    return cols


def assert_no_cartesian(df: DataFrame) -> None:
    plan = formatted_plan(df)
    if "CartesianProduct" in plan:
        raise AssertionError("plan contains a CartesianProduct:\n" + plan)


def configure_for_scale(spark, total_cores: int,
                        max_partition_bytes: int = 128 * 1024 * 1024,
                        shuffle_partitions_per_core: int = 2) -> dict:
    """Apply SCALE.md's global posture as session config and return what
    was set (so launch scripts can log it).

    - AQE + partition coalescing + skew-join splitting on: runtime
      re-planning is the safety net every static choice below leans on.
    - ``spark.sql.shuffle.partitions`` = ``per_core × total_cores``
      (floor 64): oversubscribe so AQE coalesces down instead of tasks
      spilling up. For 1000 executors × 8 cores that's 16k initial
      partitions.
    - ``spark.sql.files.maxPartitionBytes`` bounds scan-task input; size
      it DOWN (e.g. 32 MB) for tables with multimodal binary payloads so
      a task's decoded batch fits executor memory — the operator-level
      ``target_batch_bytes`` repartition complements, not replaces, this.

    Deliberately NOT here: executor memory/core counts (cluster-manager
    territory) and anything per-query — this is the once-per-session
    baseline."""
    if total_cores < 1:
        raise ValueError("total_cores must be >= 1")
    applied = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions":
            str(max(64, shuffle_partitions_per_core * total_cores)),
        "spark.sql.files.maxPartitionBytes": str(int(max_partition_bytes)),
    }
    for k, v in applied.items():
        spark.conf.set(k, v)
    return applied


def salted_group_count(df: DataFrame, key_col: str, n_salts: int = 16,
                       count_col: str = "n") -> DataFrame:
    """Skew-safe distributed count: two-stage aggregation with a salt.

    ``groupBy(key)`` on a hot key puts the whole key on one task; salting
    splits it across ``n_salts`` partial aggregates, then merges — the
    standard remedy when AQE's skew handling doesn't apply (aggregations).
    """
    from pyspark.sql import functions as F

    salted = df.withColumn("_salt", (F.rand() * n_salts).cast("int"))
    partial = salted.groupBy(key_col, "_salt").agg(F.count(F.lit(1)).alias("_pc"))
    return partial.groupBy(key_col).agg(F.sum("_pc").cast("long").alias(count_col))


def salted_join(left: DataFrame, right: DataFrame, key_col: str,
                n_salts: int = 16, how: str = "inner") -> DataFrame:
    """Skew-safe equi-join: salt the (large, skewed) LEFT side, replicate
    the (smaller) RIGHT side once per salt, join on (key, salt).

    A hot key in a plain shuffle join lands every one of its rows on ONE
    task; salting fans it out across ``n_salts`` tasks at the cost of
    replicating the right side n_salts×. Prefer AQE's skew-join handling
    (``spark.sql.adaptive.skewJoin.enabled``, on by default) when splits
    suffice — this helper is for the cases AQE can't fix: a single key too
    hot for any split, or a non-shuffle-join plan you must force.

    Row multiplicity is exactly the plain join's: each left row carries one
    salt, and the right replica set contains each right row once per salt.
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (right/outer "
                         "would need BOTH sides salted on the hot keys)")
    l_salted = left.withColumn("_salt", (F.rand() * n_salts).cast("int"))
    r_replicated = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return l_salted.join(
        r_replicated, on=[key_col, "_salt"], how=how
    ).drop("_salt")
