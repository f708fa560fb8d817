"""FilterCandidates — anti-membership filter on candidate ids.

Reference semantics: drop candidate ids present in a filter column; output is
a single ``filtered_ids`` column
(reference: merlin/systems/dag/ops/session_filter.py:24-162, kernel at
:158-162 ``candidate_ids.values[~np.isin(candidate_ids, filter_ids)]``;
output schema :97-119).

Spark-first, two physical forms — both pure Catalyst, zero Python:

- **array form** (per-request list columns, the reference's own shape):
  ``F.array_except(candidates, seen)`` — per-row JVM kernel, no shuffle at
  all. NOTE ``array_except`` also dedups the left side; the reference's
  ``np.isin`` keeps duplicates, so we provide ``keep_duplicates=True`` via a
  higher-order ``filter`` + broadcast-able containment instead.
- **relational form** (exploded candidate rows vs a seen-set table):
  ``candidates LEFT ANTI JOIN seen`` — at 100 TB this is the scalable shape;
  Spark broadcasts the smaller side automatically under AQE, and the anti
  join supports null-safe semantics and partial pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.functions.sqltext import quote_ident
from systems_spark.operators.base import Operator
from systems_spark.schema import Schema, ColumnSchema


class FilterCandidates(Operator):
    """Array-column form: one row per request, candidates and seen ids as
    ``array`` columns → ``filtered_ids`` array column.

    Parameters
    ----------
    filter_out : str
        Column holding ids to remove (reference ctor arg ``filter_out``,
        session_filter.py:37-45).
    input_col : str
        Column holding candidate ids.
    keep_duplicates : bool
        Preserve duplicate candidates like the reference's ``np.isin`` kernel
        (default True). False uses ``array_except`` (set semantics, dedups).
    """

    def __init__(self, filter_out: str, input_col: str = "candidate_ids",
                 output_col: str = "filtered_ids", keep_duplicates: bool = True):
        self.filter_out = filter_out
        self.input_col = input_col
        self.output_col = output_col
        self.keep_duplicates = keep_duplicates
        self.requires = (filter_out, input_col)

    def transform(self, df: DataFrame) -> DataFrame:
        cand, seen = F.col(self.input_col), F.col(self.filter_out)
        if self.keep_duplicates:
            filtered = F.filter(cand, lambda x: ~F.array_contains(seen, x))
        else:
            filtered = F.array_except(cand, seen)
        out = df.withColumn(self.output_col, filtered)
        if self.output_col not in (self.input_col, self.filter_out):
            out = out.drop(self.input_col, self.filter_out)
        return out

    def compute_output_schema(self, input_schema: Schema) -> Schema:
        base = input_schema.excluding([self.input_col, self.filter_out])
        cand = input_schema[self.input_col]
        return base + Schema([cand.with_name(self.output_col)])

    def get_params(self):
        return {"filter_out": self.filter_out, "input_col": self.input_col,
                "output_col": self.output_col, "keep_duplicates": self.keep_duplicates}


class FilterCandidatesRelational(Operator):
    """Relational form: candidates as rows, seen-set as a second table.

    ``transform`` drops every candidate row whose ``(keys)`` appear in the
    seen table — a LEFT ANTI join, the 100 TB-safe shape of
    session_filter.py:161. When the seen table is small it broadcast-joins
    (no shuffle of the candidate side).
    """

    def __init__(self, seen_df: DataFrame = None, on=("id",), broadcast: bool = True):
        self.seen_df = seen_df
        self.on = [on] if isinstance(on, str) else list(on)
        self.broadcast = broadcast

    def transform(self, df: DataFrame) -> DataFrame:
        # no dedup: an anti join's output does not depend on duplicate
        # rows on its right side, and Catalyst would not remove one
        seen = self.seen_df.selectExpr(*map(quote_ident, self.on))
        if self.broadcast:
            seen = F.broadcast(seen)
        return df.join(seen, on=self.on, how="left_anti")

    def get_params(self):
        return {"on": self.on, "broadcast": self.broadcast}

    def save_artifacts(self, path: str) -> None:
        self.seen_df.select(*self.on).dropDuplicates(self.on).write.mode(
            "overwrite"
        ).parquet(f"{path}/seen.parquet")

    def load_artifacts(self, path: str, spark=None) -> None:
        self.seen_df = spark.read.parquet(f"{path}/seen.parquet")
