"""UnrollFeatures — broadcast per-request features onto candidate rows.

Reference semantics: repeat each 1-row "unroll" column (user features) once
per candidate item row, optionally renaming with a prefix
(reference: merlin/systems/dag/ops/unroll_features.py:25-77, kernel
``np.repeat(target, num_items, axis=0)`` at :53-66, prefix rename :41-51).

Spark-first: ``np.repeat`` over a batch is exactly a **broadcast hash join**
on the request key — the user-features side is tiny relative to candidates,
so ``F.broadcast`` pins the no-shuffle plan (candidates stream through
map-side; at 100 TB the candidate side never moves). The feature side's
projection is one parsed SQL ``selectExpr``: serving builds it on every
request, and a Column per renamed feature is a py4j round trip each.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.functions.sqltext import quote_ident
from systems_spark.operators.base import Operator
from systems_spark.schema import Schema


class UnrollFeatures(Operator):
    """Join ``unroll_cols`` from a per-request features frame onto the
    flowing candidate frame.

    Parameters
    ----------
    request_col : join key present in both frames (the engine's explicit
        generalization of the reference's one-request-per-batch assumption).
    features_df : frame holding one row per request with the unroll columns.
    unroll_cols : columns to broadcast onto candidates
        (reference ctor ``unroll_cols``, unroll_features.py:30-35).
    prefix : optional rename prefix (reference ``unrolled_prefix``, :41-51).
    """

    def __init__(self, request_col: str = "request_id", features_df: DataFrame = None,
                 unroll_cols: Iterable[str] = (), prefix: str = ""):
        self.request_col = request_col
        self.features_df = features_df
        self.unroll_cols = list(unroll_cols)
        self.prefix = prefix
        self.requires = (request_col,)

    def transform(self, df: DataFrame) -> DataFrame:
        feats = self.features_df.selectExpr(
            quote_ident(self.request_col),
            *[f"{quote_ident(c)} AS {quote_ident(self.prefix + c)}"
              for c in self.unroll_cols],
        )
        return df.join(F.broadcast(feats), on=self.request_col, how="inner")

    def compute_output_schema(self, input_schema: Schema) -> Schema:
        feat_schema = Schema.of(self.features_df).select(self.unroll_cols)
        renamed = Schema(
            c.with_name(f"{self.prefix}{c.name}" if self.prefix else c.name)
            for c in feat_schema
        )
        return input_schema + renamed

    def get_params(self):
        return {"request_col": self.request_col, "unroll_cols": self.unroll_cols,
                "prefix": self.prefix}

    def save_artifacts(self, path: str) -> None:
        self.features_df.write.mode("overwrite").parquet(f"{path}/features.parquet")

    def load_artifacts(self, path: str, spark=None) -> None:
        self.features_df = spark.read.parquet(f"{path}/features.parquet")
