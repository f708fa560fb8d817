"""SoftmaxSampling — weighted top-k sampling without replacement.

Reference semantics (merlin/systems/dag/ops/softmax_sampling.py:79-117):
Efraimidis–Spirakis exponential-sort sampling — weights are the softmax of
the scores ``w = exp(T*s) / Σs``, sort keys ``-ln(U)/w`` ascending, take the
first ``topk`` ids and scores.

Spark-first redesign:

1. **Per-request set semantics.** The reference assumes one request per
   batch (normalizes over the whole batch, :97). Here the request id is an
   explicit key: a ``Window.partitionBy(request)`` ranks candidates within
   each request — millions of requests sample in parallel with ONE shuffle
   (or zero if the input is already hash-partitioned by request).

2. **Deterministic randomness.** The reference's RNG is unseeded (:105) and
   untestable. We derive U from a portable md5 hash of (salt, request, id)
   (functions/hashing.py) — bit-reproducible across engines AND across Spark
   task retries (critical for exactly-once semantics at scale).

3. **No aggregation in the sort key.** The softmax denominator ``Σs`` is a
   positive per-request constant, so it scales every key equally and cannot
   change the ranking. We sort by ``-ln(U) / exp(T*s)`` directly — this
   removes a per-group aggregate (a second window pass) from the plan while
   producing the identical sample. Output scores are the ORIGINAL relevance
   values (reference returns original scores, :111), so no float aggregation
   appears anywhere in the operator → oracle-exact.

4. **One ranking expression, as SQL text.** The sort key goes inside the
   ``row_number() OVER (PARTITION BY request ORDER BY key, id)`` text, and
   U is the SQL-text twin of the md5 uniform
   (``hashing.unit_uniform_expr``). Built from Column objects, the key is
   a few dozen client calls, each a py4j round trip plus an eager
   analysis, and serving pays them on every request; parsed text is one
   ``selectExpr`` and one ``where``, with the same plan and bit-identical
   keys.

Input shape: exploded rows ``(request_col, id_col, relevance_col, ...)``.
Output: top-k rows per request with ``sample_rank`` (1-based), or per-request
arrays ``ordered_ids``/``ordered_scores`` when ``as_arrays=True`` (the
reference's (1, k) output shape, :112-113).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.functions.hashing import unit_uniform_expr
from systems_spark.functions.sqltext import quote_ident, sql_literal
from systems_spark.operators.base import Operator
from systems_spark.schema import Schema


class SoftmaxSampling(Operator):
    def __init__(self, relevance_col: str, temperature: float = 20.0, topk: int = 10,
                 input_col: str = "candidate_ids", request_col: str = "request_id",
                 seed: str = "0", as_arrays: bool = False):
        self.relevance_col = relevance_col
        self.temperature = float(temperature)
        self.topk = int(topk)
        self.input_col = input_col
        self.request_col = request_col
        self.seed = str(seed)
        self.as_arrays = as_arrays
        self.requires = (relevance_col, input_col, request_col)

    def _quoted(self):
        return (quote_ident(c) for c in (
            self.request_col, self.input_col, self.relevance_col))

    def sort_key(self) -> str:
        """SQL text of -ln(U)/exp(T*s): ascending order == weighted
        sampling w/o replacement."""
        req, item, rel = self._quoted()
        u = unit_uniform_expr(f"concat_ws('|', {req}, {item})", salt=self.seed)
        return f"-ln({u}) / exp({sql_literal(self.temperature)} * {rel})"

    def transform(self, df: DataFrame) -> DataFrame:
        req, item, rel = self._quoted()
        ranked = df.selectExpr(
            "*", f"row_number() OVER (PARTITION BY {req} ORDER BY "
                 f"{self.sort_key()} ASC, {item} ASC) AS sample_rank",
        ).where(f"sample_rank <= {self.topk}")
        if not self.as_arrays:
            return ranked
        return (
            ranked.groupBy(F.col(req))
            .agg(F.expr(f"array_sort(collect_list(struct(sample_rank, "
                        f"{item}, {rel})))").alias("_pairs"))
            .selectExpr(req, f"_pairs.{item} AS ordered_ids",
                        f"_pairs.{rel} AS ordered_scores")
        )

    def compute_output_schema(self, input_schema: Schema) -> Schema:
        from systems_spark.schema import ColumnSchema

        if self.as_arrays:
            return Schema(
                [
                    input_schema[self.request_col],
                    ColumnSchema("ordered_ids", input_schema[self.input_col].dtype,
                                 is_list=True, dims=(None, self.topk)),
                    ColumnSchema("ordered_scores", input_schema[self.relevance_col].dtype,
                                 is_list=True, dims=(None, self.topk)),
                ]
            )
        from systems_spark.schema import ColumnSchema as CS

        return input_schema + Schema([CS("sample_rank", "int32")])

    def get_params(self):
        return {
            "relevance_col": self.relevance_col, "temperature": self.temperature,
            "topk": self.topk, "input_col": self.input_col,
            "request_col": self.request_col, "seed": self.seed,
            "as_arrays": self.as_arrays,
        }
