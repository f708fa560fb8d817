"""EmbeddingLookup — id → embedding vector column.

Reference semantics: ``NumpyEmbeddingOperator`` appends the embedding row for
each id as a new column (reference usage:
tests/unit/systems/ops/embedding_op.py:25-36 — 100×50 table, lookup of ids
[1,2,3] returns (3,50) embeddings with the id column preserved).

Spark-first: a broadcast join against the embedding table; the vector is an
``array<float>`` column. At 100 TB the embedding table (items) is usually
small enough to broadcast (e.g. 10M × 128 float ≈ 5 GB is NOT — then
``broadcast=False`` and a bucketed table co-locates the join instead).

The deduped table side is built through ``pinning.prepared``: over a
pinned embedding table it is built and pinned once, on the first request,
and every later request joins that view with no shuffle. Which of several
rows with one id is kept is arbitrary, but over a pinned table it is fixed
for the pin's lifetime; over an unpinned table it may differ per request.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.functions.sqltext import quote_ident
from systems_spark.operators.base import Operator
from systems_spark.pinning import prepared
from systems_spark.schema import Schema


class EmbeddingLookup(Operator):
    def __init__(self, embeddings_df: DataFrame = None, id_col: str = "id",
                 embedding_col: str = "embedding", output_col: str = "embedding",
                 broadcast: bool = True, how: str = "left"):
        self.embeddings_df = embeddings_df
        self.id_col = id_col
        self.embedding_col = embedding_col
        self.output_col = output_col
        self.broadcast = broadcast
        self.how = how
        self.requires = (id_col,)

    def _dedup(self, embeddings: DataFrame) -> DataFrame:
        return embeddings.selectExpr(
            quote_ident(self.id_col),
            f"{quote_ident(self.embedding_col)} AS {quote_ident(self.output_col)}",
        ).dropDuplicates([self.id_col])

    def transform(self, df: DataFrame) -> DataFrame:
        emb = prepared(self.embeddings_df,
                       ("embedding_lookup", self.id_col, self.embedding_col,
                        self.output_col), self._dedup)
        if self.broadcast:
            emb = F.broadcast(emb)
        return df.join(emb, on=self.id_col, how=self.how)

    def compute_output_schema(self, input_schema: Schema) -> Schema:
        emb = Schema.of(self.embeddings_df).select([self.embedding_col])
        col = next(iter(emb)).with_name(self.output_col)
        return input_schema + Schema([col])

    def get_params(self):
        return {"id_col": self.id_col, "embedding_col": self.embedding_col,
                "output_col": self.output_col, "broadcast": self.broadcast,
                "how": self.how}

    def save_artifacts(self, path: str) -> None:
        self.embeddings_df.write.mode("overwrite").parquet(f"{path}/embeddings.parquet")

    def load_artifacts(self, path: str, spark=None) -> None:
        self.embeddings_df = spark.read.parquet(f"{path}/embeddings.parquet")
