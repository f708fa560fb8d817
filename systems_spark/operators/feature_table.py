"""QueryFeatureTable — feature-store point-lookup join.

Reference semantics (QueryFeast): for each entity id fetch scalar + list
features from a feature view; optional output prefix; optional id passthrough;
raises on an empty id set
(reference: merlin/systems/dag/ops/feast.py:22-290 — factory :32-112,
lookup kernel :196-279, dtype map :12-19, empty-ids raise :215-219).

Spark-first: the Feast *offline store is parquet already*
(reference tests/integration/feast/test_int_feast.py:40-67), so a feature
view here is any DataFrame (parquet/Delta table). The point lookup is a
LEFT broadcast join on the entity key — requests stream map-side against the
broadcast feature table; list features are plain ``ArrayType`` columns (no
values/offsets bookkeeping, see SURVEY.md §1.1). For feature tables too big
to broadcast, pass ``broadcast=False`` → AQE picks shuffled hash join, and a
bucketed feature table co-locates the join with zero shuffle of the big side.

For streaming serving the same operator works as a stream-static join
(streaming/ runtime).

The deduped feature side is built through ``pinning.prepared``: over a
pinned feature table it is built and pinned once, on the first request,
and every later request joins that view with no shuffle.
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.functions.sqltext import quote_ident
from systems_spark.operators.base import Operator
from systems_spark.pinning import prepared
from systems_spark.schema import Schema


class QueryFeatureTable(Operator):
    def __init__(self, features_df: Optional[DataFrame] = None, entity_col: str = "id",
                 features: Optional[Iterable[str]] = None, prefix: str = "",
                 include_id: bool = True, broadcast: bool = True,
                 how: str = "left", strict: bool = False):
        #: strict=True reproduces QueryFeast's raise on an empty entity-id
        #: set (feast.py:215-219) — costs one count() action at transform
        self.strict = strict
        self.features_df = features_df
        self.entity_col = entity_col
        self.features = list(features) if features is not None else None
        self.prefix = prefix
        self.include_id = include_id
        self.broadcast = broadcast
        self.how = how
        self.requires = (entity_col,)

    def _columns(self) -> list:
        if self.features is not None:
            return self.features
        return [c for c in self.features_df.columns if c != self.entity_col]

    def _dedup(self, features: DataFrame) -> DataFrame:
        sel = [quote_ident(self.entity_col)] + [
            f"{quote_ident(c)} AS {quote_ident(self.prefix + c)}"
            for c in self._columns()
        ]
        # one row per entity id, but which of several duplicate rows is
        # kept is arbitrary (not last-write-wins); EmbeddingLookup dedups
        # the same way. Over a pinned table the pick is fixed for the
        # pin's lifetime (the view is pinned once); over an unpinned table
        # it may differ per request. A deterministic pick is still open.
        return features.selectExpr(*sel).dropDuplicates([self.entity_col])

    def _feature_frame(self) -> DataFrame:
        key = ("query_feature_table", self.entity_col,
               tuple(self._columns()), self.prefix)
        return prepared(self.features_df, key, self._dedup)

    def transform(self, df: DataFrame) -> DataFrame:
        if self.strict and df.where(F.col(self.entity_col).isNotNull()).limit(1).count() == 0:
            raise ValueError(
                f"QueryFeatureTable: no non-null {self.entity_col!r} ids in request "
                "(reference parity: feast.py:215-219 raises on empty id set)"
            )
        feats = self._feature_frame()
        if self.broadcast:
            feats = F.broadcast(feats)
        out = df.join(feats, on=self.entity_col, how=self.how)
        if not self.include_id:
            out = out.drop(self.entity_col)
        return out

    def compute_output_schema(self, input_schema: Schema) -> Schema:
        # the lazy build, not the prepared view: a schema costs no job
        feat = Schema.of(self._dedup(self.features_df)).excluding(
            [self.entity_col])
        out = input_schema + feat
        if not self.include_id:
            out = out.excluding([self.entity_col])
        return out

    # -- persistence (Ensemble save/load parity, ensemble.py:80-145) -------
    def get_params(self):
        return {"entity_col": self.entity_col, "features": self.features,
                "prefix": self.prefix, "include_id": self.include_id,
                "broadcast": self.broadcast, "how": self.how, "strict": self.strict}

    def save_artifacts(self, path: str) -> None:
        # RAW frame, not _feature_frame(): prefix/dedup re-apply at load
        self.features_df.write.mode("overwrite").parquet(f"{path}/features.parquet")

    def load_artifacts(self, path: str, spark=None) -> None:
        self.features_df = spark.read.parquet(f"{path}/features.parquet")
