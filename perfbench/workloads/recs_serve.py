"""recs_serve: the paper's four-stage recommender, one request batch per op.

request batch of B users -> EmbeddingLookup (user vector) -> QueryANN (exact,
inner product, top-``ANN_TOPK``) -> FilterCandidatesRelational (anti-join
against a seen-history pinned at set-up) -> QueryFeatureTable (item label)
-> UnrollFeatures (user bias) -> score -> SoftmaxSampling (top-``TOPK``),
then collect. Bound by the driver, Catalyst and the AQE job count.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workloads.base import Workload

BATCH = 64          # users per request batch (B)
N_ITEMS = 2000      # catalog size
N_USERS = 4000
DIM = 16
ANN_TOPK = 50
TOPK = 10
SEEN_FROM_TOP = 10  # seen items drawn from the user's true top-ANN_TOPK
SEEN_RANDOM = 10
N_BATCHES = 400
WARMUP = 2
TEMPERATURE = 20.0

STAGES = ("embedding_lookup", "query_ann", "filter_candidates",
          "query_feature_table", "unroll_features", "softmax_sampling")


def _vectors(arr) -> pa.Array:
    return pa.array([row.tolist() for row in arr], type=pa.list_(pa.float32()))


class RecsServe(Workload):
    name = "recs_serve"
    metric_ops = 5

    def __init__(self, seed: int, data_dir: str):
        rng = np.random.default_rng(seed)
        items = rng.standard_normal((N_ITEMS, DIM)).astype(np.float32)
        users = rng.standard_normal((N_USERS, DIM)).astype(np.float32)
        labels = rng.integers(0, 10, N_ITEMS)
        bias = rng.integers(0, 5, N_USERS)
        top = np.argpartition(-(users @ items.T), ANN_TOPK, axis=1)[:, :ANN_TOPK]
        self.seen = {
            u: set(rng.choice(top[u], SEEN_FROM_TOP, replace=False).tolist())
            | set(rng.choice(N_ITEMS, SEEN_RANDOM, replace=False).tolist())
            for u in range(N_USERS)}
        self.batches = [rng.choice(N_USERS, BATCH, replace=False).tolist()
                        for _ in range(N_BATCHES)]
        self.paths = {k: os.path.join(data_dir, f"recs_{k}.parquet")
                      for k in ("items", "users", "seen")}
        pq.write_table(pa.table({
            "item_id": pa.array(np.arange(N_ITEMS), pa.int64()),
            "vec": _vectors(items),
            "label": pa.array(labels, pa.int64())}), self.paths["items"])
        pq.write_table(pa.table({
            "user_id": pa.array(np.arange(N_USERS), pa.int64()),
            "vec": _vectors(users),
            "bias": pa.array(bias, pa.int64())}), self.paths["users"])
        pairs = sorted((u, i) for u, s in self.seen.items() for i in s)
        pq.write_table(pa.table({
            "user_id": pa.array([u for u, _ in pairs], pa.int64()),
            "item_id": pa.array([i for _, i in pairs], pa.int64())}),
            self.paths["seen"])
        self.sizes = {"batch_users": BATCH, "catalog_items": N_ITEMS,
                      "users": N_USERS, "dim": DIM, "ann_topk": ANN_TOPK,
                      "topk": TOPK, "seen_rows": len(pairs)}
        self.state = None

    # -- set-up --------------------------------------------------------
    def setup(self, spark, state_dir: str):
        from systems_spark.pinning import pin

        self.spark = spark
        t = time.perf_counter()
        self.state = {k: pin(spark.read.parquet(p), eager=True)
                      for k, p in self.paths.items()}
        self.pin_s = time.perf_counter() - t
        return [N_BATCHES - 1 - j for j in range(WARMUP)]

    def units_per_op(self, i: int) -> int:
        return BATCH

    # -- the pipeline --------------------------------------------------
    def _stages(self):
        from pyspark.sql import functions as F

        from systems_spark.operators import (EmbeddingLookup, QueryANN,
                                             QueryFeatureTable,
                                             SoftmaxSampling, UnrollFeatures)
        from systems_spark.operators.filter_candidates import \
            FilterCandidatesRelational

        st = self.state
        ann = QueryANN(st["items"], item_id_col="item_id", item_vec_col="vec",
                       query_vec_col="user_vec", query_id_col="user_id",
                       topk=ANN_TOPK, metric="ip")
        sample = SoftmaxSampling("score", temperature=TEMPERATURE, topk=TOPK,
                                 input_col="item_id", request_col="user_id",
                                 seed="0")
        return [
            EmbeddingLookup(st["users"], "user_id", "vec",
                            output_col="user_vec"),
            lambda d: ann(d).select("user_id",
                                    F.col("ann_id").alias("item_id"),
                                    "ann_score"),
            FilterCandidatesRelational(st["seen"], on=["user_id", "item_id"]),
            QueryFeatureTable(st["items"], "item_id", features=["label"],
                              prefix="item_"),
            UnrollFeatures("user_id", st["users"], ["bias"], prefix="user_"),
            lambda d: sample(d.withColumn("score", F.round(
                F.col("ann_score") + F.col("item_label") * 0.01
                + F.col("user_bias") * 0.001, 6)))
            .select("user_id", "item_id", "score", "sample_rank"),
        ]

    def _requests(self, i: int):
        return self.spark.createDataFrame(
            [(int(u),) for u in self.batches[i % N_BATCHES]], "user_id long")

    def _composed(self, i: int):
        df = self._requests(i)
        for stage in self._stages():
            df = stage(df)
        return df, df.collect()

    def op(self, i: int, tracer=None):
        if tracer is None:
            return self._composed(i)[1]
        with tracer.span(self.name) as sp:
            df, rows = self._composed(i)
        self._ops.append(([sp], [tracer.catalyst_ms(df)]))
        return rows

    def trace_after(self, i: int, tracer) -> None:
        self._rdds.append(tracer.persistent_rdds())
        self._isolated(i, tracer, self._ops[-1][0][0].wall_s)

    def _isolated(self, i: int, tracer, composed_s: float) -> None:
        import layers
        from systems_spark.pinning import unpin

        pins = layers.run_isolated(tracer, zip(STAGES, self._stages()),
                                   self._requests(i), self._stage)
        ann, kept = (pins[STAGES.index(n)].count()
                     for n in ("query_ann", "filter_candidates"))
        for df in pins:
            unpin(df)
        self._keep.append(kept / ann)
        self._gap.append(
            sum(self._stage[n][-1].wall_s for n in STAGES) - composed_s)

    # -- checks --------------------------------------------------------
    def check(self, i: int, rows) -> bool:
        batch = self.batches[i % N_BATCHES]
        per_user = {u: [] for u in batch}
        for r in rows:
            u, item = r["user_id"], r["item_id"]
            if (u not in per_user or item in self.seen[u]
                    or not 0 <= item < N_ITEMS):
                return False
            per_user[u].append(r["sample_rank"])
        # ANN_TOPK - |seen| >= TOPK, so every user gets exactly TOPK rows
        return all(sorted(r) == list(range(1, TOPK + 1))
                   for r in per_user.values())

    def reference_check(self) -> bool:
        """Batch 0 through the pipeline, compared row for row with an
        independent DuckDB evaluation of the same query."""
        import duckdb

        from systems_spark.functions.hashing import unit_uniform_sql
        from systems_spark.functions.similarity import dot_product_sql

        users = ", ".join(str(int(u)) for u in self.batches[0])
        key = unit_uniform_sql(
            "CAST(user_id AS VARCHAR) || '|' || CAST(item_id AS VARCHAR)",
            salt="0")
        p = self.paths
        sql = f"""
        WITH req AS (SELECT unnest([{users}])::BIGINT AS user_id),
        uv AS (SELECT r.user_id, u.vec AS user_vec, u.bias
               FROM req r JOIN read_parquet('{p["users"]}') u USING (user_id)),
        ann AS (
          SELECT uv.user_id, i.item_id,
                 {dot_product_sql("uv.user_vec", "i.vec")} AS ann_score
          FROM uv CROSS JOIN read_parquet('{p["items"]}') i
          QUALIFY row_number() OVER (PARTITION BY uv.user_id
                    ORDER BY ann_score DESC, i.item_id ASC) <= {ANN_TOPK}),
        kept AS (
          SELECT a.* FROM ann a ANTI JOIN read_parquet('{p["seen"]}') s
          ON a.user_id = s.user_id AND a.item_id = s.item_id),
        scored AS (
          SELECT k.user_id, k.item_id,
                 round(k.ann_score + i.label * 0.01::DOUBLE
                       + uv.bias * 0.001::DOUBLE, 6) AS score
          FROM kept k JOIN read_parquet('{p["items"]}') i USING (item_id)
          JOIN uv USING (user_id))
        SELECT user_id, item_id, score,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY -ln({key}) / exp({TEMPERATURE} * score),
                          item_id) AS sample_rank
        FROM scored QUALIFY sample_rank <= {TOPK}"""
        want = sorted(duckdb.sql(sql).fetchall())
        got = sorted(tuple(r) for r in self.op(0))
        return got == want

    # -- traced run ----------------------------------------------------
    def trace_begin(self, tracer) -> None:
        self._ops, self._rdds, self._keep, self._gap = [], [], [], []
        self._stage = {n: [] for n in STAGES}

    def trace_end(self, tracer) -> dict:
        import layers

        vals = layers.op_metrics(self._ops)
        vals.update(layers.stage_metrics("operators", self._stage))
        vals["operators.filter_keep_frac"] = statistics.median(self._keep)
        vals["operators.fusion_gap_s"] = statistics.median(self._gap)
        vals["pinning.persistent_rdds_after_op"] = max(self._rdds)
        vals["pinning.pin_s"] = self.pin_s
        return layers.with_units(vals)
