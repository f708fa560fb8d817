"""Exact-integer distributed k-means — deterministic, oracle-gradeable.

Lloyd's algorithm is the workhorse of embedding-space curation
(semantic dedup buckets, IVF coarse quantizers, domain clustering), but
distributed float means are run-order sensitive at the ulp level, which
is why ``QueryANN``'s trained paths default their Lloyd iterations off
and MLlib's KMeans can't be graded bit-for-bit. This variant removes
the float entirely, the repo's integer-micros discipline (χ², HITS,
idf): vectors quantize ONCE to integer micros (round(x·1e6)), distances
are exact integer Σ(Δmicros)² (64-dim unit-ish vectors peak ~2.3e15 —
far inside int64), means are exact integer sums with truncating
division, and ties break to the lower centroid id — so training
replays bit-for-bit on any cluster size AND in the DuckDB twin
(:func:`kmeans_oracle_sql`), at the cost of 1e-6 quantization the
use cases above never notice.

Scale shape per iteration: assignment is a map-side pass against the
broadcast centroid set (no vector shuffle either way), with TWO
interchangeable bit-exact implementations — a Catalyst crossJoin +
integer fold (stays whole-stage-codegen, right for small k·d) and an
Arrow-batched NumPy argmin against the collected centroid matrix
(``mapInPandas``; the same exact int64 arithmetic as
``‖v‖² − 2v·c + ‖c‖²``, ties to the lower centroid id via
cid-sorted argmin-first). At IVF-coarse-quantizer shape (k=256,
d=128, N=200k, local[32]) the fold is the bottleneck: 83.5 s vs
4.9 s per assignment pass (SCALE.md, r10 operator rows), so
``assign_impl="auto"`` switches to NumPy once k·d ≥ 8192. The update
is ONE narrow shuffle of (cluster, pos) partial sums — the
``_ivf_train`` shape with the float mean swapped for exact integers.
Seeding is the deterministic lowest-id rule (document the skew caveat:
clustered low ids seed one region; shuffle ids upstream if that bites).

Reference anchor: the k-means FAISS runs inside ``index.train()`` for
the IVF indexes the reference builds (merlin/systems/dag/ops/faiss.py
``IVF32,Flat``); here it is a first-class, separately gradeable
operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["KMeansMicros", "kmeans_oracle_sql"]

_SCALE = 1_000_000


def _micros(vec_col):
    return F.transform(vec_col,
                       lambda x: F.round(x.cast("double") * _SCALE)
                       .cast("long"))


def _dist2(a, b):
    """Exact integer squared L2 distance between two micros arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, d: acc + d)


class KMeansMicros:
    """``fit`` learns ``k`` integer-micros centroids over ``iters``
    Lloyd rounds; ``assign`` labels a frame with its nearest cluster;
    ``centroid_table`` is the trained artifact in gradeable long form
    (cluster, pos, value_micros)."""

    def __init__(self, k: int = 8, iters: int = 2,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 assign_impl: str = "auto"):
        """Fewer than ``k`` distinct input rows simply yield that many
        centroids (the ``limit(k)`` seed set is the dataset) — no
        padding, no error, matching the SQL twin.

        ``assign_impl``: ``"crossjoin"`` (Catalyst fold),
        ``"numpy"`` (Arrow-batched argmin), or ``"auto"`` (numpy once
        k·d ≥ 8192 — measured crossover, module docstring). Both are
        bit-exact; the choice never changes the trained centroids."""
        if k < 1:
            raise ValueError("k must be >= 1")
        if iters < 0:
            raise ValueError("iters must be >= 0")
        if assign_impl not in ("auto", "crossjoin", "numpy"):
            raise ValueError(f"unknown assign_impl {assign_impl!r}")
        self.k = int(k)
        self.iters = int(iters)
        self.vec_col = vec_col
        self.id_col = id_col
        self.assign_impl = assign_impl
        self._centroids = None  # DataFrame (_km_cid, _km_cv array<long>)

    def _points(self, df: DataFrame) -> DataFrame:
        # a NULL vector has no distance: it must not participate (its
        # NULL distance would sort FIRST under Spark's asc but LAST
        # under DuckDB's — a silent engine split). Dimensions are the
        # caller's contract: a short vector zip_with-pads NULLs into
        # the fold and poisons the distance visibly, not silently.
        return (df.where(F.col(self.vec_col).isNotNull())
                .select(F.col(self.id_col).alias("_km_id"),
                        _micros(F.col(self.vec_col)).alias("_km_v")))

    def _assign(self, pts: DataFrame, cents: DataFrame,
                dim: "int | None" = None) -> DataFrame:
        impl = self.assign_impl
        if impl == "auto":
            impl = ("numpy" if dim is not None and self.k * dim >= 8192
                    else "crossjoin")
        if impl == "numpy":
            return self._assign_numpy(pts, cents)
        # r13 (guide §2.3): the r12 shape was crossJoin(k centroids) +
        # row_number window partitioned by _km_id — an exchange per
        # assignment pass carrying k COPIES of every point vector plus
        # the centroid vectors (k·N wide rows) into a per-point sort,
        # just to pick an argmin. An aggregate picks the same argmin
        # with MAP-SIDE partial combining: min over struct(_km_d,
        # _km_cid, _km_v) is lexicographic — distance asc (NULL first,
        # like the window's NULLS FIRST), then lower cid — so the
        # partial agg collapses the k candidates of each point BEFORE
        # the exchange and the shuffle moves one thin row per point, no
        # sort, identical tie-breaks. (A pure map-side fold over a
        # centroid struct array was tried first and measured 2.9×
        # SLOWER isolated — the k·d-term Catalyst expression evaluates
        # per row without vectorization; the crossJoin+agg keeps
        # whole-stage codegen's vectorized loop.)
        return (pts.crossJoin(F.broadcast(cents))
                .withColumn("_km_d", _dist2(F.col("_km_v"),
                                            F.col("_km_cv")))
                .groupBy("_km_id")
                .agg(F.min(F.struct("_km_d", "_km_cid", "_km_v"))
                     .alias("_b"))
                .select("_km_id",
                        F.col("_b._km_v").alias("_km_v"),
                        F.col("_b._km_cid").alias("_km_cid"),
                        F.col("_b._km_d").alias("_km_d")))

    def _assign_numpy(self, pts: DataFrame, cents: DataFrame) -> DataFrame:
        """The map-side escape hatch for large k·d: centroids collect to
        the driver (k·d longs — the same artifact ``centroid_table``
        exposes) and each Arrow batch computes exact-int64
        ``‖v‖² − 2 v·C^T + ‖C‖²`` with a vectorized argmin. Centroids
        are cid-SORTED so argmin-first reproduces the crossjoin path's
        lower-cid tie break; arithmetic is exact in int64 at the same
        magnitudes the fold path already assumes. Measured 17x faster
        than the fold at k=256/d=128/N=200k (SCALE.md, r10 operator rows)."""
        import numpy as np
        import pandas as pd

        rows = cents.orderBy(F.col("_km_cid").asc()).collect()
        C = np.array([list(r["_km_cv"]) for r in rows], dtype=np.int64)
        cids = np.array([r["_km_cid"] for r in rows], dtype=np.int64)
        spark = pts.sparkSession
        b = spark.sparkContext.broadcast((C, cids))

        def batches(it):
            C_, cids_ = b.value
            c_norm = (C_ * C_).sum(axis=1)
            for pdf in it:
                if not len(pdf):
                    continue
                V = np.stack([np.asarray(v, dtype=np.int64)
                              for v in pdf["_km_v"]])
                d2 = ((V * V).sum(axis=1)[:, None] - 2 * (V @ C_.T)
                      + c_norm[None, :])
                j = np.argmin(d2, axis=1)  # first min = lowest cid
                yield pd.DataFrame({
                    "_km_id": pdf["_km_id"],
                    "_km_v": pdf["_km_v"],
                    "_km_cid": cids_[j],
                    "_km_d": d2[np.arange(len(j)), j]})

        return pts.mapInPandas(
            batches,
            "_km_id long, _km_v array<long>, _km_cid long, _km_d long")

    def _dim(self, pts: DataFrame) -> "int | None":
        if self.assign_impl != "auto":
            return None  # impl is forced — skip the probe job
        head = pts.select(F.size("_km_v").alias("_d")).first()
        return None if head is None else int(head["_d"])

    def fit(self, df: DataFrame) -> "KMeansMicros":
        pts = self._points(df).localCheckpoint(eager=False)
        dim = self._dim(pts)
        cents = (pts.orderBy(F.col("_km_id").asc()).limit(self.k)
                 .select(F.col("_km_id").alias("_km_cid"),
                         F.col("_km_v").alias("_km_cv")))
        for _ in range(self.iters):
            assigned = self._assign(pts, cents, dim=dim)
            means = (assigned
                     .select("_km_cid",
                             F.posexplode("_km_v").alias("_pos", "_val"))
                     .groupBy("_km_cid", "_pos")
                     .agg(F.sum("_val").alias("_s"),
                          F.count(F.lit(1)).alias("_n"))
                     # exact integer mean, truncating toward zero for
                     # the non-negative... values may be negative:
                     # use DIV, which truncates toward zero in BOTH
                     # engines (documented floor/trunc trap)
                     .withColumn("_m", F.expr("_s div _n"))
                     .groupBy("_km_cid")
                     .agg(F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("_pos", "_m"))),
                         lambda s: s["_m"]).alias("_new")))
            # an emptied cluster keeps its previous centroid
            cents = (cents.join(means, on="_km_cid", how="left")
                     .select("_km_cid",
                             F.coalesce(F.col("_new"), F.col("_km_cv"))
                             .alias("_km_cv"))
                     .localCheckpoint(eager=False))
        self._centroids = cents.localCheckpoint(eager=False)
        return self

    def centroid_table(self) -> DataFrame:
        """(cluster, pos, value_micros) — the trained artifact, long
        form so the oracle hashes it directly."""
        if self._centroids is None:
            raise ValueError("fit() before centroid_table()")
        return (self._centroids
                .select(F.col("_km_cid").alias("cluster"),
                        F.posexplode("_km_cv").alias("pos", "value_micros")))

    def assign(self, df: DataFrame, cluster_col: str = "cluster") -> DataFrame:
        """``df`` + nearest-cluster id (exact integer distance, ties to
        the lower centroid id)."""
        if self._centroids is None:
            raise ValueError("fit() before assign()")
        pts = self._points(df)
        lab = (self._assign(pts, self._centroids, dim=self._dim(pts))
               .select(F.col("_km_id").alias(self.id_col),
                       F.col("_km_cid").alias(cluster_col)))
        return df.join(lab, on=self.id_col)


    # -- persistence (the ANN centroid-artifact discipline) ---------------
    def save_artifacts(self, path: str,
                       spark: "SparkSession | None" = None) -> None:
        if self._centroids is None:
            raise ValueError("fit() before save_artifacts()")
        self._centroids.write.mode("overwrite") \
            .parquet(f"{path}/centroids.parquet")

    def load_artifacts(self, path: str, spark=None) -> None:
        if spark is None:
            raise ValueError("load_artifacts requires a SparkSession")
        self._centroids = spark.read.parquet(f"{path}/centroids.parquet")


def kmeans_oracle_sql(table: str, id_col: str, vec_col: str,
                      k: int, iters: int) -> str:
    """DuckDB twin of ``KMeansMicros.fit().centroid_table()`` — the
    iterations UNROLL as CTE pairs (assignment by row_number over the
    exact integer distance, update by integer-sum + truncating DIV
    mean), so the oracle is plain SQL with no recursion."""
    pts = (f"SELECT {id_col} AS id, "
           f"list_transform({vec_col}, x -> round(x::DOUBLE * {_SCALE})::BIGINT) AS v "
           f"FROM {table}")
    dist = ("list_sum(list_transform(range(1, len(p.v) + 1), "
            "i -> (p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])))")
    sql = [f"WITH pts AS ({pts}),",
           f"c0 AS (SELECT id AS cid, v AS cv FROM pts "
           f"ORDER BY id LIMIT {k})"]
    cur = "c0"
    for it in range(1, iters + 1):
        sql.append(f""",
a{it} AS (
  SELECT p.id, c.cid, p.v
  FROM pts p CROSS JOIN {cur} c
  QUALIFY row_number() OVER (PARTITION BY p.id
                             ORDER BY {dist} ASC, c.cid ASC) = 1
),
m{it} AS (
  -- // and Spark's div both truncate toward zero (verified -7/2 = -3
  -- in both engines), so the integer mean needs no sign gymnastics
  SELECT cid, pos, sum(val) // count(*) AS m FROM (
    SELECT cid, unnest(range(1, len(v) + 1)) AS pos,
           unnest(v) AS val
    FROM a{it}
  ) GROUP BY cid, pos
),
c{it} AS (
  SELECT c.cid,
         coalesce(list(m.m ORDER BY m.pos)
                  FILTER (WHERE m.m IS NOT NULL), c.cv) AS cv
  FROM {cur} c LEFT JOIN m{it} m ON m.cid = c.cid
  GROUP BY c.cid, c.cv
)""")
        cur = f"c{it}"
    sql.append(f"""
SELECT cluster, pos::INT - 1 AS pos, value_micros FROM (
  SELECT cid AS cluster, unnest(range(1, len(cv) + 1)) AS pos,
         unnest(cv) AS value_micros
  FROM {cur}
)
""")
    return "\n".join(sql)
