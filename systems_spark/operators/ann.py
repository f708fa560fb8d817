"""QueryANN — top-k similarity retrieval over embedding columns.

Reference semantics (QueryFaiss): query vector → top-k candidate ids by inner
product over an item-embedding index (``IVF32,Flat``, nprobe=8, topk=10)
(reference: merlin/systems/dag/ops/faiss.py:29-218 — search kernel :90-112,
index builder ``setup_faiss`` :191-218, inner-product metric :194,213).

Spark-first, two physical strategies (chosen per scale, same logical result):

- **exact** (the correctness baseline): candidates × items broadcast cross
  join, JVM-side dot product (functions/similarity.py), per-query window
  top-k. The item side is broadcast, so the query side never shuffles; at
  N_items ≲ 1M × 128 dims this is the right plan even on a big cluster.
  The score is a ``zip_with`` + ``aggregate`` fold, which runs interpreted
  (a ``CodegenFallback``), unless the item side is a pinned frame whose
  vectors all have one length ``d`` small enough for
  ``similarity.unrolls``: then the score is the same fold unrolled into
  ``d`` terms (``similarity.unrolled_score``), bit-identical and in
  generated code. ``d`` is learned once per pin (one min/max aggregate,
  memoized through ``pinning.prepared``).

- **lsh** (the 100 TB path): deterministic random-hyperplane LSH (SimHash
  family). Each vector gets ``n_tables`` bucket signatures of ``n_planes``
  sign bits; queries equi-join items on (table, signature) — a plain
  shuffle/broadcast hash join on a narrow int key — then exact-rerank within
  the candidate set. Hyperplane components are derived from the portable
  md5 hash (deterministic across engines and runs → oracle-checkable and
  retry-safe; no stored index artifact needed, unlike FAISS). Recall is
  tunable via (n_tables, n_planes), mirroring IVF's nprobe knob.

Metrics: ``ip`` (inner product, the reference default) or ``cosine``.

The exact path and the shared top-k ranking are parsed SQL text
(``selectExpr``/``where`` over ``similarity.score_sql`` and a
``row_number()`` window), not Column trees: serving builds the plan on
every request, and each Column node is a py4j round trip plus an eager
analysis on the driver, while a text step is one. The plans are the same.
"""

from __future__ import annotations

import functools

import math
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from systems_spark.functions.similarity import score_sql, unrolls
from systems_spark.functions.sqltext import quote_ident
from systems_spark.operators.base import Operator
from systems_spark.pinning import prepared
from systems_spark.sources import hadoop_fs


def _score(metric: str, q: str, it: str):
    """``metric`` between the vector columns named ``q`` and ``it``. For
    ``l2`` it is the NEGATIVE squared euclidean distance: monotone in true
    L2, so every descending-score rank below is an ascending-distance
    rank (FAISS METRIC_L2 also ranks by squared distance — faiss.py:194
    exposes the metric= knob next to the INNER_PRODUCT default)."""
    return F.expr(score_sql(metric, q, it))


def _uniform_length(items: DataFrame, vec_col: str) -> Optional[int]:
    """The one length of every non-NULL vector in ``items``, or None if
    lengths differ (or there is none)."""
    v = quote_ident(vec_col)
    lo, hi = items.where(f"{v} IS NOT NULL").selectExpr(
        f"min(size({v}))", f"max(size({v}))").first()
    return lo if lo is not None and lo == hi else None


def _item_side(items: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(_ann_id, _ann_vec)``: the item columns every strategy reads."""
    return items.selectExpr(f"{quote_ident(id_col)} AS _ann_id",
                            f"{quote_ident(vec_col)} AS _ann_vec")


def _pq_subvec(vec, m: int, sub: int):
    """Subspace ``m``'s slice of a vector (1-based F.slice)."""
    return F.slice(vec, m * sub + 1, sub)


def _sub_score(metric: str, a: str, b: str):
    """Per-subspace PQ score, ADDITIVE across subspaces (the property ADC
    needs): inner product for ip/cosine (cosine's norm is restored by the
    exact rerank), negative squared distance for l2 — summing subspace
    values yields -||q - approx||², classic L2 ADC."""
    return _score("l2" if metric == "l2" else "ip", a, b)


def _plane_component(table: int, p: int, d: int, salt: str) -> float:
    """r[t,p,d] = 2·U(salt|t|p|d) − 1 computed in PYTHON with the exact
    integer/IEEE steps of functions/hashing.unit_uniform — the Spark
    expression would constant-fold to this same double, but folding a
    dim×planes unrolled tree made Catalyst analysis take MINUTES (measured:
    ann_lsh 120 s at sf0.01, almost all driver-side). Precomputing the
    literals keeps the plan tiny; the SQL oracle (below) uses the same
    Python values, so bit-parity is preserved by construction."""
    import hashlib

    h = int(hashlib.md5((salt + f"{table}|{p}|{d}").encode()).hexdigest()[:15], 16)
    return (((h % 1_000_000_007) + 1) / 1_000_000_008.0) * 2.0 - 1.0


def hyperplane_signature(vec_col, dim: int, n_planes: int, table: int, salt: str = "ann"):
    """Sign-bit signature under deterministic pseudo-random hyperplanes.

    Plane component r[t,p,d] = 2*U(salt|t|p|d) - 1 with U the portable md5
    uniform — identical in Spark and the SQL oracle, no randomness to store.
    Signature = Σ_p bit_p(v)·2^p  where bit_p = 1 if Σ_d v[d]*r[d] >= 0.

    Each plane is ONE array literal folded with zip_with+aggregate (left
    fold, same IEEE order as the unrolled sum), so the expression tree is
    O(planes) nodes instead of O(planes×dim) — large unrolled trees made
    Catalyst analysis quadratic-slow.
    """
    sig = F.lit(0)
    for p in range(n_planes):
        plane = F.lit([_plane_component(table, p, d, salt) for d in range(dim)])
        proj = F.aggregate(
            F.zip_with(vec_col, plane, lambda x, r: x.cast("double") * r),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig


def hyperplane_signatures_kernel(dim: int, n_planes: int, n_tables: int,
                                 salt: str = "ann"):
    """Arrow-batched pandas UDF computing ALL ``n_tables`` signatures of a
    vector in one pass — bit-identical to :func:`hyperplane_signature`.

    The Catalyst ``zip_with``+``aggregate`` form evaluates higher-order
    functions interpreted, per element: ~1.5 ms/row at 32 planes × 64 dims
    (measured sf0.1) — fine for query sides, hostile for a billion-item
    side. This kernel replays the SAME IEEE double operations vectorized
    across the batch: the fold ``acc = (acc + x_d·r_d)`` runs in ascending
    ``d`` with one in-place numpy add per dimension, so every row's
    accumulation order — and therefore every sign bit and the SQL oracle —
    is preserved exactly. ~µs/row.

    Degenerate rows (NULL vector or length ≠ dim) get signature 0 in every
    table, matching the expression form (null projection → no bit set).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    # (tables·planes, dim) plane matrix — same Python doubles the
    # expression form embeds as literals
    pm = np.array([
        [_plane_component(t, p, d, salt) for d in range(dim)]
        for t in range(n_tables) for p in range(n_planes)
    ])
    bit_w = np.array([1 << p for p in range(n_planes)], dtype=np.int64)

    @pandas_udf(ArrayType(LongType()))
    def sigs(vecs):
        import pandas as pd

        n = len(vecs)
        ok = np.fromiter(
            (v is not None and len(v) == dim for v in vecs),
            dtype=bool, count=n,
        )
        rows = [np.asarray(v) if o else np.zeros(dim) for v, o in zip(vecs, ok)]
        v_mat = np.stack(rows).astype(np.float64) if n else np.zeros((0, dim))
        acc = np.zeros((n, pm.shape[0]))
        for d in range(dim):  # ascending d = the aggregate() fold order
            acc += v_mat[:, d:d + 1] * pm[:, d]
        sig = ((acc >= 0.0).reshape(n, n_tables, n_planes) * bit_w).sum(axis=2)
        sig[~ok] = 0
        return pd.Series(list(sig.astype(np.int64)))

    return sigs


def _explode_signatures(df: DataFrame, vec_col: str, dim: int, n_planes: int,
                        n_tables: int, salt: str = "ann") -> DataFrame:
    """Append ``(_tbl, _sig)`` via posexplode of the per-table signature
    array — the single-join LSH candidate shape (one shuffle on the
    composite key instead of one join per table). Signatures come from the
    vectorized Arrow kernel; the Generate stage materializes them once."""
    kern = hyperplane_signatures_kernel(dim, n_planes, n_tables, salt)
    return df.select("*", F.posexplode(kern(F.col(vec_col))).alias("_tbl", "_sig"))


def hyperplane_signature_sql(vec_expr: str, dim: int, n_planes: int, table: int,
                             salt: str = "ann") -> str:
    """DuckDB expression matching :func:`hyperplane_signature` bit-exactly.

    The plane components are the SAME Python doubles the Spark expression
    embeds (_plane_component); each projection is unrolled left-to-right to
    match the zip_with+aggregate left fold — which is what makes even this
    'approximate' index oracle-checkable."""
    bits = []
    for p in range(n_planes):
        terms = []
        for d in range(dim):
            r = _plane_component(table, p, d, salt)
            terms.append(f"{vec_expr}[{d + 1}]*{r!r}")
        proj = " + ".join(terms)
        bits.append(f"CASE WHEN ({proj}) >= 0 THEN {1 << p} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


class QueryANN(Operator):
    """Append top-k neighbor rows for each query row.

    Output: one row per (query, neighbor) with ``ann_rank`` (1-based by
    descending score, ties broken by item id ascending) and ``ann_score``.
    The reference flattens (1, topk) to topk rows too (faiss.py:110).
    """

    def __init__(self, items_df: DataFrame = None, item_id_col: str = "item_id",
                 item_vec_col: str = "embedding", query_vec_col: str = "embedding",
                 query_id_col: str = "request_id", topk: int = 10, metric: str = "ip",
                 strategy: str = "exact", n_tables: int = 4, n_planes: int = 8,
                 dim: Optional[int] = None, broadcast: bool = True,
                 n_cells: int = 32, nprobe: int = 8,
                 pq_m: int = 8, pq_k: int = 16, rerank: int = 50,
                 pq_train_iters: int = 0, ivf_train_iters: int = 0):
        self.n_cells = int(n_cells)
        self.nprobe = int(nprobe)
        self.pq_m = int(pq_m)
        self.pq_k = int(pq_k)
        self.rerank = int(rerank)
        self.pq_train_iters = int(pq_train_iters)
        self.ivf_train_iters = int(ivf_train_iters)
        self.items_df = items_df
        self.item_id_col = item_id_col
        self.item_vec_col = item_vec_col
        self.query_vec_col = query_vec_col
        self.query_id_col = query_id_col
        self.topk = int(topk)
        self.metric = metric
        self.strategy = strategy
        self.n_tables = int(n_tables)
        self.n_planes = int(n_planes)
        self.dim = dim
        self.broadcast = broadcast
        # set by train(); persisted with artifacts
        self._centroids = None   # ivf coarse quantizer
        self._codebook = None    # pq subspace codebook
        self.requires = (query_id_col, query_vec_col)

    # ------------------------------------------------------------------
    def _items(self) -> DataFrame:
        it = _item_side(self.items_df, self.item_id_col, self.item_vec_col)
        return F.broadcast(it) if self.broadcast else it

    def _rank_topk(self, joined: DataFrame) -> DataFrame:
        """Top ``topk`` rows per query of ``joined`` (``_ann_id``,
        ``_ann_vec``, ``ann_score`` beside the query columns) by
        descending score, ties to the lower id: one projection that
        renames ``_ann_id``, drops ``_ann_vec`` and ranks, and one filter
        (Catalyst turns the pair into a ``WindowGroupLimit``)."""
        cols = ["_ann_id AS ann_id" if c == "_ann_id" else quote_ident(c)
                for c in joined.columns if c != "_ann_vec"]
        rank = (f"row_number() OVER (PARTITION BY "
                f"{quote_ident(self.query_id_col)} "
                f"ORDER BY ann_score DESC, _ann_id ASC) AS ann_rank")
        return joined.selectExpr(*cols, rank).where(
            f"ann_rank <= {self.topk}")

    def transform(self, df: DataFrame) -> DataFrame:
        if self.strategy == "exact":
            # Pre-cluster the QUERY side on the ranking key: with a
            # broadcast item side every query's scored rows are already
            # co-located, so this small exchange (Q rows, pre-join)
            # satisfies the ranking window's distribution requirement and
            # Catalyst plans NO post-scoring exchange — the naive plan
            # shuffles Q×N scored rows instead. Spark's WindowGroupLimit
            # additionally caps rows at topk per query before the final
            # window (verified in tests/test_sources_plans.py).
            #
            # The exchange takes one partition per core. AQE sizes
            # partitions by shuffle BYTES and would coalesce a batch of a
            # few dozen query rows into one task, which then runs all
            # Q×N scoring while the other cores idle; a partition count
            # given to repartition (REPARTITION_BY_NUM) is never
            # coalesced.
            q = df
            if self.broadcast:
                q = df.repartition(
                    df.sparkSession.sparkContext.defaultParallelism,
                    F.col(quote_ident(self.query_id_col)))
            joined = q.crossJoin(self._items()).selectExpr(
                "*", f"{self._exact_score()} AS ann_score")
            return self._rank_topk(joined)
        if self.strategy == "lsh":
            return self._transform_lsh(df)
        if self.strategy == "ivf":
            return self._transform_ivf(df)
        if self.strategy == "pq":
            return self._transform_pq(df)
        if self.strategy == "ivf_pq":
            return self._transform_ivf_pq(df)
        raise ValueError(f"unknown strategy {self.strategy!r}")

    def _exact_score(self) -> str:
        """SQL text of the exact path's score: unrolled over a pinned item
        side of one short enough vector length, the higher-order fold
        otherwise."""
        d = prepared(self.items_df, ("ann_item_length", self.item_vec_col),
                     lambda items: _uniform_length(items, self.item_vec_col),
                     pinned_only=True)
        if d is not None and not unrolls(self.metric, d):
            d = None
        return score_sql(self.metric, self.query_vec_col, "_ann_vec", d)

    def _transform_pq(self, df: DataFrame) -> DataFrame:
        """Product quantization with asymmetric distance (ADC) + exact
        rerank — the bandwidth-compression scale path (FAISS's PQ family):
        each item vector is stored as ``pq_m`` small centroid codes
        (m × log2(k) bits vs D floats — 32× smaller at m=8,k=16,D=64), and
        query↔item scoring reads ONLY the codes plus a per-query lookup
        table, never the item vectors. Exact rerank of the top ``rerank``
        approx candidates restores precision.

        Deterministic codebooks (like the IVF seeding): subspace m's K
        centroids are the sub-vectors of the K lowest-id items — no
        iterative k-means, so results are reproducible run-to-run.

        Scale shape: coding is a map-side pass over items against a
        broadcast codebook (M·K sub-dots per item, no shuffle); the
        query×item scan moves only code arrays; vectors are fetched for
        rerank by an equi-join on the top candidates.
        """
        M, _, sub = self._pq_dims()
        rerank = max(self.rerank, self.topk)
        items = self._items()

        def subvec(vec, m):
            return _pq_subvec(vec, m, sub)

        subdot = functools.partial(_sub_score, self.metric)

        codebook = F.broadcast(
            self._codebook if self._codebook is not None
            else self._pq_codebook(items)
        )

        return self._pq_scan(df, items, codebook, M, subvec, subdot, rerank)

    def _pq_dims(self):
        """Validate the PQ configuration once for every entry point
        (transform AND train) and return (M, K, sub)."""
        if self.dim is None:
            raise ValueError("pq strategy requires dim=")
        M = self.pq_m
        if self.dim % M:
            raise ValueError(f"dim={self.dim} not divisible by pq_m={M}")
        return M, self.pq_k, self.dim // M

    def _pq_codebook(self, items):
        """Build the (_m, _k, _cvec) codebook: K lowest-id items'
        sub-vectors as seeds, optionally Lloyd-refined
        (``pq_train_iters``)."""
        M, K, sub = self._pq_dims()

        def subvec(vec, m):
            return _pq_subvec(vec, m, sub)

        subdot = functools.partial(_sub_score, self.metric)

        seeds = items.orderBy(F.col("_ann_id").asc()).limit(K).select(
            F.row_number().over(Window.orderBy(F.col("_ann_id").asc())).alias("_k"),
            F.col("_ann_vec").alias("_svec"),
        )
        codebook = (
            seeds.select(
                "_k",
                F.explode(F.array(*[
                    F.struct(F.lit(m).alias("_m"), subvec(F.col("_svec"), m).alias("_cvec"))
                    for m in range(M)
                ])).alias("_c"),
            ).select("_k", "_c._m", "_c._cvec")
        )
        if self.pq_train_iters > 0:
            codebook = self._pq_refine(items, codebook, M, sub, subvec, subdot)
        return codebook

    def _pq_refine(self, items, codebook, M, sub, subvec, subdot):
        """Lloyd iterations per subspace (``pq_train_iters``): assign each
        item sub-vector to its best centroid, recompute centroids as
        element-wise means. Each iteration = one assign (broadcast join,
        map-side) + one narrow mean shuffle of (m, k, pos) partials.
        Empty clusters keep their previous centroid. Disabled by default —
        the untrained seeding stays bit-deterministic; means go through
        distributed float sums, which are run-order sensitive at the ulp
        level (fine for recall, not for an oracle)."""
        item_subs = items.select("_ann_id", F.explode(F.array(*[
            F.struct(F.lit(m).alias("_m"), subvec(F.col("_ann_vec"), m).alias("_svec"))
            for m in range(M)
        ])).alias("_s")).select("_ann_id", "_s._m", "_s._svec")

        for _ in range(self.pq_train_iters):
            w = Window.partitionBy("_ann_id", "_m").orderBy(
                F.col("_d").desc(), F.col("_k").asc()
            )
            assigned = (
                item_subs.join(F.broadcast(codebook), on="_m")
                .withColumn("_d", subdot("_svec", "_cvec"))
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select("_m", "_k", "_svec")
            )
            means = (
                assigned.select(
                    "_m", "_k", F.posexplode("_svec").alias("_pos", "_val")
                )
                .groupBy("_m", "_k", "_pos")
                .agg(F.avg(F.col("_val").cast("double")).alias("_avg"))
                .groupBy("_m", "_k")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_avg"))),
                    lambda s: s["_avg"].cast("float"),
                ).alias("_new"))
            )
            codebook = (
                codebook.join(means, on=["_m", "_k"], how="left")
                .select("_m", "_k",
                        F.coalesce(F.col("_new"), F.col("_cvec")).alias("_cvec"))
            )
        return codebook

    def _pq_scan(self, df, items, codebook, M, subvec, subdot, rerank):
        # item codes: argmax centroid per (item, subspace) → sorted code array
        code_w = Window.partitionBy("_ann_id", "_m").orderBy(
            F.col("_sdot").desc(), F.col("_k").asc()
        )
        item_codes = (
            items.select("_ann_id", F.explode(F.array(*[
                F.struct(F.lit(m).alias("_m"), subvec(F.col("_ann_vec"), m).alias("_svec"))
                for m in range(M)
            ])).alias("_s"))
            .select("_ann_id", "_s._m", "_s._svec")
            .join(codebook, on="_m")
            .withColumn("_sdot", subdot("_svec", "_cvec"))
            .withColumn("_rn", F.row_number().over(code_w))
            .where(F.col("_rn") == 1)
            .groupBy("_ann_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("_m", "_k"))),
                lambda s: s["_k"],
            ).alias("_codes"))
        )

        # per-query LUT: lut[m][k] = dot(query_sub_m, centroid_{m,k})
        lut = (
            df.select(self.query_id_col, self.query_vec_col)
            .select(self.query_id_col, F.explode(F.array(*[
                F.struct(F.lit(m).alias("_m"), subvec(F.col(self.query_vec_col), m).alias("_qsub"))
                for m in range(M)
            ])).alias("_q"))
            .select(self.query_id_col, "_q._m", "_q._qsub")
            .join(codebook, on="_m")
            .withColumn("_qdot", subdot("_qsub", "_cvec"))
            .groupBy(self.query_id_col, "_m")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("_k", "_qdot"))),
                lambda s: s["_qdot"],
            ).alias("_lut_row"))
            .groupBy(self.query_id_col)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("_m", "_lut_row"))),
                lambda s: s["_lut_row"],
            ).alias("_lut"))
        )

        # ADC scan: only codes + LUT move; approx score = Σ_m lut[m][code_m]
        approx = (
            df.join(lut, on=self.query_id_col)
            .crossJoin(item_codes)
            .withColumn("_approx", F.aggregate(
                F.zip_with(F.col("_codes"), F.col("_lut"),
                           lambda c, row: F.element_at(row, c)),
                F.lit(0.0), lambda acc, v: acc + v,
            ))
        )
        cand_w = Window.partitionBy(self.query_id_col).orderBy(
            F.col("_approx").desc(), F.col("_ann_id").asc()
        )
        cands = (
            approx.withColumn("_crn", F.row_number().over(cand_w))
            .where(F.col("_crn") <= rerank)
            .drop("_codes", "_lut", "_approx", "_crn")
        )
        # exact rerank: fetch true vectors for the shortlist only
        joined = cands.join(items, on="_ann_id").withColumn(
            "ann_score",
            _score(self.metric, self.query_vec_col, "_ann_vec"),
        )
        return self._rank_topk(joined)

    def _transform_ivf(self, df: DataFrame) -> DataFrame:
        """Deterministic IVF (the reference index is IVF32,Flat nprobe=8 —
        faiss.py:213-214): coarse cells are seeded by the ``n_cells``
        lowest-id item vectors (no iterative k-means → reproducible and
        oracle-checkable); each item joins its best cell, each query probes its
        ``nprobe`` best cells, exact rerank inside the probed cells.

        Scale shape: cell assignment is a broadcast map-side pass over
        items (N×K dots, no shuffle); the probe join is an equi-join on a
        narrow int cell key — the cross join of exact search never happens.
        """
        return self.transform_ivf_postings(df, self.ivf_postings())

    def ivf_quantizer(self) -> DataFrame:
        """The coarse quantizer: trained centroids if set (``train()`` /
        ``with_centroids``), else the deterministic lowest-id seeds of
        ``items_df``. With ``ivf_train_iters > 0`` the Lloyd means are
        run-order-sensitive at the ulp level, so the trained quantizer is
        materialized exactly ONCE (auto-``train()`` and pinned) — item
        cell assignment and query probes must share one centroid set, or
        a candidate can silently fall between ulp-different cells."""
        if self._centroids is not None:
            return self._centroids
        items = self._items()
        seeds = items.orderBy(F.col("_ann_id").asc()).limit(self.n_cells) \
            .select(F.col("_ann_id").alias("_cent_id"),
                    F.col("_ann_vec").alias("_cent_vec"))
        if self.ivf_train_iters > 0:
            # eager checkpoint = the one materialization every caller
            # (postings build AND query probe) shares, like train()
            self._centroids = self._ivf_train(items, seeds).localCheckpoint()
            return self._centroids
        return seeds

    def with_centroids(self, centroids: DataFrame) -> "QueryANN":
        """Pin the coarse quantizer — (_cent_id, _cent_vec) rows, e.g. a
        StateStore parquet read of a previously built index. The faiss
        contract: ``add()`` never retrains, so an incremental index keeps
        serving against the quantizer it was built with."""
        self._centroids = centroids
        return self

    def ivf_postings(self, items_df: "DataFrame | None" = None) -> DataFrame:
        """Inverted-list postings (_ann_id, _ann_vec, _cell) for the given
        items (default: ``items_df``) against the index quantizer — the
        faiss ``add()`` analog: a broadcast map-side pass over ONLY the
        given items (batch×K dots, no shuffle), so corpus growth costs
        one assignment pass over the BATCH. Postings are mergeable by
        plain union when item ids are disjoint: assignment is a pure
        per-item function of the (pinned) centroids, so standing ∪ batch
        equals a from-scratch assignment of the union, bit for bit."""
        it = (self._items() if items_df is None else
              _item_side(items_df, self.item_id_col, self.item_vec_col))
        cents = F.broadcast(self.ivf_quantizer())
        return self._ivf_cells(it, cents).select("_ann_id", "_ann_vec", "_cell")

    def transform_ivf_postings(self, df: DataFrame,
                               postings: DataFrame) -> DataFrame:
        """IVF probe + exact rerank over a caller-supplied postings table
        (e.g. standing StateStore postings unioned with a fresh batch
        assignment). The query side probes its ``nprobe`` best cells
        against the same quantizer; candidates come from the postings
        equi-join on the narrow int cell key."""
        cents = F.broadcast(self.ivf_quantizer())
        probe_w = Window.partitionBy(self.query_id_col).orderBy(
            F.col("_cdot").desc(), F.col("_cent_id").asc()
        )
        probes = (
            df.crossJoin(cents)
            .withColumn("_cdot", _score(self.metric, self.query_vec_col, "_cent_vec"))
            .withColumn("_crn", F.row_number().over(probe_w))
            .where(F.col("_crn") <= self.nprobe)
            .drop("_cent_vec", "_cdot", "_crn")
            .withColumnRenamed("_cent_id", "_cell")
        )
        joined = probes.join(postings, on="_cell").withColumn(
            "ann_score", _score(self.metric, self.query_vec_col, "_ann_vec")
        ).drop("_cell")
        return self._rank_topk(joined)

    def _ivf_cells(self, items, cents):
        """Inverted-list assignment: each item's best coarse cell by the
        index metric (ties to the lower centroid id). Kept separate so
        tests and index diagnostics (FAISS's invlist-size counterpart)
        can inspect cell balance — the thing that bounds per-probe scan
        cost at scale."""
        cell_w = Window.partitionBy("_ann_id").orderBy(
            F.col("_cdot").desc(), F.col("_cent_id").asc()
        )
        return (
            items.crossJoin(cents)
            .withColumn("_cdot", _score(self.metric, "_ann_vec", "_cent_vec"))
            .withColumn("_crn", F.row_number().over(cell_w))
            .where(F.col("_crn") == 1)
            .select("_ann_id", "_ann_vec", F.col("_cent_id").alias("_cell"),
                    "_cdot")
        )

    def _ivf_train(self, items, cents):
        """Lloyd iterations for the coarse quantizer (``ivf_train_iters``) —
        the k-means training FAISS's IVF does at index-build time
        (reference faiss.py builds `IVF32,Flat`, whose `train()` runs
        k-means): assign every item to its best current centroid, recompute
        each centroid as the element-wise mean of its members, empty cells
        keep their previous centroid.

        Scale shape per iteration: assignment is a map-side pass against
        the broadcast centroid set (N×K dots, no shuffle of vectors); the
        mean is ONE narrow shuffle of (cell, pos) partial sums — the
        vectors themselves never shuffle. Disabled by default for the same
        reason as ``pq_train_iters``: distributed float means are
        run-order sensitive at the ulp level, so the untrained lowest-id
        seeding stays bit-deterministic for the oracle; training is the
        recall lever for clustered real-world corpora (seeds are then all
        drawn from wherever the low ids happen to sit)."""
        for _ in range(self.ivf_train_iters):
            assigned = self._ivf_cells(items, F.broadcast(cents)).select(
                F.col("_cell").alias("_cent_id"), "_ann_vec"
            )
            means = (
                assigned.select(
                    "_cent_id", F.posexplode("_ann_vec").alias("_pos", "_val")
                )
                .groupBy("_cent_id", "_pos")
                .agg(F.avg(F.col("_val").cast("double")).alias("_avg"))
                .groupBy("_cent_id")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_avg"))),
                    lambda s: s["_avg"].cast("float"),
                ).alias("_new"))
            )
            cents = (
                cents.join(means, on="_cent_id", how="left")
                .select("_cent_id",
                        F.coalesce(F.col("_new"), F.col("_cent_vec"))
                        .alias("_cent_vec"))
            )
        return cents

    def _transform_ivf_pq(self, df: DataFrame) -> DataFrame:
        """IVF-PQ — coarse cells + RESIDUAL product quantization + ADC
        restricted to the probed cells + exact rerank: the production
        FAISS configuration (``IVFx,PQy``, the index family the
        reference's faiss.py knobs describe) that combines IVF's scan
        reduction (visit nprobe/n_cells of the corpus) with PQ's
        bandwidth compression (codes, not vectors, feed the scan).

        Residual semantics per FAISS: each item is encoded as PQ codes
        of (vector − its cell centroid); at query time the ADC score of
        an item in cell c is bias(q, c) + Σ_m lut[m][code_m], where for
        ip/cosine bias = ⟨q, centroid_c⟩ and the LUT is built from q's
        own sub-vectors (dot distributes over the decomposition), and
        for l2 bias = 0 with the LUT built from (q − centroid_c)'s
        sub-vectors — summing the per-subspace negative squared
        distances yields −‖q − (centroid + decoded residual)‖².

        Determinism contract: untrained seeding everywhere (coarse
        cells = lowest-id vectors, codebook = lowest-id RESIDUAL
        sub-vectors, deterministic tiebreaks), so the whole index is
        plan-time relational arithmetic the DuckDB twin replays
        bit-for-bit. ``train()`` is a deliberate no-op for this
        strategy: Lloyd-trained variants go through the ivf/pq
        strategies' documented float-mean caveat.

        Scale shape: cell assignment and coding are map-side passes
        against broadcast centroids/codebook; the scan join is an
        equi-join on the int cell key moving (codes, LUT) only; vectors
        are fetched once for the rerank shortlist."""
        M, K, sub = self._pq_dims()
        n_cells, nprobe = self.n_cells, self.nprobe
        rerank = max(self.rerank, self.topk)
        items = self._items()
        if self._centroids is not None:
            cents = F.broadcast(self._centroids)
        else:
            cents = F.broadcast(
                items.orderBy(F.col("_ann_id").asc()).limit(n_cells).select(
                    F.col("_ann_id").alias("_cent_id"),
                    F.col("_ann_vec").alias("_cent_vec")))
        cells = self._ivf_cells(items, cents).select(
            "_ann_id", "_ann_vec", "_cell")

        def _resid_of(assigned):
            return assigned.join(
                cents, assigned["_cell"] == cents["_cent_id"]).select(
                "_ann_id", "_cell",
                F.zip_with("_ann_vec", "_cent_vec",
                           lambda x, y: x.cast("double") - y.cast("double"))
                .alias("_rvec"))

        resid = _resid_of(cells)

        def subvec(vec, m):
            return _pq_subvec(vec, m, sub)

        subdot = functools.partial(_sub_score, self.metric)
        if self._codebook is not None:
            codebook = F.broadcast(self._codebook)
        elif self.pq_train_iters > 0:
            # Lloyd refinement needs every item's residual — keep the full
            # chain, but pin the small refined codebook so the refine loop
            # is not re-run per reference
            codebook = F.broadcast(self._pq_codebook(
                resid.select("_ann_id", F.col("_rvec").alias("_ann_vec")))
                .localCheckpoint(eager=False))
        else:
            # r12 perf: the untrained codebook needs only the K lowest-id
            # items' residuals, and cell assignment is a pure per-item
            # function — seed from a K-row slice assigned on its own
            # instead of referencing the full-corpus `resid` chain (which
            # made the corpus×centroid assignment run TWICE, once for the
            # codebook and once for the item codes). Bit-identical seeds,
            # one fewer full assignment pass at any scale. (A
            # localCheckpoint pin here measured SLOWER — the frames are
            # tiny and the pin's extra job boundary costs more than the
            # recompute it saves.)
            seed_items = items.orderBy(F.col("_ann_id").asc()).limit(K)
            seed_resid = _resid_of(
                self._ivf_cells(seed_items, cents)
                .select("_ann_id", "_ann_vec", "_cell"))
            codebook = F.broadcast(self._pq_codebook(
                seed_resid.select("_ann_id", F.col("_rvec").alias("_ann_vec"))))

        code_w = Window.partitionBy("_ann_id", "_m").orderBy(
            F.col("_sdot").desc(), F.col("_k").asc())
        item_codes = (
            resid.select("_ann_id", "_cell", F.explode(F.array(*[
                F.struct(F.lit(m).alias("_m"),
                         subvec(F.col("_rvec"), m).alias("_svec"))
                for m in range(M)
            ])).alias("_s"))
            .select("_ann_id", "_cell", "_s._m", "_s._svec")
            .join(codebook, on="_m")
            .withColumn("_sdot", subdot("_svec", "_cvec"))
            .withColumn("_rn", F.row_number().over(code_w))
            .where(F.col("_rn") == 1)
            .groupBy("_ann_id", "_cell")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("_m", "_k"))),
                lambda s: s["_k"]).alias("_codes")))

        qid, qvec = self.query_id_col, self.query_vec_col
        probe_w = Window.partitionBy(qid).orderBy(
            F.col("_cdot").desc(), F.col("_cent_id").asc())
        probes = (
            df.select(qid, qvec).crossJoin(cents)
            .withColumn("_cdot", _score(self.metric, qvec, "_cent_vec"))
            .withColumn("_crn", F.row_number().over(probe_w))
            .where(F.col("_crn") <= nprobe))
        if self.metric == "l2":
            probes = (probes
                      .withColumn("_eq", F.zip_with(
                          F.col(qvec), F.col("_cent_vec"),
                          lambda x, y: x.cast("double") - y.cast("double")))
                      .withColumn("_bias", F.lit(0.0)))
        else:
            probes = (probes
                      .withColumn("_eq", F.col(qvec))
                      .withColumn("_bias", _score("ip", qvec, "_cent_vec")))
        lut = (
            probes.select(qid, F.col("_cent_id").alias("_cell"), "_bias",
                          F.explode(F.array(*[
                              F.struct(F.lit(m).alias("_m"),
                                       subvec(F.col("_eq"), m).alias("_qsub"))
                              for m in range(M)
                          ])).alias("_q"))
            .select(qid, "_cell", "_bias", "_q._m", "_q._qsub")
            .join(codebook, on="_m")
            .withColumn("_qdot", subdot("_qsub", "_cvec"))
            .groupBy(qid, "_cell", "_bias", "_m")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("_k", "_qdot"))),
                lambda s: s["_qdot"]).alias("_lut_row"))
            .groupBy(qid, "_cell", "_bias")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("_m", "_lut_row"))),
                lambda s: s["_lut_row"]).alias("_lut")))
        # items live in exactly ONE cell, so this equi-join yields each
        # (query, item) at most once — the cross join of plain PQ never
        # happens
        approx = (
            lut.join(item_codes, on="_cell")
            .withColumn("_approx", F.col("_bias") + F.aggregate(
                F.zip_with(F.col("_codes"), F.col("_lut"),
                           lambda c, row: F.element_at(row, c)),
                F.lit(0.0), lambda acc, v: acc + v)))
        cand_w = Window.partitionBy(qid).orderBy(
            F.col("_approx").desc(), F.col("_ann_id").asc())
        cands = (approx.withColumn("_crn", F.row_number().over(cand_w))
                 .where(F.col("_crn") <= rerank)
                 .select(qid, "_ann_id"))
        joined = (cands.join(df, on=qid).join(items, on="_ann_id")
                  .withColumn("ann_score",
                              _score(self.metric, qvec, "_ann_vec")))
        return self._rank_topk(joined)

    def _transform_lsh(self, df: DataFrame) -> DataFrame:
        if self.dim is None:
            raise ValueError("lsh strategy requires dim=")
        if self.metric == "l2":
            raise ValueError(
                "hyperplane LSH buckets by ANGLE — it cannot retrieve for "
                "l2 (magnitude matters); normalize vectors and use cosine, "
                "or use the ivf/pq strategies, which are metric-aware")
        # ONE equi-join on the (table, signature) composite key: both sides
        # posexplode their n_tables signatures (the Generate is also a
        # ProjectCollapsing fence, so each signature is computed once per
        # row), replacing the previous n_tables separate joins + union —
        # one shuffle stage instead of four at identical byte volume
        it = _explode_signatures(
            _item_side(self.items_df, self.item_id_col, self.item_vec_col),
            "_ann_vec", self.dim, self.n_planes, self.n_tables,
        )
        if self.broadcast:
            it = F.broadcast(it)
        q = _explode_signatures(
            df, self.query_vec_col, self.dim, self.n_planes, self.n_tables
        )
        cands = q.join(it, on=["_tbl", "_sig"]).drop("_tbl", "_sig")
        cands = cands.dropDuplicates([self.query_id_col, "_ann_id"])
        joined = cands.withColumn(
            "ann_score", _score(self.metric, self.query_vec_col, "_ann_vec"))
        return self._rank_topk(joined)


    # -- persistence (index save/load ≈ setup_faiss artifacts, faiss.py:59-78)
    def get_params(self):
        return {"item_id_col": self.item_id_col, "item_vec_col": self.item_vec_col,
                "query_vec_col": self.query_vec_col, "query_id_col": self.query_id_col,
                "topk": self.topk, "metric": self.metric, "strategy": self.strategy,
                "n_tables": self.n_tables, "n_planes": self.n_planes, "dim": self.dim,
                "broadcast": self.broadcast, "n_cells": self.n_cells,
                "nprobe": self.nprobe, "pq_m": self.pq_m, "pq_k": self.pq_k,
                "rerank": self.rerank, "pq_train_iters": self.pq_train_iters,
                "ivf_train_iters": self.ivf_train_iters}

    def train(self) -> "QueryANN":
        """Materialize the IVF coarse quantizer once (FAISS's
        ``index.train()``): runs ``ivf_train_iters`` Lloyd rounds and pins
        the resulting centroids, so subsequent ``transform`` calls (every
        serving micro-batch) reuse them instead of re-paying training
        lazily per call. The trained centroids ship with the operator's
        artifacts — the index, not just the raw vectors, is what persists
        (faiss.py:59-78 ``read_index``/``write_index`` semantics).
        No-op unless the strategy has trained state to pin
        (``ivf``/``pq`` with ``*_train_iters > 0``)."""
        if self.strategy == "ivf" and self.ivf_train_iters > 0:
            items = self._items()
            seeds = items.orderBy(F.col("_ann_id").asc()).limit(
                self.n_cells).select(
                F.col("_ann_id").alias("_cent_id"),
                F.col("_ann_vec").alias("_cent_vec"))
            # eager local checkpoint: cuts the train_iters-deep iterative
            # lineage AND computes training exactly once
            self._centroids = self._ivf_train(items, seeds).localCheckpoint()
        if self.strategy == "pq" and self.pq_train_iters > 0:
            self._codebook = self._pq_codebook(self._items()).localCheckpoint()
        return self

    def save_artifacts(self, path: str) -> None:
        spark = self.items_df.sparkSession
        self.items_df.write.mode("overwrite").parquet(f"{path}/items.parquet")
        for name, state in (("centroids", self._centroids),
                            ("codebook", self._codebook)):
            sub = f"{path}/{name}.parquet"
            if state is not None:
                state.write.mode("overwrite").parquet(sub)
            else:
                # delete any stale trained artifact from a previous save —
                # load_artifacts trusts whatever file exists, so leaving an
                # old centroid/codebook set behind would silently pair it
                # with the NEW item set
                # existence checks and deletes go through the Hadoop
                # filesystem layer the parquet writes use, so non-local
                # artifact paths (hdfs://, s3a://) behave the same
                fs, hpath = hadoop_fs(spark, sub)
                if fs.exists(hpath):
                    fs.delete(hpath, True)

    def load_artifacts(self, path: str, spark=None) -> None:
        self.items_df = spark.read.parquet(f"{path}/items.parquet")
        for attr, name in (("_centroids", "centroids"),
                           ("_codebook", "codebook")):
            sub = f"{path}/{name}.parquet"
            fs, hpath = hadoop_fs(spark, sub)
            setattr(self, attr,
                    spark.read.parquet(sub) if fs.exists(hpath) else None)


def build_ann_index(items_df: DataFrame, **kwargs) -> QueryANN:
    """Index-builder convenience mirroring ``setup_faiss``
    (reference: merlin/systems/dag/ops/faiss.py:191-218)."""
    return QueryANN(items_df, **kwargs)
