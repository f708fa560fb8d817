"""MinHash + LSH near-duplicate detection.

Pipeline (the standard web-scale dedup shape, e.g. GPT-3/C4/RefinedWeb data
cleaning): word shingles → portable 60-bit hash → P universal-hash
permutations → per-doc minhash signature → band the signature into B bands of
R rows → docs sharing any band bucket are candidate pairs → estimate Jaccard
as the fraction of equal signature components → keep pairs ≥ threshold.

Scale design:
- the signature build is ONE narrow aggregation: explode shingles (map-side),
  ``groupBy(doc).agg(min(perm_i) …)`` — shuffles (doc_id, P ints), not text;
- banding is a projection; the bucket join shuffles (band_key, doc_id) pairs;
- candidate pairs are verified on the P-int signatures, never on raw text —
  no document bodies ever cross the network;
- permutation constants are fixed (derived from a seed via a little LCG), so
  signatures are reproducible across runs/engines — the whole operator is
  oracle-checkable in SQL, which a random-permutation implementation never is.

``a < b`` ordering on emitted pairs avoids double-counting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from systems_spark.dedup.ngram import NGramJaccardDedup
from systems_spark.functions.hashing import (
    MERSENNE_31,
    hash64,
    hash64_sql,
    minhash_permuted_sql,
)
from systems_spark.functions.text import (
    tokens,
    word_shingles_from_tokens,
    word_shingles_sql,
)
from systems_spark.operators.base import Operator


def permutation_constants(num_perm: int, seed: int = 7) -> list:
    """Deterministic (a, b) pairs, a != 0, via a tiny LCG mod M31."""
    out, state = [], seed
    while len(out) < num_perm:
        state = (1103515245 * state + 12345) % MERSENNE_31
        a = state or 1
        state = (1103515245 * state + 12345) % MERSENNE_31
        b = state
        out.append((a, b))
    return out


class MinHashDedup(Operator):
    def __init__(self, content_col: str = "text", id_col: str = "doc_id",
                 num_perm: int = 16, bands: int = 4, shingle_k: int = 3,
                 threshold: float = 0.5, seed: int = 7,
                 max_bucket_size: "int | None" = None):
        if num_perm % bands:
            raise ValueError("num_perm must be divisible by bands")
        if max_bucket_size is not None and max_bucket_size < 2:
            raise ValueError("max_bucket_size must be >= 2")
        self.content_col = content_col
        self.id_col = id_col
        self.num_perm = num_perm
        self.bands = bands
        self.rows_per_band = num_perm // bands
        self.shingle_k = shingle_k
        self.threshold = threshold
        self.seed = seed
        self.max_bucket_size = max_bucket_size
        self.requires = (content_col, id_col)

    # -- signature ---------------------------------------------------------
    def signatures(self, df: DataFrame,
                   shingle_rows: "DataFrame | None" = None) -> DataFrame:
        """(id_col, m0..m{P-1}) one row per doc. Docs with no shingles get
        sentinel M31 components (never match anything).

        Shape note: explode + groupBy(P mins) beats a per-document fold.
        Hash aggregation combines map-side, so the shuffle carries only
        (doc, P ints) per doc anyway. Two folds were measured slower: a
        per-row P-element array fold was 4× slower (an array allocation
        per shingle), and ``array_min(transform(...))`` per permutation
        over a document's shingle array saved one job per op on the
        1200-doc perfbench ``dedup_corpus`` workload (local[2], 4 vCPUs)
        but ran at par or slower, with +0.18 s of executor CPU per op
        (higher-order functions are interpreted).

        ``shingle_rows``: the pinned per-document relation
        ``(id_col, shingles, set_size)`` from
        ``NGramJaccardDedup.shingle_relation`` — shared in a
        sigs→candidates→exact-verify composition, which otherwise
        tokenizes + shingles the corpus a SECOND time just to hash it
        here. It is exploded and min-aggregated like the text path; min()
        over distinct shingles equals min() over all shingles, so
        signature values are identical. The one semantic difference: the
        relation has NO row for a shingle-less doc (NULL, empty, or fewer
        than ``shingle_k`` tokens), so such docs are ABSENT from the output
        instead of carrying M31 sentinels — pass it only where the caller
        filters sentinel signatures anyway (a non-empty doc can never hit
        the sentinel: ``(a·h+b) mod M31 < M31``).

        The relation must come from ``shingle_relation`` of an
        NGramJaccardDedup with this operator's ``shingle_k`` and
        ``content_col`` and ``max_shingle_freq=0`` (a frequency cap drops
        shingles, which changes the signatures): its ``shingles`` column
        metadata is checked, and any other relation raises ValueError."""
        from systems_spark.functions.fence import fence_columns

        if shingle_rows is not None:
            want = NGramJaccardDedup(content_col=self.content_col,
                                     shingle_k=self.shingle_k).feature_space()
            meta = (shingle_rows.schema["shingles"].metadata
                    if "shingles" in shingle_rows.columns else {})
            got = {k: meta.get(k) for k in want}
            if got != want:
                raise ValueError(
                    f"signatures: shingle_rows feature space {got} does not "
                    f"match this operator's {want}; build it with "
                    "NGramJaccardDedup(shingle_k=..., content_col=..., "
                    "max_shingle_freq=0).shingle_relation")
            sh = shingle_rows.select(F.col(self.id_col),
                                     F.explode("shingles").alias("_sh"))
        else:
            # _toks fenced: a real attribute, never re-inlined into the
            # shingle lambda (functions/fence.py)
            sh = fence_columns(
                df.select(self.id_col, self.content_col),
                _toks=tokens(F.col(self.content_col)),
            ).select(
                F.col(self.id_col),
                F.explode_outer(
                    word_shingles_from_tokens(F.col("_toks"), self.shingle_k)
                ).alias("_sh"),
            )
        return (sh.withColumn("_h", hash64(F.col("_sh")))
                .groupBy(self.id_col)
                .agg(*[F.expr(m) for m in self._min_aggs_sql()]))

    def _min_aggs_sql(self) -> list:
        """``coalesce(min(perm_i(_h)), M31) AS m{i}`` for every permutation,
        as SQL text that Spark and the DuckDB oracle both parse. Spark gets
        each as ONE parsed expression: built as Column trees the P
        aggregates cost ~25 py4j round trips apiece on the driver."""
        return [
            f"coalesce(min({minhash_permuted_sql('_h', a, b)}), {MERSENNE_31}) AS m{i}"
            for i, (a, b) in enumerate(permutation_constants(self.num_perm, self.seed))
        ]

    def signatures_oracle_sql(self, table: str = "documents") -> str:
        shingles = word_shingles_sql("text", self.shingle_k)
        mins = ", ".join(self._min_aggs_sql())
        return f"""
WITH sh AS (
  SELECT {self.id_col}, unnest({shingles}) AS _sh FROM {table}
), h AS (
  SELECT {self.id_col}, {hash64_sql('_sh')} AS _h FROM sh
), allids AS (SELECT {self.id_col} FROM {table})
SELECT a.{self.id_col}, {mins}
FROM allids a LEFT JOIN h USING ({self.id_col})
GROUP BY a.{self.id_col}
"""

    # -- candidate pairs via banding ----------------------------------------
    def _band_explode(self, sigs: DataFrame) -> DataFrame:
        """``sigs`` plus (_bi, _bv) — one row per (doc, band), hot buckets
        dropped when ``max_bucket_size`` is set. The banded projection both
        join sides are built from; the band structs are one parsed
        generator expression (see ``_min_aggs_sql`` for why)."""
        r = self.rows_per_band
        bands = ", ".join(
            "struct(" + ", ".join(f"m{band * r + j} AS x{j}" for j in range(r)) + ")"
            for band in range(self.bands))
        expl = sigs.select("*", F.expr(f"posexplode(array({bands})) AS (_bi, _bv)"))
        if self.max_bucket_size is not None:
            hot = (expl.groupBy("_bi", "_bv")
                   .agg(F.count(F.lit(1)).alias("_n"))
                   .where(F.col("_n") > int(self.max_bucket_size))
                   .select("_bi", "_bv"))
            expl = expl.join(F.broadcast(hot), on=["_bi", "_bv"], how="anti")
        return expl

    def _n_equal(self) -> Column:
        """``n_equal`` of a joined L/R pair row, the number of equal
        signature components, as one parsed expression. Every row of one
        (a, b) pair carries the same signatures, so it is computed before
        the pair dedup, which then shuffles one long instead of P flags."""
        eq = " + ".join(f"CAST(L.m{i} = R.m{i} AS INT)" for i in range(self.num_perm))
        return F.expr(f"CAST({eq} AS BIGINT) AS n_equal")

    def incremental_pairs(self, corpus_sigs: DataFrame,
                          new_sigs: DataFrame,
                          check_disjoint: bool = True) -> DataFrame:
        """Candidate pairs TOUCHING at least one NEW document — the
        corpus-growth shape of minhash dedup (VERDICT r6 item 3): the
        standing corpus persists its signature table (plain rows, P ints
        per doc — the band table is a projection of it, like the HLL
        registers), and each arriving batch joins new×corpus + new×new
        band buckets only. A corpus×corpus pair is NEVER re-derived, so
        per-batch cost is proportional to |batch| × (bucket occupancy),
        not |corpus|².

        Ids must be disjoint between the two frames (a batch re-offering
        a known id is an upsert, not growth) — ENFORCED by default, opt
        out with ``check_disjoint=False`` when disjointness is proven
        upstream. Returns (a, b, n_equal) exactly like
        ``candidate_pairs`` — union with the standing labeling via
        ``incremental_components``.

        Hot-bucket cap caveat: the DELTA's cap is computed over the
        UNION explode, so the delta's dropped-bucket set matches a full
        recompute at the NEW corpus state — but standing pairs persisted
        at an earlier state were capped at THAT state, so a bucket that
        crosses ``max_bucket_size`` only when the batch arrives keeps
        corpus×corpus pairs a full recompute would now drop. With the
        cap unset, incremental == scratch exactly; with it set, callers
        needing exact recompute-equality must re-derive standing pairs
        for buckets that newly crossed the cap (the cap is a recall/cost
        trade already — see ``candidate_pairs`` — so most pipelines
        accept the stale-cap superset)."""
        if check_disjoint:
            from systems_spark.dedup.guards import ensure_disjoint_ids
            ensure_disjoint_ids(corpus_sigs, new_sigs, self.id_col,
                                "MinHashDedup.incremental_pairs")
        both = corpus_sigs.withColumn("_new", F.lit(False)).unionByName(
            new_sigs.withColumn("_new", F.lit(True)))
        expl = self._band_explode(both)
        left = expl.where(F.col("_new")).alias("L")
        right = expl.alias("R")
        return left.join(
            right,
            on=[
                F.col("L._bi") == F.col("R._bi"),
                F.col("L._bv") == F.col("R._bv"),
                F.col(f"L.{self.id_col}") != F.col(f"R.{self.id_col}"),
            ],
        ).select(
            F.least(F.col(f"L.{self.id_col}"),
                    F.col(f"R.{self.id_col}")).alias("a"),
            F.greatest(F.col(f"L.{self.id_col}"),
                       F.col(f"R.{self.id_col}")).alias("b"),
            self._n_equal(),
        ).dropDuplicates(["a", "b"])

    def candidate_pairs(self, sigs: DataFrame) -> DataFrame:
        """(a, b, n_equal) for pairs sharing ≥1 band; n_equal = # equal
        signature components (Jaccard estimate = n_equal / num_perm).

        Single-join shape: both sides posexplode their band structs and
        equi-join ONCE on the (band index, band value) composite key — one
        shuffle stage instead of one join per band, and the identical
        signature-aggregation subplans under L/R become a ReusedExchange
        under AQE (the per-band loop re-executed the signature build on
        both sides of every join).

        ``max_bucket_size`` (skew cap, VERDICT r5 item 4): a true
        near-dup family of C documents lands in the SAME band bucket and
        emits C²/2 pairs per matching band — a 1M-copy boilerplate
        family is a 5×10¹¹-row join output before dropDuplicates. With
        the cap set, band buckets holding more than N docs are dropped
        from both sides BEFORE the pair join. This TRADES RECALL for a
        bounded worst case: members of an over-full bucket may still
        pair through their other bands, but a family detected by no
        small-enough bucket is missed — appropriate when the production
        path resolves clusters anyway (dedup_verified → dedup_clusters
        needs any spanning subset of pairs, not all C²/2 of them). The
        hot-bucket set is small by construction (≤ fp rows / N), so it
        broadcasts; survivors anti-join against it. ``None`` = exact."""
        expl = self._band_explode(sigs)
        left, right = expl.alias("L"), expl.alias("R")
        return left.join(
            right,
            on=[
                F.col("L._bi") == F.col("R._bi"),
                F.col("L._bv") == F.col("R._bv"),
                F.col(f"L.{self.id_col}") < F.col(f"R.{self.id_col}"),
            ],
        ).select(
            F.col(f"L.{self.id_col}").alias("a"),
            F.col(f"R.{self.id_col}").alias("b"),
            self._n_equal(),
        ).dropDuplicates(["a", "b"])

    def transform(self, df: DataFrame) -> DataFrame:
        """Near-duplicate pairs with estimated Jaccard ≥ threshold.

        Docs with no shingles (null/short text) carry the all-sentinel
        signature and are excluded from pairing — they'd otherwise all
        "match" each other at n_equal == num_perm."""
        min_eq = int(self.threshold * self.num_perm)
        sigs = self.signatures(df).where(F.col("m0") != MERSENNE_31)
        return self.candidate_pairs(sigs).where(F.col("n_equal") >= min_eq)

    def pairs_oracle_sql(self, table: str = "documents") -> str:
        sigs = self.signatures_oracle_sql(table)
        r = self.rows_per_band
        band_match = " OR ".join(
            "(" + " AND ".join(f"L.m{band * r + j} = R.m{band * r + j}" for j in range(r)) + ")"
            for band in range(self.bands)
        )
        eq_sum = " + ".join(
            f"CASE WHEN L.m{i} = R.m{i} THEN 1 ELSE 0 END" for i in range(self.num_perm)
        )
        min_eq = int(self.threshold * self.num_perm)
        return f"""
WITH sigs0 AS ({sigs}),
sigs AS (SELECT * FROM sigs0 WHERE m0 <> {MERSENNE_31})
SELECT L.{self.id_col} AS a, R.{self.id_col} AS b, ({eq_sum})::BIGINT AS n_equal
FROM sigs L JOIN sigs R
  ON L.{self.id_col} < R.{self.id_col} AND ({band_match})
WHERE ({eq_sum}) >= {min_eq}
"""

    def get_params(self):
        return {"content_col": self.content_col, "id_col": self.id_col,
                "num_perm": self.num_perm, "bands": self.bands,
                "shingle_k": self.shingle_k, "threshold": self.threshold,
                "seed": self.seed, "max_bucket_size": self.max_bucket_size}
