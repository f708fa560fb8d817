"""Exact n-gram Jaccard near-duplicate pairs.

Ground-truth (non-approximate) set Jaccard over word shingles:

    J(a,b) = |A∩B| / (|A| + |B| - |A∩B|)

Every path reads one per-document relation, ``(id_col, shingles,
set_size)``: the distinct word shingles of each document as an array and
their count. It is a pure projection of the documents (tokens fenced,
``array_distinct`` of the shingles, its ``size``) with no shuffle and one
row per document; documents with no shingles (NULL, empty, or fewer than k
tokens) are absent. :meth:`NGramJaccardDedup.shingle_relation` returns it
pinned so a composition builds it once.

- ``transform`` (all pairs): explodes the sets, groups doc ids per shingle
  to count each pair's intersection, and reads both set sizes from the
  relation.
- ``verify_pairs`` (candidate pairs): joins the pairs to the relation on
  both ends and intersects the two shingle arrays, so nothing is exploded.

All-integer arithmetic until the final ratio; the threshold test uses the
cross-multiplied integer form so the oracle matches exactly.

Scale note: the standalone ``transform`` shuffles one row per (shingle, doc)
and emits every pair sharing a shingle, so at 100 TB you run MinHashDedup
first and use ``verify_pairs`` on its candidates; the standalone transform
is for modest corpora / oracle checking. Extremely common shingles create
pair fan-out, so ``max_shingle_freq`` drops shingles shared by more than N
docs (boilerplate n-grams carry no dedup signal anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from systems_spark.functions.text import (
    tokens,
    word_shingles_from_tokens,
    word_shingles_sql,
)
from systems_spark.operators.base import Operator
from systems_spark.pinning import pin


class NGramJaccardDedup(Operator):
    def __init__(self, content_col: str = "text", id_col: str = "doc_id",
                 shingle_k: int = 3, threshold: float = 0.8,
                 max_shingle_freq: int = 0):
        self.content_col = content_col
        self.id_col = id_col
        self.shingle_k = shingle_k
        self.threshold = float(threshold)
        self.max_shingle_freq = int(max_shingle_freq)
        self.requires = (content_col, id_col)

    def _join_sets(self, pairs: DataFrame, sets: DataFrame) -> DataFrame:
        """pairs ⋈ sets AS _A ON a ⋈ sets AS _B ON b. The relation joins
        under its own column names on both ends, so both build sides are one
        canonical subplan: when it broadcasts, AQE reuses one
        BroadcastExchange for both joins."""
        return (pairs
                .join(sets.alias("_A"), F.col("a") == F.col(f"_A.{self.id_col}"))
                .join(sets.alias("_B"), F.col("b") == F.col(f"_B.{self.id_col}")))

    def transform(self, df: DataFrame) -> DataFrame:
        """(a, b, inter, size_a, size_b) with J ≥ threshold, a < b.

        Intersections come from the exploded sets: groupBy(shingle) +
        collect_list, generating ordered (a, b) pairs as an array op — one
        shuffle of (shingle, id) instead of a self-join (measured 2.6×
        faster). Set sizes are read from the same pinned relation."""
        sets = self.shingle_relation(df)
        grouped = (sets.select(self.id_col, F.explode("shingles").alias("shingle"))
                   .groupBy("shingle")
                   .agg(F.array_sort(F.collect_list(self.id_col)).alias("_ids")))
        n = F.size("_ids")
        pair_structs = F.flatten(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.transform(
                    F.sequence(i + F.lit(1), n),
                    lambda j: F.struct(
                        F.element_at(F.col("_ids"), i).alias("a"),
                        F.element_at(F.col("_ids"), j).alias("b"),
                    ),
                ),
            )
        )
        inter = (
            grouped.where(n >= 2)
            .select(F.explode(pair_structs).alias("_p"))
            .select("_p.a", "_p.b")
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        num, den = int(self.threshold * 1_000_000), 1_000_000
        return (
            self._join_sets(inter, sets)
            .select("a", "b", "inter",
                    F.col("_A.set_size").alias("size_a"),
                    F.col("_B.set_size").alias("size_b"))
            # J >= t  <=>  inter * den >= t*1e6 * (size_a + size_b - inter)
            .where(F.col("inter") * den >= num * (F.col("size_a") + F.col("size_b") - F.col("inter")))
        )

    def shingle_relation(self, df: DataFrame) -> DataFrame:
        """The pinned per-document relation ``(id_col, shingles, set_size)``
        (module docstring): one row per document with at least one shingle;
        under ``max_shingle_freq`` only retained shingles count. Built ONCE
        by a composition and shared by the stages that need the same
        feature space: pass it to ``verify_pairs(..., shingles=...)`` and to
        ``MinHashDedup.signatures(..., shingle_rows=...)``, which explodes
        it (min over distinct shingles equals min over all of them).

        The return value is the pin itself (a ``LogicalRDD`` at the plan
        root), so ``pinning.unpin`` releases it. The ``shingles`` column
        carries :meth:`feature_space` as column metadata, so a consumer can
        refuse a relation built over a different one
        (``MinHashDedup.signatures`` does)."""
        # fenced staging: _toks must be a real attribute, not an alias —
        # ProjectCollapsing would otherwise re-inline the tokenization into
        # every shingle-lambda element (measured 15× on this hot path; see
        # functions/fence.py)
        from systems_spark.functions.fence import fence_columns

        sets = (
            fence_columns(df.select(self.id_col, self.content_col),
                          _toks=tokens(F.col(self.content_col)))
            # k tokens or more <=> at least one shingle (NULL text: no row)
            .where(F.size("_toks") >= self.shingle_k)
            .select(self.id_col, F.array_distinct(word_shingles_from_tokens(
                F.col("_toks"), self.shingle_k)).alias("shingles"))
        )
        if self.max_shingle_freq > 0:
            sh = sets.select(self.id_col, F.explode("shingles").alias("shingle"))
            hot = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
                   .where(F.col("_f") > self.max_shingle_freq))
            sets = (sh.join(hot, "shingle", "left_anti")
                    .groupBy(self.id_col)
                    .agg(F.collect_list("shingle").alias("shingles")))
        return pin(sets.select(
            self.id_col,
            F.col("shingles").alias("shingles", metadata=self.feature_space()),
            F.size("shingles").cast("long").alias("set_size")),
            corpus_scale=True)

    def feature_space(self) -> dict:
        """The shingle definition a :meth:`shingle_relation` is built
        over: same tokenization, ``shingle_k``, ``content_col`` and
        ``max_shingle_freq`` ⇒ the same (id, shingles) rows."""
        return {"shingle_k": self.shingle_k, "content_col": self.content_col,
                "max_shingle_freq": self.max_shingle_freq}

    def verify_pairs(self, df: DataFrame, pairs: DataFrame,
                     shingles: "DataFrame | None" = None) -> DataFrame:
        """Exact-Jaccard verification of candidate (a, b) pairs from an
        approximate pass (minhash/simhash) — the scalable composition.
        Returns (a, b, inter, size_a, size_b, jaccard) for every pair whose
        documents share at least one shingle; ``pairs`` must hold each pair
        once (``candidate_pairs`` output does).

        Each pair joins the per-document relation on both ends;
        ``inter = size(array_intersect(A.shingles, B.shingles))`` and both
        sizes are read from the relation. Nothing is exploded or grouped,
        and at corpus sizes where the relation broadcasts, both joins read
        ONE reused BroadcastExchange (see ``_join_sets``).

        ``shingles``: a pre-built ``shingle_relation(df)`` frame to reuse
        (skips re-pinning when the caller already shares it with the
        signature stage). It must already be PINNED — pass the
        ``shingle_relation`` result itself, not a lazy frame of the same
        shape: it is read on both pair ends, and each lazy read re-runs the
        corpus tokenize+shingle pass."""
        sets = shingles if shingles is not None else self.shingle_relation(df)
        inter = F.size(F.array_intersect("_A.shingles", "_B.shingles")).cast("long")
        return (
            self._join_sets(pairs, sets)
            .select("a", "b", inter.alias("inter"),
                    F.col("_A.set_size").alias("size_a"),
                    F.col("_B.set_size").alias("size_b"))
            .where(F.col("inter") > 0)
            .withColumn(
                "jaccard",
                F.round(F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")), 6),
            )
        )

    def pairs_oracle_sql(self, table: str = "documents") -> str:
        shingles = word_shingles_sql(self.content_col, self.shingle_k)
        num, den = int(self.threshold * 1_000_000), 1_000_000
        freq_filter = ""
        if self.max_shingle_freq > 0:
            freq_filter = f"""
, freq AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {self.max_shingle_freq})
"""
        sh_src = "sh JOIN freq USING (shingle)" if self.max_shingle_freq > 0 else "sh"
        return f"""
WITH sh0 AS (
  SELECT {self.id_col}, unnest(list_distinct({shingles})) AS shingle FROM {table}
), sh AS (SELECT * FROM sh0){freq_filter},
shf AS (SELECT * FROM {sh_src}),
sizes AS (SELECT {self.id_col}, count(*) AS set_size FROM shf GROUP BY {self.id_col}),
inter AS (
  SELECT L.{self.id_col} AS a, R.{self.id_col} AS b, count(*) AS inter
  FROM shf L JOIN shf R ON L.shingle = R.shingle AND L.{self.id_col} < R.{self.id_col}
  GROUP BY 1, 2
)
SELECT a, b, inter, sa.set_size AS size_a, sb.set_size AS size_b
FROM inter
JOIN sizes sa ON sa.{self.id_col} = a
JOIN sizes sb ON sb.{self.id_col} = b
WHERE inter * {den} >= {num} * (sa.set_size + sb.set_size - inter)
"""

    def get_params(self):
        return {"content_col": self.content_col, "id_col": self.id_col,
                "shingle_k": self.shingle_k, "threshold": self.threshold,
                "max_shingle_freq": self.max_shingle_freq}
