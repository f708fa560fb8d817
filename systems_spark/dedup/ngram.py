"""Exact n-gram Jaccard near-duplicate pairs.

Ground-truth (non-approximate) set Jaccard over word shingles, computed
relationally: explode distinct shingles per doc, self-join on shingle to get
per-pair intersection counts, combine with per-doc set sizes:

    J(a,b) = |A∩B| / (|A| + |B| - |A∩B|)

All-integer arithmetic until the final ratio; the threshold test uses the
cross-multiplied integer form so the oracle matches exactly.

Scale note: this shuffles one row per (shingle, doc) — at 100 TB you run
MinHashDedup first and use this only to verify candidate pairs (the
``verify_pairs`` helper joins a candidate set); the standalone transform is
for modest corpora / oracle checking. Extremely common shingles create join
skew, so ``max_shingle_freq`` drops shingles shared by more than N docs
(boilerplate n-grams carry no dedup signal anyway).
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

    def _shingle_rows(self, df: DataFrame) -> DataFrame:
        # fenced staging: _toks must be a real attribute, not an alias —
        # ProjectCollapsing would otherwise re-inline the tokenization into
        # every shingle-lambda element (measured 15× on this hot path; see
        # functions/fence.py)
        from systems_spark.functions.fence import fence_columns

        sh = (
            fence_columns(
                df.select(self.id_col, self.content_col),
                _toks=tokens(F.col(self.content_col)),
            )
            .select(
                F.col(self.id_col),
                F.explode(
                    F.array_distinct(word_shingles_from_tokens(F.col("_toks"), self.shingle_k))
                ).alias("shingle"),
            )
        )
        if self.max_shingle_freq > 0:
            freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
            sh = sh.join(
                F.broadcast(freq.where(F.col("_f") <= self.max_shingle_freq)), "shingle"
            ).drop("_f")
        return sh

    def transform(self, df: DataFrame) -> DataFrame:
        """(a, b, inter, size_a, size_b) with J ≥ threshold, a < b.

        Set sizes come from a pure per-row projection (``size(array_distinct
        (shingles))``) — no explode, no shuffle, no caching; only the
        pair-intersection needs the exploded shingle relation."""
        # r12 perf: pin the exploded shingle relation and the per-doc size
        # table (non-eager localCheckpoint). `sizes` is joined twice (a and
        # b sides) and `sh` feeds both the pair stage and (under a freq
        # cap) the sizes — left lazy, each reference re-ran the corpus
        # tokenize+shingle pass (dedup_ngram's before-plan read the corpus
        # parquet 3×). Computed once per action, rebuilt per call.
        sh = pin(self._shingle_rows(df), corpus_scale=True)
        if self.max_shingle_freq > 0:
            # sizes must count only retained shingles → derive from sh
            sizes = sh.groupBy(self.id_col).agg(F.count(F.lit(1)).alias("set_size"))
        else:
            from systems_spark.functions.fence import fence_columns

            sizes = fence_columns(
                df.select(self.id_col, self.content_col),
                _toks=tokens(F.col(self.content_col)),
            ).select(
                F.col(self.id_col),
                F.size(
                    F.array_distinct(word_shingles_from_tokens(F.col("_toks"), self.shingle_k))
                ).cast("long").alias("set_size"),
            )
        # (sizes stays lazy: it is a cheap projection / small agg, and the
        # planner's size estimate keeps its two join uses broadcastable)
        # pair intersections via groupBy(shingle)+collect_list, generating
        # ordered (a, b) pairs as an array op — computes the shingle
        # relation ONCE and replaces the self-join (measured 2.6× faster;
        # one shuffle of (shingle, id) instead of two join legs)
        grouped = sh.groupBy("shingle").agg(
            F.array_sort(F.collect_list(self.id_col)).alias("_ids")
        )
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
            inter.join(sizes.withColumnRenamed(self.id_col, "a")
                       .withColumnRenamed("set_size", "size_a"), "a")
            .join(sizes.withColumnRenamed(self.id_col, "b")
                  .withColumnRenamed("set_size", "size_b"), "b")
            # J >= t  <=>  inter * den >= t*1e6 * (size_a + size_b - inter)
            .where(F.col("inter") * den >= num * (F.col("size_a") + F.col("size_b") - F.col("inter")))
            .select("a", "b", "inter", "size_a", "size_b")
        )

    def shingle_relation(self, df: DataFrame) -> DataFrame:
        """The pinned DISTINCT (id_col, shingle) relation — exposed so a
        composition can build it ONCE and share it between the stages that
        need the same feature space (r13, guide §2.4: the sigs→candidates→
        verify pipelines tokenized + shingled the corpus once for
        ``MinHashDedup.signatures`` and again here; min-over-distinct equals
        min-over-all, so both stages can read this one pin). Pass the
        result to ``verify_pairs(..., shingles=...)`` and to
        ``MinHashDedup.signatures(..., shingle_rows=...)``.

        The ``shingle`` column carries :meth:`feature_space` as column
        metadata, so a consumer can refuse a relation built over a
        different one (``MinHashDedup.signatures`` does)."""
        sh = self._shingle_rows(df).withMetadata("shingle",
                                                 self.feature_space())
        return pin(sh, corpus_scale=True)

    def feature_space(self) -> dict:
        """The shingle definition a :meth:`shingle_relation` is built
        over: same tokenization, ``shingle_k``, ``content_col`` and
        ``max_shingle_freq`` ⇒ the same (id, shingle) rows."""
        return {"shingle_k": self.shingle_k, "content_col": self.content_col,
                "max_shingle_freq": self.max_shingle_freq}

    def verify_pairs(self, df: DataFrame, pairs: DataFrame,
                     shingles: "DataFrame | None" = None) -> DataFrame:
        """Exact-Jaccard verification of candidate (a, b) pairs from an
        approximate pass (minhash/simhash) — the scalable composition.

        Join order matters: pairs⋈shingles(a) first, THEN an equi-join on
        (b, shingle) — keeping 'shingle' in the join key avoids the per-pair
        |A|×|B| cross product a filter-after-join would materialize.

        ``shingles``: a pre-built ``shingle_relation(df)`` frame to reuse
        (skips re-pinning when the caller already shares it with the
        signature stage). It must already be PINNED — pass the
        ``shingle_relation`` result itself, not a lazy frame of the same
        shape: it is referenced four times here (a side, b side, and the
        sizes joined on both pair ends), and each lazy reference re-runs
        the corpus tokenize+shingle pass."""
        sh = shingles if shingles is not None else self.shingle_relation(df)
        a_sh = sh.withColumnRenamed(self.id_col, "a")
        b_sh = sh.withColumnRenamed(self.id_col, "b")
        inter = (
            pairs.join(a_sh, "a")
            .join(b_sh, ["b", "shingle"])
            .groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter"))
        )
        sizes = sh.groupBy(self.id_col).agg(F.count(F.lit(1)).alias("set_size"))
        return (
            inter.join(sizes.withColumnRenamed(self.id_col, "a")
                       .withColumnRenamed("set_size", "size_a"), "a")
            .join(sizes.withColumnRenamed(self.id_col, "b")
                  .withColumnRenamed("set_size", "size_b"), "b")
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
