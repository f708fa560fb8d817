"""dedup_corpus: near-duplicate detection over one generated corpus per op.

shingle_relation -> MinHashDedup.signatures -> candidate_pairs ->
verify_pairs (exact Jaccard >= ``THRESHOLD``) -> connected_components,
collecting the verified pairs and the component of every paired document.
Timed ops rotate over ``N_CORPORA`` same-size corpora with distinct content,
more than a run's window holds ops, so no timed op reads a corpus twice;
each warm-up op has a corpus of its own that no timed op reads. At this
size the op is bound by the job count of the iterative component loop and
its pins; executor work (shingling, hashing, shuffles) is a minority.
"""

from __future__ import annotations

import os
import random
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workloads.base import Workload

N_DOCS = 1200       # documents per corpus
N_CORPORA = 16      # timed corpora
FAMILIES = 200
CLOSE_COPIES = 2    # near-copies per original
VOCAB = 4000
DOC_WORDS = 60
EDIT_RATE = 0.05    # share of a near-copy's words replaced
FAR_EDIT_RATE = 0.2
SHINGLE_K = 3
NUM_PERM = 16
BANDS = 8
THRESHOLD = 0.5     # verified pairs have exact Jaccard >= this
SAMPLED_PAIRS = 20  # verified pairs recomputed in Python per op
WARMUP = 2

STAGES = ("shingle_relation", "signatures", "candidate_pairs",
          "verify_pairs", "connected_components")


def _corpus(rng, vocab):
    """``N_DOCS`` documents of ``DOC_WORDS`` words, the same shape for every
    seed: ``FAMILIES`` families of an original, ``CLOSE_COPIES`` near-copies
    (Jaccard well above the threshold) and, in every second family, one
    distant copy (often a candidate pair, mostly rejected by verification);
    the rest are unrelated documents."""
    docs = []
    for f in range(FAMILIES):
        orig = rng.integers(len(vocab), size=DOC_WORDS)
        docs.append(orig)
        rates = [EDIT_RATE] * CLOSE_COPIES + [FAR_EDIT_RATE] * (f % 2)
        for rate in rates:
            copy = orig.copy()
            pos = rng.choice(DOC_WORDS, int(rate * DOC_WORDS), replace=False)
            copy[pos] = rng.integers(len(vocab), size=len(pos))
            docs.append(copy)
    while len(docs) < N_DOCS:
        docs.append(rng.integers(len(vocab), size=DOC_WORDS))
    order = rng.permutation(N_DOCS)
    return {doc_id: " ".join(vocab[docs[j]]) for doc_id, j in enumerate(order)}


def shingles(text: str) -> set:
    toks = text.split()
    return {" ".join(toks[i:i + SHINGLE_K])
            for i in range(len(toks) - SHINGLE_K + 1)}


def components(pairs) -> dict:
    """node -> minimum node of its connected component (union-find)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class DedupCorpus(Workload):
    name = "dedup_corpus"
    metric_ops = 3

    def __init__(self, seed: int, data_dir: str):
        rng = np.random.default_rng(seed)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = np.array(sorted({
            "".join(rng.choice(letters, rng.integers(3, 10)))
            for _ in range(VOCAB)}))
        # corpora 0..WARMUP-1 serve the warm-up ops, the rest the timed ops
        self.paths, self.texts = [], []
        for c in range(WARMUP + N_CORPORA):
            docs = _corpus(rng, vocab)
            path = os.path.join(data_dir, f"corpus{c}.parquet")
            pq.write_table(pa.table({
                "doc_id": pa.array(list(docs), pa.int64()),
                "text": pa.array(list(docs.values()), pa.string())}), path)
            self.paths.append(path)
            self.texts.append(docs)
        copies = FAMILIES * CLOSE_COPIES + FAMILIES // 2
        self.sizes = {"docs_per_corpus": N_DOCS, "corpora": N_CORPORA,
                      "warmup_corpora": WARMUP,
                      "duplicate_rate": copies / N_DOCS,
                      "close_copies_per_family": CLOSE_COPIES,
                      "edit_rate": EDIT_RATE,
                      "distant_edit_rate": FAR_EDIT_RATE,
                      "vocab": VOCAB, "doc_words": DOC_WORDS,
                      "num_perm": NUM_PERM, "bands": BANDS,
                      "threshold": THRESHOLD}

    def setup(self, spark, state_dir: str):
        from systems_spark.dedup.minhash import MinHashDedup
        from systems_spark.dedup.ngram import NGramJaccardDedup

        self.spark = spark
        self.mh = MinHashDedup(num_perm=NUM_PERM, bands=BANDS,
                               shingle_k=SHINGLE_K)
        self.ng = NGramJaccardDedup(shingle_k=SHINGLE_K, threshold=THRESHOLD)
        return [-1 - j for j in range(WARMUP)]

    def units_per_op(self, i: int) -> int:
        return N_DOCS

    # -- the pipeline --------------------------------------------------
    def _stages(self, docs):
        """Stage callables; each takes the previous stage's output."""
        from pyspark.sql import functions as F

        from systems_spark.dedup.clusters import connected_components
        from systems_spark.dedup.minhash import MERSENNE_31

        sh = {}  # the pinned shingle relation, which the caller unpins

        def shingle_relation(_):
            sh["rel"] = self.ng.shingle_relation(docs)
            return sh["rel"]

        def signatures(rel):
            return self.mh.signatures(docs, shingle_rows=rel) \
                .where(F.col("m0") != MERSENNE_31)

        def candidate_pairs(sigs):
            return self.mh.candidate_pairs(sigs).select("a", "b")

        def verify_pairs(cands):
            # J >= t  <=>  inter >= t * (size_a + size_b - inter)
            v = self.ng.verify_pairs(docs, cands, shingles=sh["rel"])
            return v.where(F.col("inter") * 10 >= int(THRESHOLD * 10) * (
                F.col("size_a") + F.col("size_b") - F.col("inter")))

        def components_(verified):
            return connected_components(verified.select("a", "b"))

        return [shingle_relation, signatures, candidate_pairs, verify_pairs,
                components_], sh

    @staticmethod
    def _corpus(i: int) -> int:
        """Warm-up op ``-1 - j`` reads corpus ``j``; timed op ``i`` one of
        the ``N_CORPORA`` after them."""
        return -1 - i if i < 0 else WARMUP + i % N_CORPORA

    def _docs(self, i: int):
        return self.spark.read.parquet(self.paths[self._corpus(i)])

    def _composed(self, i: int):
        from systems_spark.pinning import pin, unpin

        stages, sh = self._stages(self._docs(i))
        df = None
        for stage in stages[:-1]:
            df = stage(df)
        verified = pin(df, corpus_scale=True)
        pairs = verified.collect()
        labels = stages[-1](verified)
        out = (pairs, labels.collect())
        unpin(verified)
        unpin(sh["rel"])
        return labels, out

    def op(self, i: int, tracer=None):
        if tracer is None:
            return self._composed(i)[1]
        with tracer.span(self.name) as sp:
            labels, out = self._composed(i)
        self._ops.append(([sp], [tracer.catalyst_ms(labels)]))
        return out

    # -- checks --------------------------------------------------------
    def check(self, i: int, out) -> bool:
        pairs, labels = out
        text = self.texts[self._corpus(i)]
        if not pairs or any(r["a"] >= r["b"] for r in pairs):
            return False
        for j in random.Random(i).sample(range(len(pairs)),
                                         min(SAMPLED_PAIRS, len(pairs))):
            r = pairs[j]
            sa, sb = shingles(text[r["a"]]), shingles(text[r["b"]])
            inter = len(sa & sb)
            union = len(sa) + len(sb) - inter
            if (r["inter"], r["size_a"], r["size_b"]) != (inter, len(sa), len(sb)):
                return False
            if inter < THRESHOLD * union or abs(r["jaccard"] - inter / union) > 1e-6:
                return False
        want = components((r["a"], r["b"]) for r in pairs)
        got = {r["node"]: r["component"] for r in labels}
        return got == want

    # -- traced run ----------------------------------------------------
    def trace_begin(self, tracer) -> None:
        self._ops, self._rdds = [], []
        self._stage = {n: [] for n in STAGES}
        self._cands, self._verified_frac = [], []

    def trace_after(self, i: int, tracer) -> None:
        import layers
        from systems_spark.pinning import unpin

        self._rdds.append(tracer.persistent_rdds())
        stages, sh = self._stages(self._docs(i))
        pins = layers.run_isolated(tracer, zip(STAGES, stages), None,
                                   self._stage)
        n_cands, n_verified = pins[2].count(), pins[3].count()
        self._cands.append(n_cands)
        self._verified_frac.append(n_verified / n_cands)
        for df in pins + [sh["rel"]]:
            unpin(df)

    def trace_end(self, tracer) -> dict:
        import layers

        vals = layers.op_metrics(self._ops)
        vals.update(layers.stage_metrics("dedup", self._stage))
        vals["dedup.candidate_pairs"] = statistics.median(self._cands)
        vals["dedup.verified_frac"] = statistics.median(self._verified_frac)
        vals["pinning.persistent_rdds_after_op"] = max(self._rdds)
        vals["pinning.pin_s"] = vals["dedup.shingle_relation_s"]
        return layers.with_units(vals)
