"""Property tests for the dedup family on randomized corpora.

The reference has no property-based tests (SURVEY.md §5 — ad-hoc
random.sample only); these pin the *algebraic* guarantees each strategy
advertises, independent of any fixed fixture:

- NGramJaccardDedup: pairs == a brute-force Python Jaccard over the same
  shingle definition (exact algorithm, so exact equality).
- MinHashDedup banding: candidate generation is a pure function of the
  signatures — identical docs ALWAYS collide (recall=1 at J=1); and every
  reported pair's exact Jaccard is ≥ 0 with bands agreeing (soundness of
  the banding join).
- ExactDedup: groups == hash-of-normalized-text equality classes.
"""

import os
import sys

import pytest
from hypothesis import example, given, settings, strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from systems_spark.dedup import ExactDedup, MinHashDedup, NGramJaccardDedup

# corpora: words drawn from a small alphabet so overlaps/dups are likely
WORD = st.text(alphabet="abc", min_size=1, max_size=3)
DOC = st.lists(WORD, min_size=0, max_size=12).map(" ".join)
CORPUS = st.lists(DOC, min_size=2, max_size=12)


def _shingles(text: str, k: int) -> set:
    toks = text.split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


@settings(max_examples=6, deadline=None)
@given(docs=CORPUS)
def test_ngram_jaccard_matches_bruteforce(spark, docs):
    k, thr = 2, 0.4
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.a, r.b) for r in
        NGramJaccardDedup(threshold=thr, shingle_k=k,
                          content_col="text", id_col="doc_id")(df).collect()
    }

    want = set()
    sh = {i: _shingles(d, k) for i, d in rows}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = sh[i], sh[j]
            if not a or not b:
                continue
            jac = len(a & b) / len(a | b)
            if jac >= thr:
                want.add((i, j))
    assert got == want


@settings(max_examples=6, deadline=None)
@given(docs=st.lists(DOC.filter(lambda d: len(d.split()) >= 3),
                     min_size=2, max_size=8))
def test_minhash_identical_docs_always_pair(spark, docs):
    """J=1 ⇒ identical signatures ⇒ identical bands ⇒ always a candidate:
    recall at Jaccard 1.0 is exactly 1 regardless of (P, B)."""
    # duplicate every doc once, with distinct ids
    rows = [(i, d) for i, d in enumerate(docs)]
    rows += [(1000 + i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.a, r.b) for r in
        MinHashDedup(threshold=0.9, content_col="text",
                     id_col="doc_id")(df).collect()
    }
    for i, d in enumerate(docs):
        assert (i, 1000 + i) in pairs, f"identical pair missing for {d!r}"


def test_minhash_max_bucket_size_caps_hot_buckets(spark):
    """VERDICT r5 item 4: a C-doc identical family fills every band
    bucket with C members; with max_bucket_size < C those buckets are
    dropped from both sides — zero family pairs — while a 2-doc genuine
    pair (bucket size 2) survives untouched. Cap off = exact (default):
    a generous cap reproduces the uncapped output bit-for-bit."""
    family = [(i, "the same boilerplate text repeated wholesale everywhere")
              for i in range(20)]
    pair = [(100, "a rare duplicated document body"),
            (101, "a rare duplicated document body")]
    df = spark.createDataFrame(family + pair, "doc_id long, text string")

    base = {(r.a, r.b) for r in MinHashDedup(
        threshold=0.9, content_col="text", id_col="doc_id")(df).collect()}
    assert (100, 101) in base and len(base) == 190 + 1  # C(20,2) + 1

    capped = {(r.a, r.b) for r in MinHashDedup(
        threshold=0.9, content_col="text", id_col="doc_id",
        max_bucket_size=10)(df).collect()}
    assert capped == {(100, 101)}

    generous = {(r.a, r.b) for r in MinHashDedup(
        threshold=0.9, content_col="text", id_col="doc_id",
        max_bucket_size=1000)(df).collect()}
    assert generous == base

    import pytest
    with pytest.raises(ValueError):
        MinHashDedup(max_bucket_size=1)


@settings(max_examples=6, deadline=None)
@given(docs=CORPUS)
def test_exact_dedup_equals_python_grouping(spark, docs):
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    op = ExactDedup(content_col="text", id_col="doc_id")

    def norm(d):
        import re
        return re.sub(r"\s+", " ", d.lower()).strip()

    want = {}
    for i, d in rows:
        want.setdefault(norm(d), set()).add(i)

    kept = {r.doc_id for r in op(df).collect()}
    assert kept == {min(v) for v in want.values()}

    groups = {r.kept_id: r.group_size for r in op.duplicate_groups(df).collect()}
    assert groups == {min(v): len(v) for v in want.values() if len(v) > 1}


def _uf_components(n_nodes_edges):
    """Reference union-find: {node: min id in its component}."""
    edges = n_nodes_edges
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@settings(max_examples=15, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(lambda e: e[0] != e[1]),
    min_size=1, max_size=60,
))
def test_connected_components_matches_union_find(spark, edges):
    from systems_spark.dedup import connected_components

    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.node: r.component
           for r in connected_components(df).collect()}
    assert got == _uf_components(edges)


def test_connected_components_chain_converges_fast(spark, monkeypatch):
    """A 64-node path graph needs O(log n) rounds with pointer jumping —
    max_iterations=10 would fail a one-hop-per-round propagation (which
    needs 63) but must succeed here. The loop is forced: a graph this
    small otherwise resolves on the driver."""
    from systems_spark.dedup import canonical_documents, clusters, connected_components

    monkeypatch.setattr(clusters, "LOCAL_RESOLVE_MAX_EDGES", 0)

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "a long, b long"
    )
    got = {r.node: r.component
           for r in connected_components(chain, max_iterations=10).collect()}
    assert got == {i: 0 for i in range(64)}

    cd = canonical_documents(chain).collect()
    assert all(r.canonical_id == 0 and r.cluster_size == 64 for r in cd)
    assert sorted(r.doc_id for r in cd) == list(range(64))


def test_connected_components_giant_skewed_cluster(spark, monkeypatch):
    """VERDICT r3 item 4: one giant cluster means the pointer-jump
    self-join key concentrates on the component min — the maximally
    skewed case. A 100k-member star (all edges share node 0: hot key from
    round one) plus a 4096-node chain (needs the full log2 pointer-jump
    depth, and its converged rows all carry the chain min) must both
    resolve correctly within the log-round budget, with AQE skew-join
    enabled as it is in the shared session. The loop is forced: 104k
    edges are under the driver-resolve cap."""
    from pyspark.sql import functions as F

    from systems_spark.dedup import clusters, connected_components

    monkeypatch.setattr(clusters, "LOCAL_RESOLVE_MAX_EDGES", 0)

    star_n, chain_n, base = 100_000, 4096, 10_000_000
    star = spark.range(1, star_n).select(
        F.lit(0).alias("a"), F.col("id").alias("b")
    )
    chain = spark.range(chain_n - 1).select(
        (F.col("id") + base).alias("a"), (F.col("id") + base + 1).alias("b")
    )
    comp = connected_components(star.union(chain), max_iterations=18)
    agg = {
        r.component: (r.n, r.mn, r.mx)
        for r in comp.groupBy("component").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("node").alias("mn"),
            F.max("node").alias("mx"),
        ).collect()
    }
    assert agg == {
        0: (star_n, 0, star_n - 1),
        base: (chain_n, base, base + chain_n - 1),
    }


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
    min_size=2, max_size=40,
), st.integers(1, 39))
def test_incremental_components_matches_full_recompute(spark, edges, split):
    """Folding a batch of new edges into standing labels must equal a
    full recompute over all edges — including bridges that merge old
    clusters and brand-new nodes unseen by the base run."""
    from systems_spark.dedup import connected_components, incremental_components

    split = min(split, len(edges) - 1)
    base, delta = edges[:split], edges[split:]
    base_df = spark.createDataFrame(base, "a long, b long")
    delta_df = spark.createDataFrame(delta, "a long, b long")
    labels = connected_components(base_df)
    got = {r.node: r.component
           for r in incremental_components(labels, delta_df).collect()}
    assert got == _uf_components(edges)


def test_incremental_components_bridge_and_untouched(spark):
    """Directed scenario: an untouched cluster keeps its label via the
    anti-join pass-through; a bridge edge merges two old clusters to the
    smaller min; a batch-internal edge creates a brand-new cluster."""
    from systems_spark.dedup import connected_components, incremental_components

    base = spark.createDataFrame(
        [(0, 1), (1, 2),      # cluster A (min 0)
         (10, 11),            # cluster B (min 10)
         (20, 21), (21, 22)], # cluster C (min 20) — untouched
        "a long, b long")
    labels = connected_components(base)
    delta = spark.createDataFrame(
        [(2, 10),             # bridge A—B → all relabel to 0
         (30, 31)],           # brand-new cluster (min 30)
        "a long, b long")
    got = {r.node: r.component
           for r in incremental_components(labels, delta).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 0, 11: 0,
                   20: 20, 21: 20, 22: 20,
                   30: 30, 31: 30}

    # boundary shapes: empty delta passes labels through untouched;
    # empty labels (first run) degrade to a plain full resolve
    empty_edges = spark.createDataFrame([], "a long, b long")
    pass_through = {(r.node, r.component) for r in
                    incremental_components(labels, empty_edges).collect()}
    assert pass_through == {(r.node, r.component) for r in labels.collect()}
    empty_labels = spark.createDataFrame([], "node long, component long")
    first_run = {r.node: r.component for r in
                 incremental_components(empty_labels, base).collect()}
    assert first_run == {r.node: r.component for r in labels.collect()}


def test_connected_components_reliable_checkpoint(spark, checkpoint_dir,
                                                  monkeypatch):
    """With a checkpoint dir set, the label loop's round pins become
    RELIABLE checkpoints (files in the dir — they survive executor loss on
    a real cluster) with no option to pass, and the answer is unchanged.
    The loop is forced: the driver-side path writes no checkpoint."""
    from systems_spark.dedup import clusters, connected_components

    monkeypatch.setattr(clusters, "LOCAL_RESOLVE_MAX_EDGES", 0)

    edges = [(1, 2), (2, 3), (10, 11), (20, 20)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.node: r.component
           for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}
    written = [p for p in checkpoint_dir.rglob("rdd-*") if p.is_dir()]
    assert written, "no reliable checkpoint files were written"


@settings(max_examples=6, deadline=None)
@given(docs=CORPUS, nsplit=st.integers(1, 11))
def test_minhash_incremental_pairs_match_full(spark, docs, nsplit):
    """incremental_pairs(corpus, new) must equal the full candidate_pairs
    over corpus+new RESTRICTED to pairs touching >=1 new doc — and the
    union standing∪delta must equal the full pair set (the invariant the
    dedup_minhash_incremental lane's full-recompute oracle rests on)."""
    from pyspark.sql import functions as F

    from systems_spark.functions.hashing import MERSENNE_31

    nsplit = min(nsplit, max(len(docs) - 1, 1))
    rows = [(i, d) for i, d in enumerate(docs)]
    mh = MinHashDedup(num_perm=8, bands=4, shingle_k=2, threshold=0.0)
    full = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = full.where(F.col("doc_id") < nsplit)
    new = full.where(F.col("doc_id") >= nsplit)
    sig_all = mh.signatures(full).where(F.col("m0") != MERSENNE_31)
    sig_c = mh.signatures(corpus).where(F.col("m0") != MERSENNE_31)
    sig_n = mh.signatures(new).where(F.col("m0") != MERSENNE_31)
    full_pairs = {(r.a, r.b): r.n_equal
                  for r in mh.candidate_pairs(sig_all).collect()}
    standing = {(r.a, r.b): r.n_equal
                for r in mh.candidate_pairs(sig_c).collect()}
    delta = {(r.a, r.b): r.n_equal
             for r in mh.incremental_pairs(sig_c, sig_n).collect()}
    want_delta = {p: n for p, n in full_pairs.items() if p[1] >= nsplit}
    assert delta == want_delta
    assert not (set(standing) & set(delta))
    assert {**standing, **delta} == full_pairs


def test_minhash_incremental_pairs_hot_bucket_cap(spark):
    """With max_bucket_size set, the cap is computed over the UNION
    explode: a bucket that is small in the corpus alone but hot after the
    batch arrives is dropped, matching a full recompute at the same
    corpus state."""
    from pyspark.sql import functions as F

    from systems_spark.functions.hashing import MERSENNE_31

    docs = [(i, "x y z w v u") for i in range(6)]  # identical -> one bucket
    mh = MinHashDedup(num_perm=8, bands=4, shingle_k=2, threshold=0.0,
                      max_bucket_size=4)
    full = spark.createDataFrame(docs, "doc_id long, text string")
    sig_c = mh.signatures(full.where(F.col("doc_id") < 3)).where(
        F.col("m0") != MERSENNE_31)
    sig_n = mh.signatures(full.where(F.col("doc_id") >= 3)).where(
        F.col("m0") != MERSENNE_31)
    # union bucket holds 6 > 4 docs in every band -> all dropped
    assert mh.incremental_pairs(sig_c, sig_n).count() == 0
    # full recompute at the same state drops them too
    sig_all = mh.signatures(full).where(F.col("m0") != MERSENNE_31)
    assert mh.candidate_pairs(sig_all).count() == 0


def test_pair_quality_report_hand_computed(spark):
    """Harness counts on a hand-built truth/pred: normalization flips
    reversed pairs, duplicates collapse, empty pred yields NULL
    precision (integer-DIV discipline)."""
    from systems_spark.dedup import pair_quality_report

    truth = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "a long, b long")
    fam = {
        # (2,1) normalizes to the true (1,2); (7,8) is a false positive;
        # duplicate (3,4) collapses
        "good": spark.createDataFrame(
            [(2, 1), (3, 4), (3, 4), (7, 8)], "a long, b long"),
        "empty": spark.createDataFrame([], "a long, b long"),
    }
    got = {r.family: r for r in pair_quality_report(fam, truth).collect()}
    g = got["good"]
    assert (g.n_pred, g.n_truth, g.n_hit) == (3, 3, 2)
    assert g.precision_micros == 666666 and g.recall_micros == 666666
    e = got["empty"]
    assert (e.n_pred, e.n_hit) == (0, 0)
    assert e.precision_micros is None and e.recall_micros == 0


def test_pair_quality_report_sql_twin_matches(spark):
    """The generic SQL twin reproduces the Spark report bit-for-bit on
    inline VALUES families (different pair column names per family)."""
    import duckdb

    from systems_spark.dedup import (pair_quality_report,
                                     pair_quality_report_sql)

    truth = spark.createDataFrame([(1, 2), (3, 4)], "a long, b long")
    fam = {"f1": spark.createDataFrame([(2, 1), (5, 6)], "a long, b long")}
    got = sorted(tuple(r) for r in pair_quality_report(fam, truth).collect())
    sql = pair_quality_report_sql(
        {"f1": ("SELECT * FROM (VALUES (2, 1), (5, 6)) t(x, y)", "x", "y")},
        "SELECT * FROM (VALUES (1, 2), (3, 4)) t(a, b)")
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


def test_embedding_lsh_incremental_pairs_match_full(spark):
    """Embedding-LSH incremental pairs == the full LSH transform
    restricted to pairs touching a new vector; standing ∪ delta == the
    full pair set (the dedup_embedding_incremental oracle invariant)."""
    import math
    import random

    from pyspark.sql import functions as F

    from systems_spark.dedup import EmbeddingDedup

    rnd = random.Random(11)

    def vec(seed=None):
        v = [rnd.gauss(0, 1) for _ in range(8)]
        n = math.sqrt(sum(x * x for x in v))
        return [float(x / n) for x in v]

    base = [vec() for _ in range(6)]
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v))
        # near-dup twin with a slight perturbation
        rows.append((2 * i + 1,
                     [float(x + rnd.gauss(0, 0.02)) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    op = EmbeddingDedup(threshold=0.9, strategy="lsh", dim=8,
                        n_tables=4, n_planes=4)
    split = 7
    corpus = df.where(F.col("vec_id") < split)
    batch = df.where(F.col("vec_id") >= split)
    full = {(r.a, r.b): r.cosine for r in op.transform(df).collect()}
    standing = {(r.a, r.b): r.cosine
                for r in op.transform(corpus).collect()}
    delta = {(r.a, r.b): r.cosine
             for r in op.incremental_pairs(op.signatures(corpus),
                                           op.signatures(batch)).collect()}
    want_delta = {p: c for p, c in full.items() if p[1] >= split}
    assert delta == want_delta
    assert not (set(standing) & set(delta))
    assert {**standing, **delta} == full
    with pytest.raises(ValueError, match="lsh"):
        EmbeddingDedup(strategy="exact").incremental_pairs(corpus, batch)


def test_simhash_incremental_pairs_match_full(spark):
    """Simhash incremental pairs == the full transform restricted to
    pairs touching a new doc; standing ∪ delta == the full pair set
    (the dedup_simhash_incremental oracle invariant)."""
    from pyspark.sql import functions as F

    from systems_spark.dedup import SimHashDedup

    run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(0, f"{run} one"), (1, f"{run} two"), (2, f"{run} three"),
         (3, ""), (4, f"{run} four"), (5, "wholly different text body")],
        "doc_id long, text string")
    op = SimHashDedup(max_hamming=7)
    split = 3
    corpus = docs.where(F.col("doc_id") < split)
    batch = docs.where(F.col("doc_id") >= split)
    full = {(r.a, r.b): r.hamming for r in op.transform(docs).collect()}
    standing = {(r.a, r.b): r.hamming
                for r in op.transform(corpus).collect()}
    cs = op.signatures(corpus, nonempty_only=True)
    ns = op.signatures(batch, nonempty_only=True)
    delta = {(r.a, r.b): r.hamming
             for r in op.incremental_pairs(cs, ns).collect()}
    want_delta = {p: h for p, h in full.items() if p[1] >= split}
    assert delta == want_delta
    assert not (set(standing) & set(delta))
    assert {**standing, **delta} == full


def test_sql_label_and_identifier_validation():
    """ADVICE r7: names interpolated into generated SQL are charset-
    restricted, not escaped — a quote in a label/column must raise."""
    import pytest

    from systems_spark.dedup.eval import pair_quality_report_sql
    from systems_spark.functions.pii import k_anonymity_report_sql

    with pytest.raises(ValueError, match="family label"):
        pair_quality_report_sql(
            {"bad'name": ("SELECT 1 AS a, 2 AS b", "a", "b")},
            "SELECT 1 AS a, 2 AS b")
    # clean labels still compose
    sql = pair_quality_report_sql(
        {"ok_name-1": ("SELECT 1 AS a, 2 AS b", "a", "b")},
        "SELECT 1 AS a, 2 AS b")
    assert "ok_name-1" in sql

    with pytest.raises(ValueError, match="bare identifier"):
        k_anonymity_report_sql("SELECT 1 AS x", ["x; DROP TABLE t"])
    assert "GROUP BY x" in k_anonymity_report_sql("SELECT 1 AS x", ["x"])


def test_decremental_components_matches_full_recompute(spark):
    """Random graphs, random delete sets: folding deletions into a
    standing labeling equals re-resolving the surviving pair set from
    scratch (splits included), with survivors that lost every pair
    becoming singletons."""
    import random

    from systems_spark.dedup import (connected_components,
                                     decremental_components)

    rng = random.Random(17)
    for trial in range(4):
        n = rng.randint(6, 14)
        m = rng.randint(n, 2 * n)
        pairs = sorted({tuple(sorted((rng.randrange(n), rng.randrange(n))))
                        for _ in range(m)})
        pairs = [(a, b) for a, b in pairs if a != b] or [(0, 1)]
        nodes = sorted({x for p in pairs for x in p})
        deleted = sorted(rng.sample(nodes, rng.randint(1, len(nodes) // 2)))

        # python reference: union-find over surviving pairs + singletons
        surv = [p for p in pairs if p[0] not in deleted
                and p[1] not in deleted]
        parent = {x: x for x in nodes if x not in deleted}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in surv:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: min(y for y in parent if find(y) == find(x))
                for x in parent}

        pdf = spark.createDataFrame(pairs, "a long, b long")
        labels = connected_components(pdf)
        ddf = spark.createDataFrame([(d,) for d in deleted], "node long")
        got = {r.node: r.component
               for r in decremental_components(labels, pdf, ddf).collect()}
        assert got == want, f"trial {trial}: {got} != {want}"


def test_decremental_split_bridge(spark):
    """Deleting the only bridge splits a component in two, and deleting
    the component-min node relabels to the next min."""
    from systems_spark.dedup import (connected_components,
                                     decremental_components)

    # 1-2-3 bridge 3-10, 10-11; deleting 3 splits {1,2} from {10,11};
    # also delete 1 so the left component relabels to 2
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 10), (10, 11)], "a long, b long")
    labels = connected_components(pairs)
    deleted = spark.createDataFrame([(3,), (1,)], "node long")
    got = {r.node: r.component
           for r in decremental_components(labels, pairs, deleted).collect()}
    assert got == {2: 2, 10: 10, 11: 10}


def test_incremental_local_and_distributed_resolve_identical(spark,
                                                              monkeypatch):
    """Incremental/decremental folds resolve their batch-proportional
    touched subgraph through connected_components: on the driver (bounded
    collect + union-find) under LOCAL_RESOLVE_MAX_EDGES and through the
    distributed loop above it. Both paths must be bit-equal — component =
    min node id is a graph property, not an algorithm artifact —
    including bridges, new nodes, and the decremental split-back case."""
    from systems_spark.dedup import clusters, connected_components, incremental_components
    from systems_spark.dedup.clusters import decremental_components

    def folded(cap, fold, *args):
        with monkeypatch.context() as m:
            m.setattr(clusters, "LOCAL_RESOLVE_MAX_EDGES", cap)
            return {(r.node, r.component) for r in fold(*args).collect()}

    base = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (22, 23)],
        "a long, b long")
    labels = connected_components(base)
    delta = spark.createDataFrame([(2, 10), (30, 31), (31, 32)],
                                  "a long, b long")
    local = {(r.node, r.component)
             for r in incremental_components(labels, delta).collect()}
    dist = folded(0, incremental_components, labels, delta)
    # a cap under the subgraph's edge count: collected, then the loop
    forced_fallback = folded(2, incremental_components, labels, delta)
    assert local == dist == forced_fallback

    merged = connected_components(base.unionByName(delta))
    pairs = base.unionByName(delta)
    deleted = spark.createDataFrame([(21,)], "node long")
    dl = {(r.node, r.component)
          for r in decremental_components(merged, pairs, deleted).collect()}
    dd = folded(0, decremental_components, merged, pairs, deleted)
    assert dl == dd
    # 21 removed: 20 singles out, 22-23 re-pair under min 22
    assert (20, 20) in dl and (22, 22) in dl and (23, 22) in dl
    assert all(n != 21 for n, _ in dl)


@settings(max_examples=6, deadline=None)
@given(docs=CORPUS)
def test_signatures_from_shared_shingle_relation_identical(spark, docs):
    """A sigs→candidates→verify composition shares ONE pinned per-document
    shingle-set relation between MinHashDedup.signatures and
    NGramJaccardDedup.verify_pairs. min over distinct shingles equals min
    over all shingles, so after the m0-sentinel filter (shingle-less docs
    are absent from the relation but carry M31 sentinels on the
    explode_outer path) both signature paths must be row-identical."""
    from pyspark.sql import functions as F

    mh = MinHashDedup(shingle_k=2, threshold=0.3)
    ng = NGramJaccardDedup(shingle_k=2)
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sent = 2147483647
    base = {tuple(r) for r in
            mh.signatures(df).where(F.col("m0") != sent).collect()}
    sh = ng.shingle_relation(df)
    shared = {tuple(r) for r in
              mh.signatures(df, shingle_rows=sh)
              .where(F.col("m0") != sent).collect()}
    assert shared == base
    # the relation: one row per doc with a shingle, its distinct shingles
    # and their count
    want = {i: _shingles(d, 2) for i, d in rows if _shingles(d, 2)}
    got = sh.collect()
    assert {r.doc_id: set(r.shingles) for r in got} == want
    assert all(r.set_size == len(r.shingles) for r in got)


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)),
    min_size=1, max_size=40,
))
def test_connected_components_equals_scc_of_symmetrized(spark, edges):
    """Undirected CC is SCC over the symmetrized edge set: both run the one
    min-label loop, and on symmetric edges mutual reachability is plain
    reachability. Self-loops included (each endpoint is still a node)."""
    from systems_spark.dedup import connected_components
    from systems_spark.operators.scc import strongly_connected_components

    df = spark.createDataFrame(edges, "a long, b long")
    sym = df.union(df.select("b", "a"))
    cc = {r.node: r.component for r in connected_components(df).collect()}
    scc = {r.node: r.component for r in strongly_connected_components(
        sym, src="a", dst="b").collect()}
    assert cc == scc


def test_signatures_reject_mismatched_shingle_relation(spark):
    """signatures(shingle_rows=...) refuses a relation built over another
    feature space (shingle k, content column, or a max_shingle_freq cap
    that drops shingles), and one that did not come from shingle_relation
    at all — each would silently yield wrong signatures."""
    rows = [(0, "a b c d e"), (1, "a b c d f"), (2, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = MinHashDedup(shingle_k=2)
    ok = NGramJaccardDedup(shingle_k=2).shingle_relation(df)
    assert mh.signatures(df, shingle_rows=ok).count() == 3
    bad = [
        NGramJaccardDedup(shingle_k=3).shingle_relation(df),
        NGramJaccardDedup(shingle_k=2, max_shingle_freq=1)
        .shingle_relation(df),
        NGramJaccardDedup(shingle_k=2, content_col="body")
        .shingle_relation(df.withColumnRenamed("text", "body")),
        # the right shape, but not built by shingle_relation
        spark.createDataFrame([(0, ["a b"], 1)],
                              "doc_id long, shingles array<string>, "
                              "set_size long"),
        # the exploded (id, shingle) shape of earlier versions
        spark.createDataFrame([(0, "a b")], "doc_id long, shingle string"),
    ]
    for rel in bad:
        with pytest.raises(ValueError, match="feature space"):
            mh.signatures(df, shingle_rows=rel)


# corpora for the verify property: NULL text, empty text, text shorter than
# k, and duplicated texts are all drawn, and each corpus repeats its first
# two documents under new ids
@st.composite
def _verify_corpora(draw):
    docs = draw(st.lists(st.one_of(st.none(), st.just(""), st.just("a"),
                                   DOC), min_size=2, max_size=10))
    return docs + docs[:2]


def _python_verified(docs, pairs, k, cap):
    """(a, b) -> (inter, size_a, size_b, jaccard) by exact set arithmetic,
    for the pairs whose shingle sets intersect; under ``cap`` a shingle
    held by more than ``cap`` documents is dropped from every set."""
    sets = {i: _shingles(d or "", k) for i, d in enumerate(docs)}
    if cap:
        df = {}
        for s in sets.values():
            for x in s:
                df[x] = df.get(x, 0) + 1
        sets = {i: {x for x in s if df[x] <= cap} for i, s in sets.items()}
    out = {}
    for a, b in pairs:
        inter = len(sets[a] & sets[b])
        if inter:
            sa, sb = len(sets[a]), len(sets[b])
            out[(a, b)] = (inter, sa, sb, inter / (sa + sb - inter))
    return out


@settings(max_examples=8, deadline=None)
@given(docs=_verify_corpora(), cap=st.sampled_from([0, 1, 2]))
@example(docs=[None, "", "a", "a b", "a b c", "a b c", "b c a b", "a b c"],
         cap=2)
@example(docs=[None, "", "a b c", "a b c a"], cap=0)
def test_verify_pairs_matches_python_jaccard(spark, docs, cap):
    """verify_pairs over the per-document relation equals exact Jaccard in
    Python over every candidate pair: inter, both set sizes and the
    6-digit jaccard; pairs sharing no shingle, and docs with no shingles
    (NULL, empty, shorter than k, or every shingle over the cap), emit no
    row. The standalone transform, whose sizes come from the same
    relation, keeps exactly the pairs at or over its threshold."""
    k, thr = 2, 0.4
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    pairs = [(a, b) for a in range(len(docs)) for b in range(a + 1, len(docs))]
    want = _python_verified(docs, pairs, k, cap)
    ng = NGramJaccardDedup(shingle_k=k, threshold=thr, max_shingle_freq=cap)
    sh = ng.shingle_relation(df)
    got = ng.verify_pairs(df, spark.createDataFrame(pairs, "a long, b long"),
                          shingles=sh).collect()
    assert {(r.a, r.b): (r.inter, r.size_a, r.size_b) for r in got} == \
        {p: v[:3] for p, v in want.items()}
    assert all(abs(r.jaccard - want[(r.a, r.b)][3]) <= 1e-6 for r in got)
    kept = {(r.a, r.b): (r.inter, r.size_a, r.size_b)
            for r in ng.transform(df).collect()}
    assert kept == {p: v[:3] for p, v in want.items()
                    if 10 * v[0] >= 4 * (v[1] + v[2] - v[0])}  # J >= thr


def test_verify_pairs_reuses_one_broadcast(spark, tmp_path):
    """On a pinned shingle-set relation and pinned candidate pairs, verify
    costs at most 2 Spark jobs, its result collect included: both pair
    ends join the relation through ONE BroadcastExchange, which AQE
    reuses for the second join."""
    import random
    import re
    import uuid

    from pyspark.sql import functions as F

    from systems_spark.pinning import pin

    rnd = random.Random(3)
    words = [f"w{i}" for i in range(30)]
    base = [[rnd.choice(words) for _ in range(12)] for _ in range(20)]
    rows = []
    for i in range(60):  # three near-copies of each base text
        t = list(base[i % 20])
        t[rnd.randrange(12)] = rnd.choice(words)
        rows.append((i, " ".join(t)))
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    mh, ng = MinHashDedup(shingle_k=3), NGramJaccardDedup(shingle_k=3)
    sh = ng.shingle_relation(docs)
    cands = pin(mh.candidate_pairs(mh.signatures(docs, shingle_rows=sh)
                                   .where(F.col("m0") != 2147483647))
                .select("a", "b"), eager=True)
    sc = spark.sparkContext
    group = f"verify-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "verify_pairs job count")
    try:
        verified = ng.verify_pairs(docs, cands, shingles=sh)
        got = verified.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    final = verified._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert re.search(r"ReusedExchange \[[^\]]*\], BroadcastExchange", final)
    assert got and all(r.inter > 0 for r in got)
