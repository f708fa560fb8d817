"""Winnowing fingerprints — position-robust substring-overlap detection.

Schleimer, Wilkerson, Aiken, "Winnowing: Local Algorithms for Document
Fingerprinting" (SIGMOD 2003) — the MOSS algorithm. Each document is
reduced to the SET of minimum k-gram hashes over every window of ``w``
consecutive grams; the winnowing guarantee is that any shared token run
of length ≥ w + k − 1 between two documents produces at least one
SHARED fingerprint, while the fingerprint density stays ~2/(w+1) of the
gram count. Complements this package's other families: MinHash bounds
whole-document Jaccard, SimHash hamming-bands near-identical documents,
``substrings.py`` removes exact duplicated spans — winnowing FINDS the
document PAIRS sharing substantial verbatim runs (quote detection,
clone/plagiarism candidates, licence-block provenance) without scoring
whole-document similarity at all.

Spark-first shape
-----------------
Fingerprint extraction is ENTIRELY in-row (JVM higher-order functions
over the token/gram arrays — zero shuffles, fuses into the scan); the
pair stage is the standard bucketed equi-join: explode each doc's
distinct fingerprints, self-join on the fingerprint value, count shared
prints per pair. Shuffled bytes are (doc_id, fingerprint) longs — text
never moves — and pair fan-out is bounded by actual shared-content
volume, exactly like the LSH banding joins. Determinism: fingerprints
use the portable 60-bit md5 gram hash, so the whole lane is bit-exact
in the DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from systems_spark.functions import text as TX
from systems_spark.functions.hashing import hash64, hash64_sql
from systems_spark.pinning import pin


def gram_hashes_expr(tokens_col: Column, k: int) -> Column:
    """k-gram hash array (array<long>) from a MATERIALIZED token-array
    column — one hash per gram position."""
    grams = TX.word_shingles_from_tokens(tokens_col, k)
    return F.transform(grams, lambda g: hash64(g))


def winnow_from_hashes(hashes_col: Column, w: int) -> Column:
    """Distinct winnowing fingerprints from a MATERIALIZED gram-hash
    array column: min per w-window → distinct. Empty array when fewer
    than ``w`` grams exist (no full window).

    MUST receive a real column reference, not the gram-hash expression
    inline: the window lambda slices it per window, and HOF lambdas
    don't CSE — an inline expression would re-tokenize and re-hash the
    document once per window (the trap documented at
    functions/text.py::word_shingles_from_tokens)."""
    n = F.size(hashes_col)
    mins = F.transform(
        F.sequence(F.lit(1), n - (w - 1)),
        lambda j: F.array_min(F.slice(hashes_col, j, w)))
    return F.when(n >= w, F.array_distinct(mins)) \
            .otherwise(F.array().cast("array<bigint>"))


def winnow_fingerprints(docs: DataFrame, k: int = 4, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(_wn_id, _fp): one row per (doc, DISTINCT fingerprint). Entirely
    in-row extraction — zero shuffles, fuses into the scan."""
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    # two staging hops: tokens, then gram hashes, each materialized as a
    # real column before the next HOF consumes it (no-CSE discipline)
    staged = docs.select(F.col(id_col).alias("_wn_id"),
                         TX.tokens(F.col(text_col)).alias("_tk"))
    hashed = staged.select(
        "_wn_id", gram_hashes_expr(F.col("_tk"), k).alias("_hs"))
    return hashed.select(
        "_wn_id",
        F.explode(winnow_from_hashes(F.col("_hs"), w)).alias("_fp"))


def winnow_pairs(docs: DataFrame, k: int = 4, w: int = 4,
                 min_shared: int = 2, text_col: str = "text",
                 id_col: str = "doc_id",
                 max_doc_freq: "int | None" = None) -> DataFrame:
    """(doc_a, doc_b, n_shared) for every ordered pair (a < b) of
    documents sharing ≥ ``min_shared`` distinct winnowing fingerprints.
    Guarantee: documents sharing a verbatim run of ≥ w + k − 1 tokens
    share at least one fingerprint (set ``min_shared=1`` to surface
    single-run overlaps).

    ``max_doc_freq`` (skew cap, VERDICT r5 item 1): drop fingerprints
    held by MORE than this many documents from both sides of the pair
    join — a licence block or nav-chrome run shared by 100k documents
    would otherwise emit ~C²/2 pairs from a single fingerprint value. An
    over-shared fingerprint is boilerplate, the least informative pair
    evidence, so the recall loss is bounded and targeted (same knob
    family as simhash's ``max_bucket_size``). The dropped set is small
    by construction (≤ total fp rows / max_doc_freq), so it broadcasts;
    survivors anti-join against it — the survivor set itself is
    corpus-sized and must NOT be the broadcast side. ``None`` = exact."""
    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    if max_doc_freq is not None and max_doc_freq < 1:
        raise ValueError("max_doc_freq must be >= 1")
    # r12 perf: pin the fingerprint relation — both sides of the pair
    # self-join (and the hot-fingerprint agg under the skew cap) reference
    # it, and each lazy reference re-ran the tokenize + winnowing pass.
    # Exchange reuse does not replace the pin: AQE reuses an exchange only
    # when two exchanges have the same canonical subplan (same relation,
    # columns and partitioning key). A broadcast plan of this self-join
    # has an exchange on its build side only, so the probe side re-runs
    # its subplan, and the skew cap's aggregate shuffles by another key.
    # (ngram verify_pairs is where reuse does fire: both of its joins
    # BUILD from one pinned relation under one key, one broadcast.)
    fps = pin(winnow_fingerprints(docs, k, w, text_col, id_col),
              corpus_scale=True)
    if max_doc_freq is not None:
        # fingerprints are per-doc DISTINCT, so count(*) == doc frequency
        hot = (fps.groupBy("_fp").agg(F.count(F.lit(1)).alias("_df"))
               .where(F.col("_df") > max_doc_freq)
               .select("_fp"))
        fps = fps.join(F.broadcast(hot), on="_fp", how="anti")
    pairs = (fps.alias("L")
             .join(fps.alias("R"),
                   (F.col("L._fp") == F.col("R._fp"))
                   & (F.col("L._wn_id") < F.col("R._wn_id")))
             .groupBy(F.col("L._wn_id").alias("doc_a"),
                      F.col("R._wn_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .where(F.col("n_shared") >= min_shared))
    return pairs


def winnow_incremental_pairs(corpus_fps: DataFrame, new_docs: DataFrame,
                             k: int = 4, w: int = 4, min_shared: int = 2,
                             text_col: str = "text", id_col: str = "doc_id",
                             max_doc_freq: "int | None" = None,
                             check_disjoint: bool = True) -> DataFrame:
    """Overlap pairs TOUCHING at least one NEW document — the
    corpus-growth shape of winnowing (the ``incremental_pairs``
    pattern): the standing corpus persists its FINGERPRINT table
    (``corpus_fps`` = a prior ``winnow_fingerprints`` output, plain
    (doc, print) long rows), an arriving batch fingerprints only ITS
    documents and joins new×corpus + new×new print buckets — a
    corpus×corpus pair is never re-derived, so per-batch cost is
    proportional to the batch's shared-content volume, not the
    corpus's. Ids must be disjoint between the two sides (enforced;
    opt out with ``check_disjoint=False``). Returns
    (doc_a, doc_b, n_shared) with doc_a < doc_b, exactly like
    :func:`winnow_pairs`. Boilerplate-cap caveat: the DELTA's cap is
    computed over the UNION print table (matches a recompute at the new
    state), but standing pairs were capped at the OLD corpus state — a
    print newly crossing ``max_doc_freq`` keeps corpus-side pairs a
    recompute would drop; incremental == scratch exactly only with the
    cap unset (see MinHashDedup.incremental_pairs). Fold the result
    into standing cluster labels with ``incremental_components``."""
    if check_disjoint:
        from systems_spark.dedup.guards import ensure_disjoint_ids
        ensure_disjoint_ids(
            corpus_fps.select(F.col("_wn_id").alias(id_col)),
            new_docs, id_col, "winnow_incremental_pairs")
    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    if max_doc_freq is not None and max_doc_freq < 1:
        raise ValueError("max_doc_freq must be >= 1")
    fps = (corpus_fps.select("_wn_id", "_fp")
           .withColumn("_new", F.lit(False))
           .unionByName(
               winnow_fingerprints(new_docs, k, w, text_col, id_col)
               .withColumn("_new", F.lit(True))))
    if max_doc_freq is not None:
        hot = (fps.groupBy("_fp").agg(F.count(F.lit(1)).alias("_df"))
               .where(F.col("_df") > max_doc_freq)
               .select("_fp"))
        fps = fps.join(F.broadcast(hot), on="_fp", how="anti")
    left = fps.where(F.col("_new")).alias("L")
    right = fps.alias("R")
    # orientation: L is always new; a new×new pair joins once via
    # L.id < R.id, a new×corpus pair once via R not-new — so n_shared
    # never double-counts
    pairs = (left.join(
        right,
        (F.col("L._fp") == F.col("R._fp"))
        & (F.col("L._wn_id") != F.col("R._wn_id"))
        & ((~F.col("R._new")) | (F.col("L._wn_id") < F.col("R._wn_id"))))
        .groupBy(
            F.least(F.col("L._wn_id"), F.col("R._wn_id")).alias("doc_a"),
            F.greatest(F.col("L._wn_id"), F.col("R._wn_id")).alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared))
    return pairs


def winnow_pairs_sql(docs_sql: str, k: int = 4, w: int = 4,
                     min_shared: int = 2,
                     max_doc_freq: "int | None" = None) -> str:
    """DuckDB twin of :func:`winnow_pairs` — ``docs_sql`` yields
    (id, text); same tokenizer, gram hash, window minima, hot-fingerprint
    cap, and pair counting."""
    if max_doc_freq is not None and max_doc_freq < 1:
        raise ValueError("max_doc_freq must be >= 1")
    grams = TX.word_shingles_sql("text", k)
    h = hash64_sql("g")
    cap = ("" if max_doc_freq is None else f""",
fp AS (
  SELECT * FROM fp0
  WHERE fp NOT IN (SELECT fp FROM fp0
                   GROUP BY 1 HAVING count(*) > {max_doc_freq})
)""")
    fp_name = "fp0" if max_doc_freq is not None else "fp"
    return f"""
WITH docs AS ({docs_sql}),
hashes AS (
  SELECT id, list_transform({grams}, g -> {h}) AS hs
  FROM docs
),
{fp_name} AS (
  SELECT DISTINCT id, fp FROM (
    SELECT id, unnest(
      CASE WHEN len(hs) >= {w}
           THEN list_distinct(list_transform(range(1, len(hs) - {w - 1} + 1),
                    j -> list_min(hs[j:j+{w - 1}])))
           ELSE CAST([] AS BIGINT[]) END) AS fp
    FROM hashes)
){cap}
SELECT l.id AS doc_a, r.id AS doc_b, count(*) AS n_shared
FROM fp l JOIN fp r ON r.fp = l.fp AND l.id < r.id
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""
