"""Z-order (Morton-curve) write layout — multi-column data skipping.

The lakehouse layout optimizer (Delta ``OPTIMIZE ZORDER BY``, Iceberg
``rewrite_data_files(strategy => 'sort', sort_order => 'zorder')``):
interleave the bits of several columns into one key and range-partition
+ sort the write by it, so every FILE covers a small hyper-rectangle of
the combined key space and parquet min/max footer stats prune scans on
ANY of the z-ordered columns — not just the leading sort column of a
linear order. A 100 TB fact table laid out this way answers both
"customer = X" and "date between ..." with file-level skipping from
one layout.

Exactness contract: values map to fixed-bit grid cells with pure
INTEGER arithmetic over a caller-supplied (lo, hi) range — truncating
division, no float detour — and the interleave is a sum of shifted
bits, so the z-value is bit-for-bit reproducible in the DuckDB twin
(:func:`z_value_sql`). Rows outside [lo, hi] clamp to the grid edge
(layout stays valid; skipping just degrades for them).

Scale shape: the z-value is a per-row JVM expression (no shuffle);
``zorder_layout`` adds exactly one range exchange (sampled bounds, the
same exchange a plain sorted write pays) + an in-partition sort that
parquet writers need anyway for run-length wins.
"""

from __future__ import annotations

from hashlib import md5

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from systems_spark.sources import hadoop_fs
from systems_spark.streaming.sinks import _manifest_schema

__all__ = ["z_value", "z_value_sql", "zorder_layout",
           "file_stats", "pruned_files", "pruned_read",
           "file_bloom", "bloom_pruned_files", "bloom_pruned_read",
           "file_token_bloom", "token_bloom_pruned_files",
           "token_search_read", "TOKEN_SPLIT",
           "layout_fingerprint", "StatsIndex", "CdcSkippingIndex"]


def z_value(cols, ranges, bits: int = 16) -> Column:
    """The Morton key (long) of ``cols`` (names or Columns), each
    mapped onto a ``bits``-bit grid over its ``(lo, hi)`` range.
    ``len(cols) * bits`` must be ≤ 63 (a signed-long key)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    k = len(cols)
    if k < 1:
        raise ValueError("z_value needs at least one column")
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds a long "
                         f"({k * bits} > 63)")
    if len(ranges) != k:
        raise ValueError("one (lo, hi) range per column")
    grids = []
    for col, (lo, hi) in zip(cols, ranges):
        lo, hi = int(lo), int(hi)
        if hi <= lo:
            raise ValueError(f"range ({lo}, {hi}) is empty")
        cells = (1 << bits) - 1
        if (hi - lo) * cells >= (1 << 53):
            # floor(a / b) on doubles equals integer div only below
            # 2^53 — refuse the silent precision loss; shrink bits
            raise ValueError(
                f"range span {hi - lo} x {bits} bits exceeds exact "
                f"float-division bounds; reduce bits")
        v = F.greatest(F.lit(lo), F.least(F.lit(hi), col.cast("long")))
        # clamp guarantees non-negative operands, so floor-div is the
        # same truncating integer division DuckDB's // performs
        grids.append(F.floor((v - F.lit(lo)) * F.lit(cells)
                             / F.lit(hi - lo)).cast("long"))
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, g in enumerate(grids):
            bit = F.shiftright(g, j).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, j * k + i)
    return z


def z_value_sql(exprs, ranges, bits: int = 16) -> str:
    """DuckDB twin of :func:`z_value` over SQL expressions — the same
    clamp, the same truncating fixed-point grid, the same interleave."""
    k = len(exprs)
    terms = []
    for i, (e, (lo, hi)) in enumerate(zip(exprs, ranges)):
        lo, hi = int(lo), int(hi)
        cells = (1 << bits) - 1
        g = (f"(((greatest({lo}, least({hi}, ({e})::BIGINT)) - {lo}) "
             f"* {cells}) // {hi - lo})")
        for j in range(bits):
            terms.append(f"((({g} >> {j}) & 1) << {j * k + i})")
    return "(" + " + ".join(terms) + ")"


def zorder_layout(df: DataFrame, cols, ranges, bits: int = 16,
                  partitions: "int | None" = None,
                  z_col: str = "_zorder") -> DataFrame:
    """``df`` re-laid-out along the Morton curve: one range exchange on
    the z-value + an in-partition sort, ready to write. The z column is
    kept under ``z_col`` so tests and layout audits can see it; drop it
    at write time if the table schema must stay closed."""
    z = z_value(cols, ranges, bits)
    out = df.withColumn(z_col, z)
    out = (out.repartitionByRange(partitions, F.col(z_col))
           if partitions else out.repartitionByRange(F.col(z_col)))
    return out.sortWithinPartitions(z_col)


def file_stats(spark, path: str, cols, where=None,
               read_schema=None) -> DataFrame:
    """Per-FILE min/max/rows for ``cols`` over a parquet dataset — the
    data-skipping stats index every table format keeps (Delta's
    add-file stats, Iceberg manifests), built here as one scan that
    amortizes over every pruned read after it. Persist it as standing
    state (StateStore) next to the table; rebuild on layout changes.
    ``where`` (SQL string) restricts which rows contribute — a CDC
    bucket indexes its LIVE rows, so tombstones never pollute min/max;
    a file with no qualifying rows is simply absent from the index.
    ``read_schema`` reads the files under an explicit schema (a CDC
    manifest's): files written before a schema evolution NULL-fill the
    evolved columns by name instead of failing analysis."""
    cols = list(cols)
    reader = (spark.read.schema(read_schema) if read_schema is not None
              else spark.read)
    df = reader.parquet(path)
    if where is not None:
        df = df.where(where)
    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in cols:
        # null counts ride the same scan: they cost nothing here and
        # make COUNT(col) a metadata-only answer later (aggregate())
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max"),
                 F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                 .alias(f"{c}_nulls")]
    return (df.groupBy(F.input_file_name().alias("file"))
            .agg(*aggs))


def pruned_files(stats: DataFrame, predicates: dict) -> "list[str]":
    """Files whose [min, max] stats OVERLAP every predicate range —
    ``predicates`` maps column → (lo, hi), either bound None for
    half-open. NULL stats (all-NULL column chunk) keep the file: skip
    decisions must be sound, never lossy. Returns the file list (a
    driver-side decision bounded by the FILE count — the same decision
    every format's planner makes)."""
    cond = F.lit(True)
    for c, (lo, hi) in predicates.items():
        if lo is not None:
            keep = F.col(f"{c}_max").isNull() | (F.col(f"{c}_max") >= lo)
            cond = cond & keep
        if hi is not None:
            keep = F.col(f"{c}_min").isNull() | (F.col(f"{c}_min") <= hi)
            cond = cond & keep
    return [r["file"] for r in stats.where(cond).select("file").collect()]


def pruned_read(spark, stats: DataFrame, predicates: dict) -> DataFrame:
    """Read ONLY the files :func:`pruned_files` keeps. The caller still
    applies the row-level filter — skipping is a superset guarantee,
    exactly like footer-stats pruning. Raises if nothing survives (an
    empty parquet read has no schema to offer; filter a 0-file result
    from the stats frame instead)."""
    files = pruned_files(stats, predicates)
    if not files:
        raise ValueError("pruned_read: no file overlaps the predicate "
                         "ranges — read the table head for a schema "
                         "instead of an empty path list")
    return spark.read.parquet(*files)


def _bloom_position_cols(col: Column, bits_log2: int, hashes: int):
    """The ``hashes`` bloom bit positions of ``col`` as int Columns —
    ``xxhash64(value, i) mod 2^bits_log2`` for i in 0..hashes-1. Build
    and probe BOTH evaluate this expression in the JVM, so the two
    sides agree by construction (no Python re-implementation of
    xxhash64 to drift)."""
    n_bits = F.lit(1 << bits_log2)
    return [F.pmod(F.xxhash64(col, F.lit(i)), n_bits).cast("int")
            for i in range(hashes)]


def file_bloom(spark, path: str, col: str, bits_log2: int = 17,
               hashes: int = 4, where=None,
               read_schema=None) -> DataFrame:
    """Per-FILE Bloom filter over ``col``'s non-NULL values — the
    point-lookup skipping index min/max stats cannot provide: on a
    hash-scattered high-cardinality key every file's [min, max] spans
    the whole domain, but each VALUE lives in few files, and a bloom
    probe finds them without opening the rest (the role of Delta's
    per-file bloom indexes and parquet bloom footers).

    The bitset is stored as the sorted distinct set-bit positions
    (bounded by 2^bits_log2 per file); ``bits_log2`` must scale with
    per-file NDV — at the lakehouse's bounded file size (the layout
    invariant a 100 TB table already keeps) per-file NDV is bounded,
    so the index is O(files). One scan builds it; persist through
    :class:`StatsIndex` and it amortizes over every probe after.

    NULL semantics: an equality probe never matches NULL, so files
    whose column is entirely NULL (absent from the index) are sound to
    skip. ``where`` (SQL string) restricts which rows contribute, like
    :func:`file_stats` — a CDC bucket indexes only its live rows;
    ``read_schema`` NULL-fills pre-evolution files by name."""
    reader = (spark.read.schema(read_schema) if read_schema is not None
              else spark.read)
    df = reader.parquet(path)
    if where is not None:
        df = df.where(where)
    pos = _bloom_position_cols(F.col(col), bits_log2, hashes)
    exploded = (df.where(F.col(col).isNotNull())
                .select(F.input_file_name().alias("file"),
                        F.explode(F.array(*pos)).alias("bit")))
    return (exploded.groupBy("file")
            .agg(F.sort_array(F.collect_set("bit")).alias("bits"))
            .select("file", "bits",
                    F.lit(bits_log2).alias("bits_log2"),
                    F.lit(hashes).alias("hashes")))


def _bloom_probe_positions(spark, values, dtype, bits_log2: int,
                           hashes: int) -> "list[list[int]]":
    """The probe values' bit positions, computed BY SPARK over a
    literal frame typed exactly like the indexed column — the same JVM
    xxhash64 the build side ran."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType([StructField("v", dtype, False)])
    frame = spark.createDataFrame([(v,) for v in values], schema)
    pos = _bloom_position_cols(F.col("v"), bits_log2, hashes)
    rows = frame.select(*(p.alias(f"p{i}") for i, p in enumerate(pos))
                        ).collect()
    return [[r[f"p{i}"] for i in range(hashes)] for r in rows]


def bloom_pruned_files(spark, bloom: DataFrame, values, dtype,
                       bits_log2: int = 17,
                       hashes: int = 4) -> "list[str]":
    """Files whose bloom bitset contains EVERY bit of AT LEAST ONE
    probe value — the sound superset for ``col IN (values)``: a bloom
    has no false negatives, so a file ruled out provably holds none of
    the probed values. Raises if the index was built with different
    parameters (positions would be meaningless). Driver-side decision
    bounded by the file count, like every format's planner."""
    values = [v for v in (values if isinstance(values, (list, tuple, set))
                          else [values])]
    if any(v is None for v in values):
        raise ValueError("bloom probe values must be non-NULL "
                         "(col = NULL is never true)")
    head = bloom.select("bits_log2", "hashes").limit(1).collect()
    if head and ((head[0]["bits_log2"], head[0]["hashes"])
                 != (bits_log2, hashes)):
        raise ValueError(
            f"bloom index built with (bits_log2={head[0]['bits_log2']}, "
            f"hashes={head[0]['hashes']}), probed with ({bits_log2}, "
            f"{hashes})")
    if not values:
        return []
    cond = F.lit(False)
    for plist in _bloom_probe_positions(spark, sorted(set(values)), dtype,
                                        bits_log2, hashes):
        hit = F.lit(True)
        for p in plist:
            hit = hit & F.array_contains("bits", F.lit(p))
        cond = cond | hit
    return [r["file"] for r in bloom.where(cond).select("file").collect()]


# full-text skipping tokenizer: lowercase, split on ASCII
# non-alphanumerics — deliberately the SIMPLEST portable contract, so
# the exact same class behaves identically in Java regex (build/probe)
# and in an oracle engine's regex split
TOKEN_SPLIT = "[^a-z0-9]+"


def _tokens_expr(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT),
                    lambda t: t != F.lit(""))


def file_token_bloom(spark, path: str, col: str, bits_log2: int = 17,
                     hashes: int = 4, where=None,
                     read_schema=None) -> DataFrame:
    """Per-FILE Bloom filter over the DISTINCT TOKENS of a text
    column — full-text file skipping (the needle-in-100 TB grep): a
    token query opens only the files whose token bloom contains every
    query token, instead of scanning the corpus. Same storage shape,
    soundness argument, and JVM-hash parity as :func:`file_bloom`
    (bloom = no false negatives → a skipped file provably lacks the
    token); per-file distinct-token count is bounded by bounded file
    size, so the index stays O(files). ``where`` (SQL string)
    restricts which rows contribute, like :func:`file_stats` — a CDC
    bucket indexes only its live rows, so a tombstoned document's
    tokens can never pass a file. ``read_schema`` NULL-fills
    pre-evolution files by name."""
    reader = (spark.read.schema(read_schema) if read_schema is not None
              else spark.read)
    df = reader.parquet(path)
    if where is not None:
        df = df.where(where)
    toks = (df.where(F.col(col).isNotNull())
            .select(F.input_file_name().alias("file"),
                    F.explode(F.array_distinct(
                        _tokens_expr(F.col(col)))).alias("_tok")))
    pos = _bloom_position_cols(F.col("_tok"), bits_log2, hashes)
    exploded = toks.select("file", F.explode(F.array(*pos)).alias("bit"))
    return (exploded.groupBy("file")
            .agg(F.sort_array(F.collect_set("bit")).alias("bits"))
            .select("file", "bits",
                    F.lit(bits_log2).alias("bits_log2"),
                    F.lit(hashes).alias("hashes")))


def _query_tokens(spark, query: str) -> "list[str]":
    """The query string tokenized by the SAME Spark expression the
    build side ran — probe/build parity by construction."""
    frame = spark.createDataFrame([(query,)], "q string")
    rows = frame.select(F.explode(F.array_distinct(
        _tokens_expr(F.col("q")))).alias("t")).collect()
    toks = sorted({r["t"] for r in rows})
    if not toks:
        raise ValueError(f"token query {query!r} tokenizes to nothing")
    return toks


def token_bloom_pruned_files(spark, bloom: DataFrame, query: str,
                             bits_log2: int = 17,
                             hashes: int = 4) -> "list[str]":
    """Files whose token bloom contains EVERY token of ``query``
    (all-terms search): a file ruled out provably lacks at least one
    query token, so no matching document can live there. Driver-side
    decision bounded by the file count."""
    from pyspark.sql.types import StringType

    head = bloom.select("bits_log2", "hashes").limit(1).collect()
    if head and ((head[0]["bits_log2"], head[0]["hashes"])
                 != (bits_log2, hashes)):
        raise ValueError(
            f"token bloom built with (bits_log2={head[0]['bits_log2']}, "
            f"hashes={head[0]['hashes']}), probed with ({bits_log2}, "
            f"{hashes})")
    toks = _query_tokens(spark, query)
    cond = F.lit(True)
    for plist in _bloom_probe_positions(spark, toks, StringType(),
                                        bits_log2, hashes):
        hit = F.lit(True)
        for p in plist:
            hit = hit & F.array_contains("bits", F.lit(p))
        cond = cond & hit
    return [r["file"] for r in bloom.where(cond).select("file").collect()]


def token_search_read(spark, path: str, bloom: DataFrame, col: str,
                      query: str, bits_log2: int = 17,
                      hashes: int = 4) -> DataFrame:
    """All-terms text search served by the token bloom: open only the
    surviving files, then apply the EXACT row-level predicate (every
    query token present in the row's token set) — bloom false
    positives pass files, never rows. Zero surviving files is the
    success case for an absent token: an empty frame with the table
    schema."""
    files = token_bloom_pruned_files(spark, bloom, query,
                                     bits_log2, hashes)
    if not files:
        return spark.read.parquet(path).limit(0)
    df = spark.read.parquet(*files)
    cond = F.lit(True)
    for t in _query_tokens(spark, query):
        cond = cond & F.array_contains(_tokens_expr(F.col(col)),
                                       F.lit(t))
    return df.where(cond)


def bloom_pruned_read(spark, path: str, bloom: DataFrame, col: str,
                      values, bits_log2: int = 17,
                      hashes: int = 4) -> DataFrame:
    """Read ONLY the files the bloom keeps for ``col IN (values)``.
    The caller still applies the row-level filter (skipping is a
    superset guarantee — bloom false positives pass files, never
    rows). Zero surviving files is the SUCCESS case for an absent key:
    an empty frame with the table's schema comes back (schema from the
    footer, no data read)."""
    dtype = spark.read.parquet(path).schema[col].dataType
    files = bloom_pruned_files(spark, bloom, values, dtype,
                               bits_log2, hashes)
    if not files:
        return spark.read.parquet(path).limit(0)
    return spark.read.parquet(*files)


def layout_fingerprint(spark, path: str) -> str:
    """Identity of a dataset's CURRENT file layout: md5 over the sorted
    (path, length, mtime) listing of its data files (dot/underscore
    side files excluded). Any writer that changes the layout — a
    ``zorder_layout`` rewrite, a CDC snapshot commit, a compaction —
    changes the fingerprint, which is exactly the staleness signal a
    stats index needs. A driver-side listing, bounded by the FILE
    count: the same listing every table format's planner does."""
    fs, p = hadoop_fs(spark, path)
    it = fs.listFiles(p, True)
    entries = []
    while it.hasNext():
        s = it.next()
        full = s.getPath().toString()
        if full.rsplit("/", 1)[-1].startswith(("_", ".")):
            continue
        entries.append(f"{full}:{s.getLen()}:{s.getModificationTime()}")
    return md5("\n".join(sorted(entries)).encode()).hexdigest()[:16]


class StatsIndex:
    """The data-skipping stats index as STANDING STATE (VERDICT r9 item
    6): per-file min/max/rows persisted through the
    :class:`~systems_spark.state.StateStore` next to the table — the
    role Delta's add-file stats / Iceberg's manifests play — instead of
    rebuilt by every caller.

    Freshness contract: the state tag embeds :func:`layout_fingerprint`
    of the table's current file listing, so

    - a SECOND session over an unchanged table hits the commit marker
      and reuses the stats scan (the store key is the table path, not
      the applicationId);
    - ANY layout change (z-order rewrite, CDC commit, compaction) moves
      the fingerprint → fresh tag → the stats rebuild on first use, and
      the stale entry is dropped eagerly so the store never serves it.

    >>> idx = StatsIndex()
    >>> stats = idx.stats(spark, "/lake/orders", ["o_custkey"])
    >>> df = idx.read(spark, "/lake/orders", ["o_custkey"],
    ...               {"o_custkey": (1000, 2000)})
    """

    _TAG_PREFIX = "zstats"

    def __init__(self, store=None):
        from systems_spark.state import StateStore
        self.store = store if store is not None else StateStore()

    def _key(self, path: str) -> str:
        return f"table:{path.rstrip('/')}"

    def _tag(self, path: str, cols, fingerprint: str,
             where=None) -> str:
        # ':v2' = the stats schema revision (r11 added per-file null
        # counts): a persisted pre-r11 entry must not be served to
        # aggregate(), which needs the nulls columns. A row restriction
        # (live-only CDC stats) is part of the index identity too —
        # stats built under different predicates must never alias.
        sig = ",".join(cols) + ":v2" + (f":w:{where}" if where else "")
        col_id = md5(sig.encode()).hexdigest()[:12]
        return f"{self._TAG_PREFIX}:{col_id}:{fingerprint}"

    def _materialize_fresh(self, spark, key: str, prefix: str,
                           tag: str, builder) -> DataFrame:
        """Marker-gated materialize with eager staleness: any entry
        under the same (table, index-id) prefix whose fingerprint no
        longer matches is invalidated before the fresh one commits, so
        the store never serves an old layout's index."""
        if not self.store.is_committed(spark, tag, key=key):
            for entry in self.store.entries(spark):
                m = entry["manifest"]
                if (m is not None and m["tag"].startswith(prefix)
                        and m["tag"] != tag):
                    self.store.invalidate(spark, m["tag"], key=key)
        return self.store.materialize(builder, tag, key=key, spark=spark)

    def stats(self, spark, path: str, cols, where=None,
              read_schema=None) -> DataFrame:
        """The persisted per-file stats for ``(path, cols)`` at the
        table's CURRENT layout — one stats scan on first use per
        layout version, a marker-gated parquet read ever after.
        Stale (other-fingerprint) entries for the same table+cols are
        invalidated before the fresh one commits. ``where`` restricts
        the indexed rows (live-only CDC stats) and is part of the
        index identity."""
        cols = list(cols)
        fp = layout_fingerprint(spark, path)
        return self._materialize_fresh(
            spark, self._key(path), self._tag(path, cols, "", where),
            self._tag(path, cols, fp, where),
            lambda: file_stats(spark, path, cols, where=where,
                               read_schema=read_schema))

    def read(self, spark, path: str, cols, predicates: dict) -> DataFrame:
        """:func:`pruned_read` through the persisted index — the scan a
        100 TB table actually runs: files whose stats rule them out are
        never opened. The caller still applies the row-level filter."""
        return pruned_read(spark, self.stats(spark, path, cols),
                           predicates)

    def aggregate(self, spark, path: str, cols) -> DataFrame:
        """METADATA-ONLY aggregates (Delta's metadata-only query /
        Iceberg manifest-stats answer): ``COUNT(*)``, and per column
        ``MIN`` / ``MAX`` / ``COUNT(col)``, computed entirely from the
        persisted per-file stats — the data files are never opened
        (test-pinned by moving them away), so the cost is O(files)
        regardless of table size. Exact, not approximate: the stats
        were built by one full scan at this layout fingerprint, MIN
        over per-file minima IS the global minimum (parquet-style
        stats ignore NULLs; an all-NULL file contributes NULL minima,
        which F.min skips), and COUNT(col) = Σrows − Σnulls. Returns a
        one-row DataFrame with ``count_rows`` + ``{col}_min`` /
        ``{col}_max`` / ``{col}_count``."""
        cols = list(cols)
        stats = self.stats(spark, path, cols)
        aggs = [F.sum("rows").alias("count_rows")]
        for c in cols:
            aggs += [F.min(f"{c}_min").alias(f"{c}_min"),
                     F.max(f"{c}_max").alias(f"{c}_max"),
                     (F.sum("rows") - F.sum(f"{c}_nulls"))
                     .alias(f"{c}_count")]
        return stats.agg(*aggs)

    def _bloom_tag(self, path: str, col: str, bits_log2: int,
                   hashes: int, fingerprint: str, where=None) -> str:
        sig = f"{col}:{bits_log2}:{hashes}" \
            + (f":w:{where}" if where else "")
        bid = md5(sig.encode()).hexdigest()[:12]
        return f"zbloom:{bid}:{fingerprint}"

    def bloom(self, spark, path: str, col: str, bits_log2: int = 17,
              hashes: int = 4, where=None,
              read_schema=None) -> DataFrame:
        """The persisted per-file bloom index for ``(path, col)`` at
        the table's CURRENT layout — same freshness contract as
        :meth:`stats`: one build scan per layout version, reuse across
        sessions, eager invalidation when the fingerprint moves.
        ``where`` restricts the indexed rows and is part of the index
        identity."""
        fp = layout_fingerprint(spark, path)
        return self._materialize_fresh(
            spark, self._key(path),
            self._bloom_tag(path, col, bits_log2, hashes, "", where),
            self._bloom_tag(path, col, bits_log2, hashes, fp, where),
            lambda: file_bloom(spark, path, col, bits_log2, hashes,
                               where=where, read_schema=read_schema))

    def read_eq(self, spark, path: str, col: str, values,
                bits_log2: int = 17, hashes: int = 4) -> DataFrame:
        """Point-lookup read: ``col IN (values)`` served by opening
        only the files the persisted bloom keeps. The caller still
        applies the row-level filter (bloom false positives pass
        files, never rows); an absent key comes back as an empty frame
        with the table schema."""
        return bloom_pruned_read(
            spark, path, self.bloom(spark, path, col, bits_log2, hashes),
            col, values, bits_log2, hashes)

    def token_bloom(self, spark, path: str, col: str,
                    bits_log2: int = 17, hashes: int = 4,
                    where=None, read_schema=None) -> DataFrame:
        """The persisted per-file TOKEN bloom for ``(path, col)`` —
        full-text skipping as standing state, same freshness contract
        as :meth:`stats`/:meth:`bloom`. ``where`` restricts the
        indexed rows and is part of the index identity."""
        fp = layout_fingerprint(spark, path)
        sig = f"tok:{col}:{bits_log2}:{hashes}" \
            + (f":w:{where}" if where else "")
        tid = md5(sig.encode()).hexdigest()[:12]
        return self._materialize_fresh(
            spark, self._key(path), f"ztokbloom:{tid}:",
            f"ztokbloom:{tid}:{fp}",
            lambda: file_token_bloom(spark, path, col,
                                     bits_log2, hashes, where=where,
                                     read_schema=read_schema))

    def search_tokens(self, spark, path: str, col: str, query: str,
                      bits_log2: int = 17, hashes: int = 4) -> DataFrame:
        """All-terms text search through the persisted token bloom:
        only files whose bloom holds every query token are opened; the
        exact row predicate runs on what's left."""
        return token_search_read(
            spark, path,
            self.token_bloom(spark, path, col, bits_log2, hashes),
            col, query, bits_log2, hashes)

    def invalidate(self, spark, path: str, cols) -> None:
        """Drop the CURRENT layout's entry (callers that rewrote the
        table in-place with identical listing metadata can force a
        rebuild; normal writers never need this — the fingerprint
        already moves)."""
        fp = layout_fingerprint(spark, path)
        self.store.invalidate(spark, self._tag(path, list(cols), fp),
                              key=self._key(path))


class CdcSkippingIndex:
    """Data-skipping over a LIVE CDC table (r12): metadata-only
    aggregates and full-text file skipping on a table that keeps
    committing — the role Delta's add-file stats and per-file bloom
    indexes play on a table under continuous MERGE.

    Composition contract: the unit of indexing is the BUCKET directory
    (the ``bucket_paths()`` promise: a merge moves ONLY its touched
    buckets' paths), so after a merge the untouched buckets' standing
    per-file stats/blooms still hit and only the moved buckets pay a
    fresh build scan. Exactness on a merge-on-read table with pending
    deltas: the delta files name the touched keys, so their buckets are
    answered by a REAL pruned scan folded with the deltas — the same
    fenced fold every read runs — while every other bucket is answered
    from its live-only index (tombstones excluded at BUILD time via the
    stats ``where`` restriction, so a deleted row's values can neither
    stretch a min/max nor pass a token probe). Total cost:
    O(files) metadata + O(touched-bucket volume), table size
    irrelevant — exactly the posture a 100 TB table needs.

    Column-mapping-aware: callers speak LOGICAL names; the index keys
    on the PHYSICAL on-disk names, so a RENAME COLUMN (a manifest-only
    commit that moves no files) invalidates nothing. Works on the flat
    ``CdcTable`` layout too (one unit: the snapshot directory).
    """

    def __init__(self, store=None):
        self.idx = StatsIndex(store)

    @staticmethod
    def _live_where(table) -> str:
        return f"NOT {table.DELETED}"

    def _units(self, spark, table):
        """``(man, {bucket: path} served from the index, live rows of
        the delta-touched buckets or None)``."""
        man = table._latest_manifest(spark)
        if man.get("plain_payload") or man.get("plain_dirs"):
            # an ADOPTED table's files carry no bookkeeping columns,
            # so the live-only build predicate cannot evaluate on them
            raise ValueError(
                "table data is an ADOPTED plain directory — "
                "materialize the transactional layout first (any "
                "merge/compact/optimize on the flat layout; "
                "rebucket()/compact_deltas() on the bucketed one) "
                "before skip-indexing it")
        if not hasattr(table, "bucket_paths"):
            # flat layout: one snapshot dir, never pending deltas
            return man, {0: table._data_path(man)}, None
        mapping = table._mapping(man)
        pend = list(man.get("pending", []))
        touched, ch = set(), None
        if pend:
            ch = spark.read.schema(table._change_schema(man)).parquet(
                *[table._dir_path(man, d) for d in pend])
            if "pending_buckets" in man:
                # the manifest's standing touched-bucket set: no job
                touched = {int(b) for b in man["pending_buckets"]}
            else:
                # bounded collect (≤ num_buckets) — the same pruning
                # decision the merge path makes
                touched = {int(r[0]) for r in
                           ch.select(table._bucket_expr())
                           .distinct().collect()}
        paths = {int(b): table._bucket_paths(man, [b])[0]
                 for b in mapping if int(b) not in touched}
        live = None
        if touched:
            from systems_spark.operators.cdc import merge_cdc_fenced

            base = table._read_buckets(spark, man, sorted(touched))
            fence = (int(man["fence_seq"]) if "fence_seq" in man
                     else None)
            folded = merge_cdc_fenced(
                base, ch, table.key_cols, seq_col=table.seq_col,
                op_col=table.op_col, deleted_col=table.DELETED,
                min_seq=fence, check_unique_seq="inline")
            live = folded.where(~F.col(table.DELETED))
        return man, paths, live

    def aggregate(self, spark, table, cols) -> DataFrame:
        """COUNT(*) / MIN / MAX / COUNT(col) of the LIVE view, served
        from the per-bucket stats indexes for every bucket no pending
        delta touches, plus one real pruned scan of the touched
        buckets. Exact, not approximate — the oracle is a full scan of
        the live view. Returns the same one-row shape as
        :meth:`StatsIndex.aggregate`, under LOGICAL column names."""
        cols = list(cols)
        man, paths, live = self._units(spark, table)
        self._check_cols(spark, table, man, paths, cols)
        cmap = table._column_map(man)
        pcols = [cmap.get(c, c) for c in cols]
        where = self._live_where(table)
        rs = _manifest_schema(man)
        stats = None
        for b in sorted(paths):
            st = self.idx.stats(spark, paths[b], pcols, where=where,
                                read_schema=rs)
            stats = st if stats is None else stats.unionByName(st)
        parts = []
        if stats is not None:
            aggs = [F.sum("rows").alias("count_rows")]
            for c in pcols:
                aggs += [F.min(f"{c}_min").alias(f"{c}_min"),
                         F.max(f"{c}_max").alias(f"{c}_max"),
                         (F.sum("rows") - F.sum(f"{c}_nulls"))
                         .alias(f"{c}_count")]
            parts.append(stats.agg(*aggs))
        if live is not None:
            aggs = [F.count(F.lit(1)).alias("count_rows")]
            for c in pcols:
                aggs += [F.min(c).alias(f"{c}_min"),
                         F.max(c).alias(f"{c}_max"),
                         F.count(F.col(c)).alias(f"{c}_count")]
            parts.append(live.agg(*aggs))
        if not parts:
            raise ValueError("table has no mapped buckets to aggregate")
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        final = [F.coalesce(F.sum("count_rows"), F.lit(0))
                 .alias("count_rows")]
        for c, pc in zip(cols, pcols):
            final += [F.min(f"{pc}_min").alias(f"{c}_min"),
                      F.max(f"{pc}_max").alias(f"{c}_max"),
                      F.coalesce(F.sum(f"{pc}_count"), F.lit(0))
                      .alias(f"{c}_count")]
        return u.agg(*final)

    def _check_cols(self, spark, table, man, paths, cols):
        """Friendly guard: every requested LOGICAL column must exist in
        the live view — an unknown or DROPPED column must raise here,
        not leak dropped data from the physical files or die deep in
        analysis."""
        frame = spark.createDataFrame(
            [], self._manifest_schema(spark, man, paths))
        live = (set(table._to_logical(man, frame).columns)
                - {table.seq_col, table.DELETED})
        bad = [c for c in cols if c not in live]
        if bad:
            raise ValueError(
                f"column(s) {sorted(bad)} are not in the live view "
                f"(available: {sorted(live)})")

    def _manifest_schema(self, spark, man, paths):
        """The schema the manifest records (old files NULL-fill evolved
        columns by name), else the first unit's footer schema."""
        return (_manifest_schema(man)
                or spark.read.parquet(paths[min(paths)]).schema)

    def _assemble(self, spark, table, man, paths, live,
                  files) -> DataFrame:
        """Shared tail of every pruned live read: open only ``files``
        (live-row filter applied — the bytes still hold tombstones),
        union the delta-touched buckets' folded live rows. Raw shape:
        physical names, bookkeeping columns present."""
        schema = self._manifest_schema(spark, man, paths)
        pieces = []
        if files:
            pieces.append(spark.read.schema(schema).parquet(*files)
                          .where(~F.col(table.DELETED)))
        if live is not None:
            pieces.append(live)
        if not pieces:
            # zero surviving files is the SUCCESS case for an absent
            # key/token: empty frame, table shape
            return spark.createDataFrame([], schema)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def _finish(self, table, man, df) -> DataFrame:
        return (table._to_logical(man, df)
                .drop(table.seq_col, table.DELETED))

    def search_tokens(self, spark, table, col, query: str,
                      bits_log2: int = 17, hashes: int = 4) -> DataFrame:
        """All-terms text search over the LIVE view: untouched buckets
        open only the files whose live-only token bloom holds every
        query token; delta-touched buckets fold and filter for real.
        Returns live-view rows (logical names, bookkeeping dropped)
        matching the exact row predicate."""
        man, paths, live = self._units(spark, table)
        self._check_cols(spark, table, man, paths, [col])
        pcol = table._column_map(man).get(col, col)
        where = self._live_where(table)
        rs = _manifest_schema(man)
        files = []
        for b in sorted(paths):
            bloom = self.idx.token_bloom(spark, paths[b], pcol,
                                         bits_log2, hashes, where=where,
                                         read_schema=rs)
            files += token_bloom_pruned_files(spark, bloom, query,
                                              bits_log2, hashes)
        out = self._assemble(spark, table, man, paths, live, files)
        cond = F.lit(True)
        for t in _query_tokens(spark, query):
            cond = cond & F.array_contains(_tokens_expr(F.col(pcol)),
                                           F.lit(t))
        return self._finish(table, man, out.where(cond))

    def read(self, spark, table, cols, predicates: dict) -> DataFrame:
        """Range-pruned LIVE read: untouched buckets open only the
        files whose live-only [min, max] stats overlap every predicate
        range (``{logical_col: (lo, hi)}``, either bound None);
        delta-touched buckets fold for real. Returns live-view rows
        under logical names — the caller still applies the row-level
        filter, exactly like :meth:`StatsIndex.read`."""
        cols = list(cols)
        man, paths, live = self._units(spark, table)
        self._check_cols(spark, table, man, paths,
                         set(cols) | set(predicates))
        cmap = table._column_map(man)
        pcols = [cmap.get(c, c) for c in cols]
        preds = {cmap.get(c, c): rng for c, rng in predicates.items()}
        where = self._live_where(table)
        rs = _manifest_schema(man)
        files = []
        for b in sorted(paths):
            st = self.idx.stats(spark, paths[b], pcols, where=where,
                                read_schema=rs)
            files += pruned_files(st, preds)
        return self._finish(
            table, man,
            self._assemble(spark, table, man, paths, live, files))

    def read_eq(self, spark, table, col, values,
                bits_log2: int = 17, hashes: int = 4) -> DataFrame:
        """Bloom-served point read over the LIVE view: ``col IN
        (values)`` opens only the files whose live-only bloom may hold
        a probed value (a tombstoned row's value can never pass);
        delta-touched buckets fold for real. The caller still applies
        the row-level filter (bloom false positives pass files, never
        rows)."""
        man, paths, live = self._units(spark, table)
        self._check_cols(spark, table, man, paths, [col])
        pcol = table._column_map(man).get(col, col)
        where = self._live_where(table)
        rs = _manifest_schema(man)
        dtype = self._manifest_schema(spark, man, paths)[pcol].dataType
        files = []
        for b in sorted(paths):
            bloom = self.idx.bloom(spark, paths[b], pcol,
                                   bits_log2, hashes, where=where,
                                   read_schema=rs)
            files += bloom_pruned_files(spark, bloom, values, dtype,
                                        bits_log2, hashes)
        return self._finish(
            table, man,
            self._assemble(spark, table, man, paths, live, files))

    def vacuum(self, spark, table) -> int:
        """Reclaim ORPHANED index state for ``table``: a merge moves
        its touched buckets to new directories, so those buckets'
        standing stats/bloom entries — keyed on the OLD paths — can
        never be served again and would otherwise accumulate one
        generation per merge forever. Deletes every committed entry
        whose recorded key names a path under this table that is no
        longer a live indexing unit; entries of OTHER tables sharing
        the store root, clone-shared entries under a SOURCE's path,
        and pre-r12 manifests (no recorded key) are never touched.
        Returns the number of entries reclaimed."""
        man = table._latest_manifest(spark)
        if hasattr(table, "bucket_paths"):
            mapping = table._mapping(man)
            live = {table._bucket_paths(man, [b])[0].rstrip("/")
                    for b in mapping}
        else:
            live = {table._data_path(man).rstrip("/")}
        prefix = table.path.rstrip("/") + "/"
        reclaimed = 0
        for entry in self.idx.store.entries(spark):
            m = entry["manifest"]
            if not m or "key" not in m:
                continue
            k = str(m["key"])
            if not k.startswith("table:"):
                continue
            p = k[len("table:"):].rstrip("/")
            if not p.startswith(prefix):
                continue  # another table / a clone's shared source
            if p in live:
                continue
            self.idx.store.invalidate(spark, m["tag"], key=k)
            reclaimed += 1
        return reclaimed
