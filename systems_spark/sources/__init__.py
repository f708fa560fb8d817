"""Sources & sinks.

Reference surface (SURVEY.md §2.2): parquet + CSV (with and without header)
datasets (tests/conftest.py:87-104,157-185), feature tables backed by parquet
(the Feast offline store IS parquet — tests/integration/feast/
test_int_feast.py:40-67), model artifacts, and an exported serving directory.

Spark-first: thin, opinionated wrappers over ``spark.read``/``df.write`` that
encode the scale decisions a 100 TB pipeline needs made explicitly:
- schema-on-read for headerless CSV (never infer on big data — an extra full
  scan);
- partitioned + optionally bucketed parquet sinks (bucketing co-locates
  later joins on the bucket key with zero shuffle);
- a FeatureTable helper that models the online-store view: parquet +
  dedup-by-key (+ optional event-time as-of filtering for point-in-time
  training reads).
"""

from __future__ import annotations

import re
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_parquet(spark: SparkSession, path: str, columns: Optional[Iterable[str]] = None,
                 nanos_as_long: bool = True) -> DataFrame:
    """Parquet scan; column selection here reaches the reader (pruned
    ReadSchema). ``nanos_as_long`` tolerates TIMESTAMP(NANOS) files."""
    if nanos_as_long:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def normalize_epoch_nanos(df: DataFrame, col: str = "ts") -> DataFrame:
    """Pin an event-time column to the engine contract: int64
    nanoseconds-since-epoch, naive-UTC.

    Upstream files have shipped the column as TIMESTAMP(NANOS)-read-as-long
    in one generation (with sub-microsecond components DuckDB drops — hence
    the ``ts // 1000`` truncation in oracle SQL) and plain ``timestamp[us]``
    (NTZ, whole microseconds) in another; every downstream operator and
    DuckDB oracle does integer arithmetic on nanos (``epoch_ns(ts) == ts``),
    so the loader absorbs the physical type here instead of each of the ~10
    consumers guessing. NTZ timestamps are interpreted naive-UTC — the same
    reading DuckDB's ``epoch_us(ts)`` applies to an unadjusted parquet
    timestamp — by pinning the session timezone around the NTZ→LTZ cast
    (analysis captures it; the conf is then restored, so loading this table
    does not leak a timezone change into unrelated queries). Plain
    ``timestamp`` (LTZ) input needs no conf: ``unix_micros`` on LTZ is
    tz-independent.

    A long-typed ``col`` is asserted to already be epoch NANOS (~1e18 for
    1990–2100 data): a future generation shipping int64 *micros* would
    otherwise be silently misread 1000× off."""
    field = next((f for f in df.schema.fields if f.name == col), None)
    if field is None:
        return df
    t = field.dataType.typeName()
    if t == "timestamp_ntz":
        conf = df.sparkSession.conf
        prev = conf.get("spark.sql.session.timeZone")
        conf.set("spark.sql.session.timeZone", "UTC")
        try:
            df = df.withColumn(
                col,
                (F.unix_micros(F.col(col).cast("timestamp")) * F.lit(1000)).cast("long"),
            )
        finally:
            conf.set("spark.sql.session.timeZone", prev)
    elif t == "timestamp":
        df = df.withColumn(
            col,
            (F.unix_micros(F.col(col)) * F.lit(1000)).cast("long"),
        )
    elif t in ("long", "bigint"):
        # cheap magnitude guard: one LIMIT-1 job on a pruned single-column
        # scan. Epoch-nanos for any 1990–2100 timestamp is ~6e17..4.2e18;
        # micros would be ~1e15 — fail loudly instead of corrupting every
        # event-time computation by 1000x.
        row = df.select(col).where(F.col(col).isNotNull()).first()
        if row is not None and abs(row[0]) < 10**16:
            raise ValueError(
                f"column {col!r} is int64 but its magnitude ({row[0]}) is not "
                "epoch-nanoseconds (expected ~1e18 for 1990-2100 data); "
                "upstream physical type changed — fix the loader contract"
            )
    return df


#: path → (mtime, row-group count); footer reads are a few ms but
#: load_table is called per lane build, so memoize per file. A rewrite
#: (new mtime) overwrites the entry, so the cache holds one entry per file.
_SPLIT_CACHE: dict = {}


def _estimated_scan_splits(path: str) -> "int | None":
    """How many tasks a parquet scan of ``path`` can actually fan out to:
    parquet splits at ROW-GROUP granularity, so a file is never more
    parallel than its row-group count regardless of
    ``spark.sql.files.maxPartitionBytes``. Filesystem + footer metadata
    only — no Spark jobs. Returns None when the layout can't be read
    (non-local path, exotic dir, a directory with no parquet files) —
    callers must treat None as 'plenty'."""
    import os

    try:
        files = []
        if os.path.isdir(path):
            for root, _dirs, names in os.walk(path):
                files += [os.path.join(root, n) for n in names
                          if n.endswith(".parquet")]
        elif os.path.isfile(path):
            files = [path]
        else:
            return None
        if not files:
            return None
        total = 0
        for f in files:
            mtime = os.path.getmtime(f)
            hit = _SPLIT_CACHE.get(f)
            if hit is None or hit[0] != mtime:
                import pyarrow.parquet as pq

                hit = (mtime, pq.ParquetFile(f).metadata.num_row_groups)
                _SPLIT_CACHE[f] = hit
            total += hit[1]
        return total
    except Exception:  # noqa: BLE001 - estimation only, never break a read
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str,
               parallel: bool = False) -> DataFrame:
    """Load one driver-generated testdata table under the repo's schema
    contract (events.ts → int64 nanos regardless of file type).

    ``parallel`` — scale-adaptive read parallelism (r13, guide §2.5
    "input skew: one huge unsplittable file … repartition immediately
    after the read"): parquet scans split at ROW-GROUP granularity, and a
    single-row-group file — which is what every sf0.001–0.1 testdata
    table is — pins the whole scan stage, and every projection Spark
    fuses into it (the tokenize / shingle / explode corpus passes, BNLJ
    probe sides), to ONE task while the other cores idle. With
    ``parallel=True``, when the file layout provides fewer potential
    splits than half the cores, fan out with one round-robin repartition
    of the (by construction tiny: < cores/2 row groups) table. At
    production scale tables have many files × many row groups, the gate
    never fires, and no extra exchange is paid. Derived from the
    session's core count, so the driver's low-core scaling runs keep
    their own layout. OPT-IN per call site: the exchange only pays for
    itself where heavy per-row compute sits in the scan stage — measured
    per lane, it slows scan-light aggregation lanes by its own fixed
    cost (the r13 A/B table in OPTIMIZATION_r13.md)."""
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_epoch_nanos(df)
    if parallel:
        cores = spark.sparkContext.defaultParallelism
        splits = _estimated_scan_splits(f"{sf_dir}/{name}.parquet")
        if splits is not None and cores > 1 and splits < cores // 2:
            df = df.repartition(cores)
    return df


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True,
             **options) -> DataFrame:
    """CSV with explicit schema (headerless files supported, reference
    conftest.py:174-185). Schema inference is refused for headerless files —
    at scale it is a hidden full scan."""
    reader = spark.read.options(header=str(header).lower(), **options)
    if schema is not None:
        reader = reader.schema(schema)
    elif not header:
        raise ValueError("headerless CSV requires an explicit schema")
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None,
              multiline: bool = False, **options) -> DataFrame:
    """JSON-lines scan with explicit schema (inference refused — on JSON it
    is a full scan AND type-unstable across files; declare the contract)."""
    if schema is None:
        raise ValueError("read_json requires an explicit schema "
                         "(inference = hidden full scan at scale)")
    return (spark.read.schema(schema)
            .options(multiLine=str(multiline).lower(), **options).json(path))


def write_json(df: DataFrame, path: str, mode: str = "overwrite",
               compression: str = "gzip") -> None:
    """JSON-lines sink (interchange format; compressed by default — raw
    JSON is ~10× parquet on disk)."""
    df.write.mode(mode).option("compression", compression).json(path)


def read_with_quarantine(spark: SparkSession, path: str, schema,
                         format: str = "json",
                         corrupt_col: str = "_corrupt_record",
                         **options):
    """Schema-enforced CSV/JSON ingest that SPLITS malformed rows out
    instead of failing the job (FAILFAST: one bad line kills a 100 TB
    read) or silently nulling them (PERMISSIVE default: corruption
    becomes missing data nobody notices).

    Returns ``(good, bad, raw)``: ``good`` carries the declared schema
    with the corrupt-record column dropped; ``bad`` has the raw offending
    text in ``corrupt_col`` for quarantine/replay; ``raw`` is the shared
    CACHED frame both branches derive from — call ``raw.unpersist()``
    once both branches are consumed, or a session quarantine-reading many
    partitions accumulates every raw read in executor storage. One scan
    feeds both branches — at scale write ``bad`` first (it is usually
    tiny), then ``good``, then unpersist.

    Note: Spark requires the corrupt column to be part of the declared
    schema for PERMISSIVE capture (added on a COPY — the caller's schema
    object is not mutated), and caching the raw frame before the split is
    what makes the two branches consistent views of one read
    (SPARK-26224 also forbids filtering the corrupt column over the bare
    scan)."""
    from pyspark.sql.types import StringType, StructField, StructType

    if format not in ("json", "csv"):
        raise ValueError("read_with_quarantine supports json/csv")
    if not isinstance(schema, StructType):
        raise ValueError("explicit StructType schema required — quarantine "
                         "is meaningless under schema inference")
    if corrupt_col not in schema.fieldNames():
        schema = StructType(
            list(schema.fields) + [StructField(corrupt_col, StringType(), True)]
        )
    reader = (spark.read.schema(schema)
              .option("mode", "PERMISSIVE")
              .option("columnNameOfCorruptRecord", corrupt_col)
              .options(**options))
    raw = (reader.json(path) if format == "json" else reader.csv(path)).cache()
    good = raw.where(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = raw.where(F.col(corrupt_col).isNotNull())
    return good, bad, raw


def read_orc(spark: SparkSession, path: str,
             columns: Optional[Iterable[str]] = None) -> DataFrame:
    """ORC scan — same pushdown/pruning properties as parquet."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: Optional[Iterable[str]] = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*list(partition_by))
    w.orc(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: Optional[Iterable[str]] = None,
                  max_records_per_file: Optional[int] = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*list(partition_by))
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def write_sorted_parquet(df: DataFrame, path: str, sort_cols,
                         n_files: Optional[int] = None,
                         mode: str = "overwrite") -> None:
    """Range-clustered sorted parquet: ``repartitionByRange(sort_cols)``
    then ``sortWithinPartitions`` before writing.

    Each output file then covers a (nearly) disjoint ``sort_cols`` range,
    so the parquet footer min/max statistics let later filtered scans skip
    whole files and row groups instead of reading and discarding — the
    data-layout lever for the 100 TB case where most queries carry a
    selective predicate on one hot column (time, tenant, user). An
    unsorted write spreads every key range across every file and the same
    stats prune nothing. Disjointness is asserted from real footers in
    test_sorted_write_layout_enables_stats_pruning.

    ``n_files`` pins the number of range partitions (default: current
    ``spark.sql.shuffle.partitions``); the range exchange samples the sort
    key to build balanced bounds, so skewed keys still yield even files."""
    sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
    cols = [F.col(c) for c in sort_cols]
    part = (df.repartitionByRange(n_files, *cols) if n_files is not None
            else df.repartitionByRange(*cols))
    part.sortWithinPartitions(*cols).write.mode(mode).parquet(path)


def zorder_key(df: DataFrame, cols, bits: int = 16) -> "tuple[DataFrame, str]":
    """Append a Z-order (Morton) key over numeric ``cols``: each column is
    min-max scaled to a ``bits``-bit integer (one tiny stats job), then the
    bits are interleaved JVM-side. Rows close in the multi-dimensional
    space get close keys, so range-sorting by the key gives every output
    file a small bounding BOX in all dimensions at once — which is what
    lexicographic multi-column sort cannot do (its second column's range
    spans the whole domain in every file; a filter on it prunes nothing).

    Returns ``(df_with_key, key_col_name)``. NULLs scale to 0 (first
    files). The stats job is one aggregation; the key itself is pure
    bit arithmetic inside whole-stage codegen."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    if not 1 <= bits * len(cols) <= 63:
        raise ValueError("bits * len(cols) must fit a long (1..63)")
    stats = df.agg(*[F.min(c).alias(f"_mn_{c}") for c in cols],
                   *[F.max(c).alias(f"_mx_{c}") for c in cols]).first()
    key = F.lit(0).cast("long")
    top = (1 << bits) - 1
    for j, c in enumerate(cols):
        mn = float(stats[f"_mn_{c}"] or 0.0)
        mx = float(stats[f"_mx_{c}"] or 0.0)
        span = (mx - mn) or 1.0
        q = F.least(
            F.lit(top).cast("long"),
            F.greatest(
                F.lit(0).cast("long"),
                ((F.col(c).cast("double") - F.lit(mn)) / F.lit(span)
                 * F.lit(float(top))).cast("long"),
            ),
        )
        q = F.coalesce(q, F.lit(0).cast("long"))
        for i in range(bits):  # bit i of col j → position i*len(cols)+j
            key = key + F.shiftleft(
                F.shiftright(q, i).bitwiseAND(F.lit(1)),
                i * len(cols) + j,
            ).cast("long")
    name = "_zorder_" + "_".join(cols)
    return df.withColumn(name, key), name


def write_zordered_parquet(df: DataFrame, path: str, cols,
                           n_files: Optional[int] = None, bits: int = 16,
                           mode: str = "overwrite") -> None:
    """Z-order-clustered parquet: range-partition + sort by the Morton key
    of ``cols``, so parquet min/max footer stats give EVERY listed column
    partial file-skipping power — the multi-predicate layout lever
    (Delta/Iceberg ``OPTIMIZE ZORDER BY`` counterpart). Use
    ``write_sorted_parquet`` instead when queries filter one dominant
    column: pure range layout prunes that single column harder."""
    keyed, kname = zorder_key(df, cols, bits)
    key_cols = [F.col(kname)]
    part = (keyed.repartitionByRange(n_files, *key_cols) if n_files is not None
            else keyed.repartitionByRange(*key_cols))
    part.sortWithinPartitions(kname).drop(kname).write.mode(mode).parquet(path)


def compact_parquet(spark: SparkSession, src: str, dest: str,
                    target_file_bytes: int = 128 * 1024 * 1024,
                    mode: str = "error") -> int:
    """Compact a small-file parquet directory (the classic streaming-sink
    problem: availableNow/micro-batch appends write a file per batch, and
    a month of hourly batches means listing+opening thousands of tiny
    files on every read) into ``ceil(total_bytes / target_file_bytes)``
    files at ``dest``. Returns the output file count.

    Shuffle-free: the width reduction uses ``coalesce`` (a narrow
    repartition that concatenates input splits), so the only cost is one
    read+write pass. Total bytes come from filesystem statistics — zero
    Spark jobs before the copy. ``dest`` must differ from ``src``
    (atomic-swap rename is the caller's move; compacting in place would
    delete inputs mid-read on failure)."""
    import math
    import os

    if os.path.abspath(src) == os.path.abspath(dest):
        raise ValueError("dest must differ from src — swap after the copy "
                         "(in-place compaction deletes inputs mid-read on "
                         "failure)")
    if target_file_bytes < 1:
        raise ValueError("target_file_bytes must be positive")
    total = 0
    for root, _dirs, files in os.walk(src):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(src).coalesce(n_files).write.mode(mode).parquet(dest)
    return n_files


def write_bucketed_table(df: DataFrame, table_name: str, bucket_col: str,
                         n_buckets: int, mode: str = "overwrite") -> None:
    """Bucketed managed table: joins/aggs on ``bucket_col`` against other
    tables bucketed the same way need NO shuffle — the pre-partitioning is
    the single biggest lever for repeated 100 TB joins."""
    (df.write.mode(mode)
     .bucketBy(n_buckets, bucket_col)
     .sortBy(bucket_col)
     .saveAsTable(table_name))


class FeatureTable:
    """Parquet-backed feature view (QueryFeast's store analog).

    ``latest()`` = online-store semantics (one row per entity, last write
    wins by event-time when given); ``as_of(ts)`` = point-in-time snapshot
    for leakage-free training reads (feast.py's offline retrieval)."""

    def __init__(self, spark: SparkSession, path: str, entity_col: str,
                 event_time_col: Optional[str] = None):
        self.spark = spark
        self.path = path
        self.entity_col = entity_col
        self.event_time_col = event_time_col

    def frame(self) -> DataFrame:
        return read_parquet(self.spark, self.path)

    def latest(self) -> DataFrame:
        df = self.frame()
        if not self.event_time_col:
            return df.dropDuplicates([self.entity_col])
        from pyspark.sql import Window

        w = Window.partitionBy(self.entity_col).orderBy(F.col(self.event_time_col).desc())
        return (df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn"))

    def as_of(self, ts) -> DataFrame:
        if not self.event_time_col:
            raise ValueError("as_of requires an event_time_col")
        df = self.frame().where(F.col(self.event_time_col) <= F.lit(ts))
        from pyspark.sql import Window

        w = Window.partitionBy(self.entity_col).orderBy(F.col(self.event_time_col).desc())
        return (df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn"))


# -- manifest-verified exports ---------------------------------------------

MANIFEST_NAME = "_MANIFEST.json"


def _manifest_path(path: str) -> str:
    return path.rstrip("/") + "/" + MANIFEST_NAME


class _HadoopHandles:
    """The JVM classes and FileSystem handles of ONE SparkContext.

    Resolving ``jvm.org.apache.hadoop.fs.Path`` walks the package one
    py4j round trip per name component, and ``getFileSystem`` is two
    more; a commit-log read pays that on every marker probe. The
    handles are kept for the context they were resolved under: a
    stopped and restarted context (a new ``SparkContext`` object, its
    own Hadoop configuration, possibly a new gateway) resolves afresh.
    One FileSystem per scheme and authority, as Hadoop's own
    ``FileSystem.get`` cache keys them."""

    def __init__(self, sc):
        jvm = sc._jvm
        self.sc = sc
        self.Path = jvm.org.apache.hadoop.fs.Path
        # commons-io ships on Spark's classpath; reads a full stream
        self.IOUtils = jvm.org.apache.commons.io.IOUtils
        self.conf = sc._jsc.hadoopConfiguration()
        self.fs = {}


_HADOOP: "_HadoopHandles | None" = None
_FS_ROOT = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?")


def _hadoop(spark: SparkSession) -> _HadoopHandles:
    global _HADOOP
    sc = spark.sparkContext
    h = _HADOOP
    if h is None or h.sc is not sc:
        h = _HADOOP = _HadoopHandles(sc)
    return h


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop API — the
    resolver Spark's own readers and writers use — with the class and
    the FileSystem cached per SparkContext (:class:`_HadoopHandles`):
    one py4j round trip (the Path constructor) after the first call,
    where resolving afresh costs eight."""
    h = _hadoop(spark)
    p = h.Path(path)
    m = _FS_ROOT.match(path)
    root = m.group(0) if m else ""
    fs = h.fs.get(root)
    if fs is None:
        fs = h.fs[root] = p.getFileSystem(h.conf)
    return fs, p


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file THROUGH the Hadoop FileSystem API — the
    same resolver Spark's own writers use — so the manifest lands next to
    the data on s3://, hdfs://, file://, ... alike (ADVICE r4: a local
    ``open()`` here would succeed for the parquet and then throw for the
    manifest on any remote filesystem)."""
    fs, p = hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark: SparkSession, path: str) -> str:
    fs, p = hadoop_fs(spark, path)
    stream = fs.open(p)
    try:
        return _hadoop(spark).IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _content_summary(df: DataFrame, shard_col: Optional[str] = None):
    """(total_rows, checksum, per-shard rows/checksums) in ONE aggregation.

    The checksum is the exact decimal(38,0) SUM of per-row xxhash64 over all
    columns — order-independent (addition commutes), partition-independent,
    and sensitive to any lost, duplicated, or altered row. Computed with
    JVM-side expressions only; one map-side-combined agg job."""
    cols = [c for c in df.columns]
    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    if shard_col is None:
        row = df.agg(F.count(F.lit(1)).alias("rows"),
                     F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias("sum")
                     ).collect()[0]
        return int(row["rows"]), str(row["sum"]), None
    # NULL shard values land in Hive's default partition dir; use that
    # name as the manifest key so keys are always strings (a None key
    # breaks sorting and JSON round-tripping)
    shard_key = F.coalesce(F.col(shard_col).cast("string"),
                           F.lit("__HIVE_DEFAULT_PARTITION__"))
    per = (df.groupBy(shard_key.alias("_shard"))
           .agg(F.count(F.lit(1)).alias("rows"), F.sum(h).alias("sum"))
           .collect())
    shards = {r["_shard"]: {"rows": int(r["rows"]), "checksum": str(r["sum"])}
              for r in per}
    total = sum(v["rows"] for v in shards.values())
    import decimal
    chk = sum((decimal.Decimal(v["checksum"]) for v in shards.values()),
              decimal.Decimal(0))
    return total, str(chk), shards


def write_manifest_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                           shard_col: Optional[str] = None,
                           n_shards: Optional[int] = None) -> dict:
    """Parquet sink with an integrity manifest — the export format for
    training shards and cross-cluster copies.

    Writes the data, then RE-READS the written files to compute the
    manifest (row count + order-independent content checksum, per shard
    when ``shard_col`` is given), so the manifest attests what actually
    landed on disk, not what the plan intended — a file lost to a flaky
    writer task is caught here, not three weeks later in a training run.
    Cost: one extra scan of the written output (columnar, local to the
    sink), which is what verification-grade export costs anywhere.

    With ``shard_col`` (+ optional ``n_shards``) the data is
    hive-partitioned by that column — the layout a training job consumes
    shard-by-shard (e.g. ``SequencePacker``'s ``shard`` output) — and the
    manifest carries per-shard rows/checksums so single-shard re-transfers
    can be verified alone.

    Returns the manifest dict (also written to ``<path>/_MANIFEST.json``
    via the Hadoop FileSystem API, so remote sinks — s3://, hdfs:// —
    work the same as local paths)."""
    import json

    if shard_col is not None and n_shards is not None:
        df = df.repartition(n_shards, F.col(shard_col))
    write_parquet(df, path, mode=mode,
                  partition_by=[shard_col] if shard_col else None)

    spark = df.sparkSession
    written = spark.read.parquet(path)
    # partitionBy writes the shard column as a directory key; read-back
    # restores it, so the checksum covers the same logical columns either
    # way — but via a stable column ORDER (xxhash64 is order-sensitive)
    written = written.select(*df.columns)
    rows, checksum, shards = _content_summary(written, shard_col)
    manifest = {"rows": rows, "columns": list(df.columns),
                "checksum": checksum}
    if shards is not None:
        manifest["shard_col"] = shard_col
        manifest["shards"] = dict(sorted(shards.items()))
    _fs_write_text(spark, _manifest_path(path),
                   json.dumps(manifest, indent=1, sort_keys=True))
    return manifest


def verify_manifest(spark: SparkSession, path: str) -> dict:
    """Recompute the content summary of ``path`` and compare against its
    ``_MANIFEST.json``. Returns ``{"ok": True, ...}`` or raises
    ``ValueError`` naming exactly what diverged (total rows / checksum /
    the specific shards) — the receiving end of a 100 TB transfer runs
    this before pointing a training job at the data."""
    import json

    manifest = json.loads(_fs_read_text(spark, _manifest_path(path)))
    df = spark.read.parquet(path).select(*manifest["columns"])
    rows, checksum, shards = _content_summary(df, manifest.get("shard_col"))
    problems = []
    if rows != manifest["rows"]:
        problems.append(f"rows: manifest {manifest['rows']} != actual {rows}")
    if checksum != manifest["checksum"]:
        problems.append("content checksum mismatch")
    if manifest.get("shards") is not None:
        exp, got = manifest["shards"], shards or {}
        for s in sorted(set(exp) | set(got)):
            if s not in got:
                problems.append(f"shard {s}: missing from data")
            elif s not in exp:
                problems.append(f"shard {s}: not in manifest")
            elif exp[s] != got[s]:
                problems.append(f"shard {s}: rows/checksum diverged")
    if problems:
        raise ValueError("manifest verification failed: " + "; ".join(problems))
    return {"ok": True, "rows": rows, "checksum": checksum,
            "shards": len(shards) if shards else 0}
