"""Change-feed STREAMING SOURCE for merge-on-read CDC tables — a
PySpark 4 Python Data Source (``pyspark.sql.datasource``) that lets a
downstream pipeline subscribe to a table's change stream:

>>> spark.dataSource.register(CdcChangeFeedDataSource)
>>> feed = (spark.readStream.format("cdc_change_feed")
...         .option("path", "/lake/orders_cdc").load())
>>> q = feed.writeStream.foreachBatch(consumer).start()

Design (the Hudi-/Delta-CDF-streaming shape): a merge-on-read table
records each change batch VERBATIM as a ``delta=V__app`` file set, so
the change feed is a FILE READ, not a computation — one input
partition per committed delta, each read directly with pyarrow inside
the executor-side Python worker (this code path has no SparkSession by
contract, and needs none). Offsets are table versions, so
exactly-once delivery falls out of Structured Streaming's offset log:
a restarted query resumes from the last committed version and never
re-emits.

Serving boundaries (all surfaced as errors, never silently wrong):

- copy-on-write merge commits record no change file — the feed
  REQUIRES ``write_mode="merge_on_read"`` (exactly Delta's "CDF must
  be enabled to read changes").
- maintenance commits (delta/tombstone compaction, optimize, restore,
  manifest-only epochs) emit nothing: the feed is the WRITE-PATH
  change stream; net-diff between arbitrary versions stays
  ``changes_between``.
- a version vacuumed out of the retained log cannot be served — the
  reader refuses to silently skip it (Delta's CDF retention error).

Schema is pinned at stream start from the latest manifest (payload +
seq + op); files older than a schema evolution NULL-fill the added
columns by name, like every other reader of the log.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)
from pyspark.sql.types import StructType

__all__ = ["CdcChangeFeedDataSource"]

_COMMIT_DIR = "_commits"


def _marker(path: str, version: int) -> str:
    return os.path.join(path, _COMMIT_DIR, f"v{int(version)}.json")


def _read_manifest(path: str, version: int) -> dict:
    p = _marker(path, version)
    if not os.path.exists(p):
        raise ValueError(
            f"version {version} of {path} is not retained (vacuumed?) — "
            f"the change feed cannot serve a gap; restart the stream "
            f"from a retained offset")
    with open(p) as fh:
        return json.load(fh)


def _versions(path: str) -> "list[int]":
    if "://" in path:
        raise NotImplementedError(
            f"cdc_change_feed reads the table log with local-filesystem "
            f"I/O; {path.split('://')[0]}:// paths need the pyarrow "
            f"filesystem hookup")
    d = os.path.join(path, _COMMIT_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _latest_version(path: str) -> "int | None":
    """Newest committed version via the table's ``_latest`` hint file
    (verified against its marker, probed forward past commits the hint
    missed — versions are claimed densely, so the first missing marker
    is the frontier), falling back to a full listing when the hint is
    absent/corrupt. Keeps per-trigger offset discovery O(1) on a log
    that grows by one marker per epoch forever."""
    start = None
    try:
        with open(os.path.join(path, _COMMIT_DIR, "_latest")) as fh:
            start = int(fh.read().strip())
    except (OSError, ValueError):
        start = None
    if start is not None and not os.path.exists(_marker(path, start)):
        start = None
    if start is None:
        vs = _versions(path)
        if not vs:
            return None
        start = vs[-1]
    while os.path.exists(_marker(path, start + 1)):
        start += 1
    return start


def _change_schema(man: dict, deleted_col: str, op_col: str) -> StructType:
    """The feed's schema in LOGICAL column names: the manifest stores
    the PHYSICAL schema, and the column map (RENAME COLUMN without
    rewrite) translates — files on disk keep physical names forever,
    so the reader resolves logical → physical per field
    (:func:`_physical_names`)."""
    if "buckets" not in man:
        raise ValueError(
            "manifest has no bucket mapping — the change feed requires a "
            "PartitionedCdcTable with write_mode='merge_on_read' (a "
            "flat CdcTable records no change files)")
    snap = StructType.fromJson(json.loads(man["schema"]))
    inv = {str(p): str(l)
           for l, p in (man.get("column_map") or {}).items()}
    dead = {str(c) for c in man.get("dropped_columns", [])}
    from pyspark.sql.types import StringType, StructField
    fields = [StructField(inv.get(f.name, f.name), f.dataType,
                          f.nullable)
              for f in snap.fields
              if f.name != deleted_col and f.name not in dead]
    fields.append(StructField(op_col, StringType(), True))
    return StructType(fields)


def _physical_names(man: dict, deleted_col: str) -> "dict[str, str]":
    """logical field name → PHYSICAL on-disk column name (dropped
    columns excluded — their physical bytes stay but the feed stops
    serving them)."""
    if "schema" not in man:
        return {}
    snap = StructType.fromJson(json.loads(man["schema"]))
    inv = {str(p): str(l)
           for l, p in (man.get("column_map") or {}).items()}
    dead = {str(c) for c in man.get("dropped_columns", [])}
    return {inv.get(f.name, f.name): f.name for f in snap.fields
            if f.name != deleted_col and f.name not in dead}


def _own_delta_dir(man: dict) -> "str | None":
    """The change-file directory THIS version committed, if any. The
    manifest records it explicitly as ``change_dir`` — required since
    an OCC fast-recommitted delta keeps the directory name it was
    STAGED under, whose encoded version differs from the committed one.
    Logs written before ``change_dir`` existed fall back to the
    version-prefix scan (which was exact for them)."""
    if "change_dir" in man:
        return man["change_dir"]
    v = int(man["version"])
    for d in man.get("pending", []):
        if d.startswith(f"delta={v}__"):
            return d
    return None


class _DeltaPartition(InputPartition):
    def __init__(self, directory: str):
        self.directory = directory


class _CdfStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.path = options.get("path", "").rstrip("/")
        if not self.path:
            raise ValueError("cdc_change_feed requires .option('path', …)")
        self.op_col = options.get("op_col", "op")
        self.deleted_col = options.get("deleted_col", "_cdc_deleted")
        self.start_version = int(options.get("start_version", -1))
        # Delta's skipChangeCommits analog, for RESTORE commits only:
        # consumers that use the feed as a pure commit NOTIFICATION
        # (the continuously-maintained view — each trigger re-reads the
        # authoritative window from the log) may skip a restore; a
        # consumer APPLYING the rows (replication) must never, or it
        # silently diverges from the rolled-back source
        self.skip_restores = str(options.get("skip_restores", "false")) \
            .lower() == "true"
        self._schema = schema
        # logical → physical file-column names, pinned with the schema:
        # renamed tables keep physical names on disk forever, so every
        # delta file (pre- or post-rename) reads by physical name
        self._phys = {}
        try:
            v = _latest_version(self.path)
            if v is not None:
                self._phys = _physical_names(
                    _read_manifest(self.path, v), self.deleted_col)
        except (OSError, ValueError):
            self._phys = {}

    # -- offsets (table versions) ------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        v = _latest_version(self.path)
        return {"version": v if v is not None else self.start_version}

    def partitions(self, start: dict, end: dict):
        # the evolution guard compares PHYSICAL field sets: a RENAME
        # (column mapping) changes only logical presentation — physical
        # names are constant on disk — so a running stream continues
        # serving under the names it pinned; only a genuinely ADDED
        # column fails the stream
        pinned = set(self._phys.values()) | {
            f.name for f in self._schema.fields} - set(self._phys)
        parts = []
        for v in range(int(start["version"]) + 1,
                       int(end["version"]) + 1):
            man = _read_manifest(self.path, v)
            d = _own_delta_dir(man)
            if d is not None:
                served = set(_physical_names(
                    man, self.deleted_col).values()) | {self.op_col}
                if served - pinned:
                    # the module contract: surfaced as an error, never
                    # silently wrong — emitting evolved rows through
                    # the pinned schema would DROP the new columns
                    # (Delta CDF likewise fails the stream on a schema
                    # change; a restart re-pins and serves them)
                    raise ValueError(
                        f"version {v} of {self.path} evolved the "
                        f"schema (added "
                        f"{sorted(served - pinned)}) after this "
                        f"stream pinned its schema — restart the "
                        f"stream to pick up the new columns")
                parts.append(_DeltaPartition(os.path.join(self.path, d)))
                continue
            if "restore_of" in man and not self.skip_restores:
                # a RESTORE rolls live content back with NO change
                # file — rows the feed already delivered are now gone
                # from the source, and no stream of changes can express
                # that. A consumer applying the feed would silently
                # diverge; fail the stream instead (module contract:
                # surfaced as an error, never silently wrong).
                raise ValueError(
                    f"version {v} of {self.path} is a RESTORE (of "
                    f"version {man['restore_of']}) — live content "
                    f"rolled back with no change file. Resync the "
                    f"consumer from the restored snapshot and restart "
                    f"from a NEW checkpoint with start_version={v}; "
                    f"notification-only consumers may set "
                    f".option('skip_restores', 'true')")
            if "batch_id" in man:
                # a merge that recorded no change file: copy-on-write
                raise ValueError(
                    f"version {v} of {self.path} is a merge with no "
                    f"change file — the change feed requires "
                    f"write_mode='merge_on_read' on the producing "
                    f"table")
            # maintenance commit (compaction/optimize/rebucket —
            # content-identical or tombstone-only): no rows
        return parts

    def read(self, partition: _DeltaPartition):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        table = pq.read_table(partition.directory)
        n = table.num_rows
        arrays, names = [], []
        for f in self._schema.fields:
            at = to_arrow_type(f.dataType)
            fcol = self._phys.get(f.name, f.name)
            if fcol in table.column_names:
                arrays.append(table.column(fcol).combine_chunks()
                              .cast(at))
            else:  # written before a schema evolution: NULL-fill
                arrays.append(pa.nulls(n, at))
            names.append(f.name)
        # yield Arrow batches — no Arrow→Python→Arrow round trip per
        # row (the Python Data Source API accepts RecordBatch directly)
        for rb in pa.Table.from_arrays(arrays, names).to_batches():
            yield rb

    def commit(self, end: dict) -> None:
        pass  # offsets are durable table versions; nothing to release


class CdcChangeFeedDataSource(DataSource):
    """``spark.readStream.format("cdc_change_feed")`` — see module
    docstring. Options: ``path`` (required), ``start_version``
    (default −1 = from the first delta), ``op_col``, ``deleted_col``
    (match the producing table's)."""

    @classmethod
    def name(cls) -> str:
        return "cdc_change_feed"

    def schema(self) -> StructType:
        path = self.options.get("path", "").rstrip("/")
        if not path:
            raise ValueError("cdc_change_feed requires .option('path', …)")
        v = _latest_version(path)
        if v is None:
            raise ValueError(f"no committed versions under {path}")
        man = _read_manifest(path, v)
        return _change_schema(man,
                              self.options.get("deleted_col",
                                               "_cdc_deleted"),
                              self.options.get("op_col", "op"))

    def streamReader(self, schema: StructType) -> _CdfStreamReader:
        return _CdfStreamReader(schema, dict(self.options))
