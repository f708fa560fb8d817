"""Session-scoped standing-state store for incremental operators.

Incremental dedup / linkage / sketch maintenance (``dedup/minhash.py
incremental_pairs``, ``dedup/clusters.py incremental_components``,
``operators/pca.py gram_merge``) all share one engine-level contract:
the STANDING side — the persisted signature table, the resolved cluster
labels, the accumulated Gram cells — must be a **storage read**, not
live lineage.  Two reasons, both load-bearing:

1. **Semantics.** A production corpus-growth pipeline reads yesterday's
   state from the lake and writes today's back; re-deriving the corpus
   side per batch would be a full recompute wearing an incremental hat.
2. **A measured Catalyst pathology** (NOTES_r7, memory
   ``spark-localcheckpoint-catalyst-pathology``): iterative joins
   layered over ``localCheckpoint()`` of frames whose lineage contains
   Arrow-kernel (Pandas-UDF) stages degrade superlinearly in
   DRIVER-side Catalyst time — the embedding-dedup fold went >250 s on
   pinned frames vs 3.7 s on the identical rows read back from parquet
   (same session, same data).  Severing lineage through parquet is the
   fix, not an optimization.

``StateStore`` makes that materialization **write-once per
(applicationId, tag)**: the first ``materialize`` of a tag computes the
frame, writes it, and commits a marker (rows + order-independent
xxhash64 checksum, the ``write_manifest_parquet`` integrity
discipline); every later call — a bench RUNS≥2 pass, the parity suite
re-invoking the lane — sees the marker and goes straight to the read,
so steady-state timings measure only the BATCH side of an incremental
lane, exactly like a long-lived production session that holds its
standing state open.

Commit discipline (shared with ``streaming/sinks.py``):

- data parquet is written FIRST with ``overwrite`` — a crashed earlier
  attempt is clobbered wholesale by its retry, never merged with it;
- the marker is written LAST, to a temp name then **renamed** into
  place, so a crash mid-marker-write can never leave a truncated JSON
  that parses as committed (ADVICE r7 on the sink's marker);
- readers trust ONLY the marker: data without a marker is an aborted
  attempt and is recomputed.

At 100 TB the store is the same pattern at lake scale: one parquet
dataset per state table, one tiny marker object per version, one marker
read on the hot path (the marker records the written schema, so a hit
reads the data with no footer-inference job).  Keys include the
applicationId so two concurrent sessions never share (or clobber)
state; a real deployment would swap the applicationId for a
pipeline-run/version id via ``key=``.
"""

from __future__ import annotations

import json
import os
import re
from hashlib import md5

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from systems_spark.sources import _fs_read_text, _fs_write_text, hadoop_fs

__all__ = ["StateStore", "fs_write_text_atomic",
           "fs_publish_text_exclusive"]

_DEFAULT_ROOT = "/tmp/systems_spark_state"
_MARKER = "_STATE_COMMIT.json"


def fs_write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file through the Hadoop FileSystem API with a
    temp-name + rename commit, so a crash mid-write can never leave a
    truncated file at the final path.  Rename is atomic on file:// and
    hdfs://; on object stores it degrades to copy+delete, which still
    never exposes a partial object (PUTs are all-or-nothing there)."""
    tmp = f"{path}.inprogress"
    _fs_write_text(spark, tmp, text)
    fs, src = hadoop_fs(spark, tmp)
    dst = hadoop_fs(spark, path)[1]
    if fs.exists(dst):  # a concurrent retry already committed
        fs.delete(src, False)
        return
    if not fs.rename(src, dst):
        raise IOError(f"atomic rename failed: {tmp} -> {path}")


def fs_publish_text_exclusive(spark: SparkSession, path: str,
                              text: str) -> bool:
    """Atomically publish ``text`` at ``path`` IF AND ONLY IF nothing
    is there — the compare-and-swap a shared commit log needs (Delta's
    put-if-absent primitive). Returns True on the win, False if a
    concurrent writer already published the path; either way the path
    afterwards holds exactly ONE writer's complete content, never a
    mix or a truncation.

    Local filesystems get a true single-syscall CAS: the content is
    written to a temp name and ``link(2)``-ed to the final path —
    hard-linking fails with EEXIST when the destination exists and
    publishes the full content when it doesn't. Object stores would
    use conditional PUT (If-None-Match) and HDFS the
    fail-if-destination-exists rename; neither backend is reachable in
    this environment, so non-local schemes raise rather than pretend
    (an exists()-then-write fallback would silently reintroduce the
    lost-update race this function exists to close)."""
    local = path
    if local.startswith("file:"):
        local = local[len("file:"):] or "/"
    if "://" in local:
        raise NotImplementedError(
            f"exclusive publish needs a conditional-put backend for "
            f"{path.split('://')[0]}:// paths")
    os.makedirs(os.path.dirname(local), exist_ok=True)
    # thread id in the temp name: two THREADS of one process racing
    # identical content must not share a staging file (one would link
    # while the other truncates/rewrites it), and the loser's unlink
    # must tolerate the sibling having already cleaned up
    import threading

    tmp = (f"{local}.claim.{os.getpid()}.{threading.get_ident()}."
           f"{md5(text.encode()).hexdigest()[:8]}")
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, local)
        return True
    except FileExistsError:
        return False
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


class StateStore:
    """Write-once-per-key parquet store for incremental standing state.

    >>> store = StateStore()                      # default session scope
    >>> sigs = store.materialize(mh.signatures(corpus), "mh-sigs")
    >>> # second call in the same session: marker hit, no recompute
    >>> sigs = store.materialize(mh.signatures(corpus), "mh-sigs")

    ``materialize`` takes the frame LAZILY — on a marker hit the input
    plan is never executed, so callers can pass an expensive standing
    computation unconditionally."""

    def __init__(self, root: "str | None" = None):
        self.root = (root or os.environ.get("SPARK_GRAFT_STATE_DIR")
                     or _DEFAULT_ROOT).rstrip("/")

    # -- pathing --------------------------------------------------------------
    def _path(self, spark: SparkSession, tag: str, key: "str | None") -> str:
        if not tag or not re.fullmatch(r"[A-Za-z0-9._:/=-]+", tag):
            raise ValueError(
                f"state tag must be non-empty [A-Za-z0-9._:/=-]: {tag!r}")
        scope = key if key is not None else spark.sparkContext.applicationId
        return os.path.join(
            self.root, md5(f"{scope}:{tag}".encode()).hexdigest()[:16])

    def _marker(self, path: str) -> str:
        return f"{path}/{_MARKER}"

    def _exists(self, spark: SparkSession, path: str) -> bool:
        fs, p = hadoop_fs(spark, path)
        return fs.exists(p)

    # -- the API ----------------------------------------------------------------
    def is_committed(self, spark: SparkSession, tag: str,
                     key: "str | None" = None) -> bool:
        return self._exists(spark, self._marker(self._path(spark, tag, key)))

    def materialize(self, df, tag: str,
                    key: "str | None" = None,
                    spark: "SparkSession | None" = None) -> DataFrame:
        """Return ``df``'s rows as a parquet-backed frame, computing and
        writing them only if ``(key or applicationId, tag)`` has not
        committed yet.  The returned frame's lineage is a bare scan —
        safe under iterative folds (module docstring, reason 2).

        ``df`` may be a ZERO-ARG CALLABLE returning the frame (pass
        ``spark=`` alongside): on a marker hit the thunk is never
        invoked.  This matters beyond plan laziness — iterative builders
        (``connected_components`` and friends) run their convergence
        loop EAGERLY at Python build time, so handing their result as a
        plain frame pays the whole loop per call even when the marker
        would skip the write (measured: 7 s per invocation on the
        simhash lane's standing labels at sf0.1)."""
        if callable(df):
            if spark is None:
                raise ValueError(
                    "materialize(thunk, ...) requires spark= (the thunk "
                    "is not invoked on a marker hit)")
        else:
            spark = df.sparkSession
        path = self._path(spark, tag, key)
        committed = self._read_marker(spark, self._marker(path))
        if committed is not None:
            # the marker records the written schema, so a hit runs no
            # footer-inference job; a marker written before it did
            # still infers
            schema = committed.get("schema")
            reader = (spark.read if schema is None else spark.read.schema(
                StructType.fromJson(json.loads(schema))))
            return reader.parquet(path)
        frame = df() if callable(df) else df
        frame.write.mode("overwrite").parquet(path)
        written = spark.read.parquet(path)
        h = F.xxhash64(*[F.col(c) for c in written.columns]) \
            .cast("decimal(38,0)")
        row = written.agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)"))
            .alias("checksum")).collect()[0]
        manifest = {"tag": tag, "rows": int(row["rows"]),
                    "checksum": str(row["checksum"]),
                    "schema": json.dumps(written.schema.jsonValue())}
        if key is not None:
            # the explicit scope rides in the manifest so retention
            # jobs can resolve an entry back to (key, tag) — the
            # pair invalidate() needs (r12: CdcSkippingIndex.vacuum
            # reclaims per-bucket entries whose bucket path a merge
            # moved). applicationId-scoped entries stay keyless:
            # they die with the app and sweep() already ages them.
            manifest["key"] = key
        # marker LAST, atomically = the commit point
        fs_write_text_atomic(spark, self._marker(path),
                             json.dumps(manifest, sort_keys=True))
        return written

    def materialize_bucketed(self, df: DataFrame, tag: str, bucket_col: str,
                             buckets: int = 32,
                             key: "str | None" = None) -> DataFrame:
        """Like ``materialize`` but lands the rows as a BUCKETED managed
        table (``bucketBy`` + ``sortBy`` on ``bucket_col``) and returns a
        scan of it — the scan reports ``HashPartitioning(bucket_col,
        buckets)``, so every later equi-join on ``bucket_col`` shuffles
        only the OTHER side (VERDICT r7 item 4: an iterative operator
        joining a static edge table R times must not exchange the edge
        table R times). ``repartition(buckets, col)`` before the write
        puts each bucket in exactly one task → one file per bucket →
        sort-merge joins also skip the per-round sort.

        Write-once per (key or applicationId, tag) like ``materialize``,
        gated on the session catalog (the in-memory catalog holds bucket
        metadata per session, so a fresh session rebuilds — bucketing
        Spark can't SEE is just a parquet directory)."""
        if buckets < 1:
            raise ValueError("buckets must be >= 1")
        spark = df.sparkSession
        scope = key if key is not None else spark.sparkContext.applicationId
        name = "sstate_" + md5(
            f"{scope}:{tag}:{bucket_col}:{buckets}".encode()).hexdigest()[:16]
        if not spark.catalog.tableExists(name):
            (df.repartition(buckets, F.col(bucket_col))
             .write.mode("overwrite").format("parquet")
             .bucketBy(buckets, bucket_col).sortBy(bucket_col)
             .saveAsTable(name))
        return spark.table(name)

    def manifest(self, spark: SparkSession, tag: str,
                 key: "str | None" = None) -> "dict | None":
        """The committed marker's manifest, or None if uncommitted."""
        return self._read_marker(spark,
                                 self._marker(self._path(spark, tag, key)))

    def _read_marker(self, spark: SparkSession,
                     path: str) -> "dict | None":
        if not self._exists(spark, path):
            return None
        try:
            return json.loads(_fs_read_text(spark, path))
        except ValueError as e:
            raise IOError(
                f"corrupted state commit marker at {path}: {e}") from e

    def entries(self, spark: SparkSession) -> "list[dict]":
        """Every committed state under this root: one dict per entry with
        its manifest (tag, rows, checksum) plus the storage path — the
        operational inventory a retention job sweeps over. Uncommitted
        (aborted) directories are listed with ``manifest=None`` so they
        can be reclaimed too."""
        fs, root = hadoop_fs(spark, self.root)
        if not fs.exists(root):
            return []
        out = []
        for status in fs.listStatus(root):
            if not status.isDirectory():
                continue
            path = status.getPath().toString()
            manifest = None
            if fs.exists(hadoop_fs(spark, f"{path}/{_MARKER}")[1]):
                try:
                    manifest = json.loads(_fs_read_text(spark, f"{path}/{_MARKER}"))
                except ValueError as e:
                    raise IOError(
                        f"corrupted state commit marker at {path}: {e}"
                    ) from e
            out.append({"path": path, "manifest": manifest,
                        "modified_ms": int(status.getModificationTime())})
        return sorted(out, key=lambda e: e["path"])

    def sweep(self, spark: SparkSession,
              keep_tags: "set[str] | None" = None,
              older_than_ms: "int | None" = None) -> "list[str]":
        """Reclaim state directories: everything whose manifest tag is NOT
        in ``keep_tags`` (None = keep all committed), plus aborted
        (marker-less) directories, optionally restricted to entries last
        modified before ``older_than_ms`` (epoch millis — pass it in; the
        store never reads the clock itself). Markers are deleted FIRST so
        a concurrent reader never sees committed-but-vanishing data.
        Returns the deleted paths."""
        deleted = []
        for entry in self.entries(spark):
            committed = entry["manifest"] is not None
            keep = committed and (keep_tags is None
                                  or entry["manifest"]["tag"] in keep_tags)
            if keep:
                continue
            if older_than_ms is not None and entry["modified_ms"] >= older_than_ms:
                continue
            fs, d = hadoop_fs(spark, entry["path"])
            marker = hadoop_fs(spark, f"{entry['path']}/{_MARKER}")[1]
            if fs.exists(marker):
                fs.delete(marker, False)
            fs.delete(d, True)
            deleted.append(entry["path"])
        return deleted

    def invalidate(self, spark: SparkSession, tag: str,
                   key: "str | None" = None) -> None:
        """Drop a tag's state (marker first, so a concurrent reader never
        sees committed-but-deleted data)."""
        path = self._path(spark, tag, key)
        fs, d = hadoop_fs(spark, path)
        m = hadoop_fs(spark, self._marker(path))[1]
        if fs.exists(m):
            fs.delete(m, False)
        if fs.exists(d):
            fs.delete(d, True)
