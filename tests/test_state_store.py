"""StateStore (systems_spark/state.py) — the incremental lanes' standing-
state contract: write-once per (key, tag), commit-marker-gated reads,
atomic marker writes, invalidation. VERDICT r7 items 1+2."""

import json
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from systems_spark.state import StateStore, fs_write_text_atomic

ROOT = "/tmp/systems_spark_state_test"


@pytest.fixture()
def store():
    shutil.rmtree(ROOT, ignore_errors=True)
    yield StateStore(root=ROOT)
    shutil.rmtree(ROOT, ignore_errors=True)


def test_materialize_roundtrips_rows(spark, store):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = store.materialize(df, "t1")
    assert sorted(r["v"] for r in out.collect()) == [2 * i for i in range(100)]
    m = store.manifest(spark, "t1")
    assert m["rows"] == 100 and m["tag"] == "t1"


def test_second_materialize_is_a_cache_hit_not_a_recompute(spark, store):
    store.materialize(spark.range(10), "t2")
    # a DIFFERENT frame offered under the same committed tag is ignored —
    # proof the input plan never executes on a marker hit
    out = store.materialize(spark.range(9999), "t2")
    assert out.count() == 10


def test_lazy_input_never_executes_on_hit(spark, store):
    store.materialize(spark.range(5), "t3")

    def boom(_):
        raise RuntimeError("input plan executed on a marker hit")

    poisoned = spark.range(5).toDF("id").select(
        F.udf(boom, "long")(F.col("id")).alias("id"))
    assert store.materialize(poisoned, "t3").count() == 5


def test_keys_isolate_tags_and_sessions(spark, store):
    store.materialize(spark.range(3), "a")
    store.materialize(spark.range(7), "b")
    assert store.materialize(spark.range(0), "a").count() == 3
    assert store.materialize(spark.range(0), "b").count() == 7
    # explicit key overrides the applicationId scope: a second "session"
    # (different key) computes its own copy; the same key reuses it
    store.materialize(spark.range(4), "a", key="run-42")
    assert store.materialize(spark.range(0), "a", key="run-42").count() == 4
    assert store.materialize(spark.range(0), "a").count() == 3


def test_invalidate_forces_recompute(spark, store):
    store.materialize(spark.range(3), "t4")
    store.invalidate(spark, "t4")
    assert not store.is_committed(spark, "t4")
    assert store.materialize(spark.range(8), "t4").count() == 8


def test_data_without_marker_is_recomputed(spark, store):
    """A crash after the data write but before the marker = aborted
    attempt; the next materialize must clobber it."""
    path = store._path(spark, "t5", None)
    spark.range(99).write.mode("overwrite").parquet(path)  # no marker
    assert not store.is_committed(spark, "t5")
    assert store.materialize(spark.range(6), "t5").count() == 6


def test_corrupted_marker_raises_named_error(spark, store):
    store.materialize(spark.range(3), "t6")
    marker = store._marker(store._path(spark, "t6", None))
    with open(marker, "w") as f:
        f.write('{"rows": 3, "chec')  # truncated JSON
    # drop Hadoop LocalFS's checksum sidecar so the read reaches the
    # JSON parse (the corruption under test) instead of ChecksumException
    crc = os.path.join(os.path.dirname(marker),
                       "." + os.path.basename(marker) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    with pytest.raises(IOError, match="corrupted state commit marker"):
        store.manifest(spark, "t6")


def test_atomic_write_no_partial_at_final_path(spark, store):
    os.makedirs(ROOT, exist_ok=True)
    p = f"{ROOT}/atomic.json"
    fs_write_text_atomic(spark, p, json.dumps({"x": 1}))
    assert json.load(open(p)) == {"x": 1}
    assert not os.path.exists(p + ".inprogress")
    # second write to an existing path is a no-op commit, not a clobber
    fs_write_text_atomic(spark, p, json.dumps({"x": 2}))
    assert json.load(open(p)) == {"x": 1}
    assert not os.path.exists(p + ".inprogress")


def test_tag_charset_enforced(spark, store):
    with pytest.raises(ValueError, match="state tag"):
        store.materialize(spark.range(1), "bad tag with spaces")
    with pytest.raises(ValueError, match="state tag"):
        store.materialize(spark.range(1), "")


def test_thunk_never_invoked_on_marker_hit(spark, store):
    calls = []

    def build():
        calls.append(1)
        return spark.range(4)

    assert store.materialize(build, "t7", spark=spark).count() == 4
    assert store.materialize(build, "t7", spark=spark).count() == 4
    assert len(calls) == 1
    with pytest.raises(ValueError, match="requires spark="):
        store.materialize(lambda: spark.range(1), "t8")


def test_entries_and_sweep(spark, store):
    store.materialize(spark.range(3), "keep-me")
    store.materialize(spark.range(5), "drop-me")
    # an aborted attempt: data, no marker
    spark.range(9).write.parquet(store._path(spark, "aborted", None))
    ents = store.entries(spark)
    assert len(ents) == 3
    tags = sorted(e["manifest"]["tag"] for e in ents if e["manifest"])
    assert tags == ["drop-me", "keep-me"]
    assert sum(1 for e in ents if e["manifest"] is None) == 1

    deleted = store.sweep(spark, keep_tags={"keep-me"})
    assert len(deleted) == 2  # drop-me + the aborted dir
    left = store.entries(spark)
    assert [e["manifest"]["tag"] for e in left] == ["keep-me"]
    assert store.materialize(spark.range(0), "keep-me").count() == 3

    # age-restricted sweep: nothing is old enough -> nothing deleted
    assert store.sweep(spark, keep_tags=set(), older_than_ms=1) == []


def _jobs(spark, fn):
    """(Spark jobs ``fn`` started, its result), counted through a job
    group."""
    import uuid

    sc = spark.sparkContext
    group = f"state-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "state store job budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_marker_hit_runs_no_job(spark, store):
    """The marker records the written schema, so a hit reads the data
    with it: no footer-inference job. A marker written before it did
    still infers, with the same rows."""
    df = spark.range(6).selectExpr("id", "cast(id * 2 as string) AS s",
                                   "array(id) AS a")
    first = store.materialize(df, "t9")
    n, hit = _jobs(spark, lambda: store.materialize(spark.range(0), "t9"))
    assert n == 0, f"a marker hit ran {n} jobs"
    assert hit.schema == first.schema
    assert sorted(tuple(r) for r in hit.collect()) == sorted(
        (i, str(2 * i), [i]) for i in range(6))

    marker = store._marker(store._path(spark, "t9", None))
    with open(marker) as f:
        old = json.load(f)
    old.pop("schema")
    os.remove(marker)
    crc = os.path.join(os.path.dirname(marker),
                       "." + os.path.basename(marker) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    fs_write_text_atomic(spark, marker, json.dumps(old))
    legacy = store.materialize(spark.range(0), "t9")
    assert legacy.schema == first.schema
    assert sorted(tuple(r) for r in legacy.collect()) == sorted(
        (i, str(2 * i), [i]) for i in range(6))
