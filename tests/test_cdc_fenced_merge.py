"""merge_cdc_fenced as one exchange, and CdcTable reads that take their
schema from the manifest: job budgets, a property test against a
pure-Python model of the fenced merge, and reads of flat tables whose
manifests predate the recorded schema."""

import json
import os
import sys
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from systems_spark import plans
from systems_spark.operators.cdc import merge_cdc_fenced
from systems_spark.streaming import CdcTable, PartitionedCdcTable

PAY = "k long, s string, v long"
CH_SCHEMA = PAY + ", seq long, op string"


def _jobs(spark, fn):
    """(Spark jobs ``fn`` started, its result), counted through a job
    group."""
    sc = spark.sparkContext
    group = f"cdc-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "cdc job budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _batch(spark, tick):
    rows = [(k, f"u{tick}", k, 10 + tick, "update")
            for k in range(tick, 30, 3)]
    rows += [(500 + tick, "n", 1, 10 + tick, "insert"),
             (100 + tick, None, None, 10 + tick, "delete")]
    return spark.createDataFrame(rows, CH_SCHEMA)


def test_commit_and_lookup_job_budget(spark, tmp_path):
    """A flat commit is the merge's one exchange plus the write (no
    footer-inference job: the manifest records the schema), a flat
    lookup is its one collect, and the bucketed copy-on-write commit
    is at most 4 jobs (the touched-bucket collect's two, the merge's
    exchange and the write; 8 when the merge ran its anti, semi and
    outer joins)."""
    seed = spark.createDataFrame([(i, f"s{i}", i) for i in range(200)], PAY)
    flat = CdcTable(str(tmp_path / "flat"), "k", app_id="a")
    flat.initialize(seed)
    cow = PartitionedCdcTable(str(tmp_path / "cow"), "k", app_id="a",
                              num_buckets=4)
    cow.initialize(seed)
    for tick in range(2):
        n, _ = _jobs(spark, lambda: flat(_batch(spark, tick), tick))
        assert n <= 2, f"flat commit ran {n} jobs"
        n, rows = _jobs(spark, lambda: flat.lookup(
            spark, [1, 100 + tick, 500 + tick, 999]).collect())
        assert n == 1, f"flat lookup ran {n} jobs"
        assert sorted(r.k for r in rows) == [1, 500 + tick]
        n, _ = _jobs(spark, lambda: cow(_batch(spark, tick), tick))
        assert n <= 4, f"copy-on-write commit ran {n} jobs"
    snap = flat.snapshot(spark)
    merged = merge_cdc_fenced(snap, _batch(spark, 7), "k",
                              check_unique_seq="inline")
    assert plans.count_exchanges(merged) == 1
    assert merged.columns == snap.columns


# -- merge_cdc_fenced against a pure-Python model -----------------------------

KEYS = ("k1", "k2")
# deliberately not payload-first: the output keeps the snapshot's order
SNAP_SCHEMA = "seq long, v long, k2 string, k1 long, _cdc_deleted boolean"
CHANGE_SCHEMA = "k1 long, k2 string, v long, op string, seq long"
OPS = ("insert", "update", "delete")


class _Raised(Exception):
    pass


def _rank(seq):
    """Sort key of a seq: a NULL seq ranks below every number."""
    return (seq is not None, seq or 0)


def _model(snap, changes, min_seq, inline):
    """The fenced merge, row by row. ``snap`` rows are (k1, k2, v, seq,
    deleted); ``changes`` rows are (k1, k2, v, seq, op). Returns the
    output multiset as sorted (k1, k2, v, seq, deleted) tuples, or
    raises ``_Raised`` with the messages the merge may raise with."""
    live = [c for c in changes
            if min_seq is None or (c[3] is not None and c[3] > min_seq)]
    by_key = {}
    for c in live:
        by_key.setdefault(c[:2], []).append(c)
    reasons = []
    if any(c[4] not in OPS for c in live):
        reasons.append("unknown op")
    for cs in by_key.values():
        seqs = [c[3] for c in cs]
        # inline: only a tie at the key's top seq is ambiguous; the
        # eager check rejects any repeated (key, seq)
        checked = [max(seqs, key=_rank)] if inline else set(seqs)
        if any(seqs.count(q) > 1 for q in checked):
            reasons.append("must be unique")
            break
    if reasons:
        raise _Raised("|".join(reasons))
    snap_by_key = {}
    for r in snap:
        snap_by_key.setdefault(r[:2], []).append(r)
    out = []
    for key in set(snap_by_key) | set(by_key):
        rows = snap_by_key.get(key, [])
        cs = by_key.get(key, [])
        top = max(cs, key=lambda c: _rank(c[3])) if cs else None
        if top is not None and (not rows or _rank(top[3]) > max(
                _rank(r[3]) for r in rows)):
            # the change wins: the key becomes that one row
            out.append(top[:4] + (top[4] == "delete",))
        else:
            # untouched, stale or replayed: the snapshot rows verbatim
            out.extend(rows)
    return sorted(out, key=repr)


def _spark_merge(spark, snap, changes, min_seq, inline):
    s = spark.createDataFrame([(q, v, k2, k1, d)
                               for k1, k2, v, q, d in snap], SNAP_SCHEMA)
    c = spark.createDataFrame([(k1, k2, v, op, q)
                               for k1, k2, v, q, op in changes],
                              CHANGE_SCHEMA)
    out = merge_cdc_fenced(s, c, list(KEYS), min_seq=min_seq,
                           check_unique_seq="inline" if inline else True)
    assert out.columns == s.columns
    return sorted(((r.k1, r.k2, r.v, r.seq, r._cdc_deleted)
                   for r in out.collect()), key=repr)


_key = st.tuples(st.sampled_from([None, 0, 1]),
                 st.sampled_from([None, "a", "b"]))
_snap_rows = st.lists(st.builds(
    lambda k, v, q, d: k + (v, q, d), _key, st.integers(0, 9),
    st.integers(0, 4), st.booleans()), max_size=6)
_change_rows = st.lists(st.builds(
    lambda k, v, q, op: k + (v, q, op), _key, st.integers(10, 19),
    st.one_of(st.none(), st.integers(0, 6)),
    st.sampled_from(OPS + ("upsert",))), max_size=6)
_min_seq = st.one_of(st.none(), st.integers(0, 5))

# (snapshot, changes, min_seq, the inline-mode result or the error)
_CASES = {
    "equal_seq_replay_keeps_snapshot_row": (
        [(1, "a", 1, 3, False)], [(1, "a", 10, 3, "update")], None,
        [(1, "a", 1, 3, False)]),
    "stale_change_is_a_noop": (
        [(1, "a", 1, 3, True)], [(1, "a", 10, 2, "insert")], None,
        [(1, "a", 1, 3, True)]),
    "delete_of_absent_key_leaves_a_tombstone": (
        [], [(None, None, 10, 1, "delete")], None,
        [(None, None, 10, 1, True)]),
    "fence_drops_changes_at_or_below_it": (
        [(0, "b", 1, 0, False)],
        [(0, "b", 10, 2, "update"), (1, "b", 11, 5, "insert")], 2,
        [(0, "b", 1, 0, False), (1, "b", 11, 5, False)]),
    "tie_at_top_seq_raises": (
        [], [(0, "a", 10, 4, "update"), (0, "a", 11, 4, "delete")], None,
        "must be unique"),
    "tie_at_null_top_seq_raises": (
        [], [(0, "a", 10, None, "update"), (0, "a", 11, None, "delete")],
        None, "must be unique"),
    "null_seq_tie_below_a_numbered_change_passes": (
        [], [(0, "a", 10, None, "update"), (0, "a", 11, None, "delete"),
             (0, "a", 12, 1, "update")], None,
        [(0, "a", 12, 1, False)]),
    "null_seq_change_keeps_a_null_seq_snapshot_row": (
        [(0, "a", 1, None, False)], [(0, "a", 10, None, "update")], None,
        [(0, "a", 1, None, False)]),
    "tie_below_top_seq_passes": (
        [], [(0, "a", 10, 2, "update"), (0, "a", 11, 2, "delete"),
             (0, "a", 12, 3, "update")], None,
        [(0, "a", 12, 3, False)]),
    "unknown_op_raises_even_when_superseded": (
        [(0, "a", 1, 0, False)],
        [(0, "a", 10, 1, "upsert"), (0, "a", 11, 2, "update")], None,
        "unknown op"),
    "winning_change_collapses_duplicate_snapshot_rows": (
        [(0, None, 1, 0, False), (0, None, 2, 1, False)],
        [(0, None, 10, 2, "update")], None,
        [(0, None, 10, 2, False)]),
    "losing_change_keeps_duplicate_snapshot_rows": (
        [(0, None, 1, 0, False), (0, None, 2, 1, False)],
        [(0, None, 10, 1, "update")], None,
        [(0, None, 1, 0, False), (0, None, 2, 1, False)]),
}


def _check(spark, snap, changes, min_seq, inline):
    try:
        want = _model(snap, changes, min_seq, inline)
    except _Raised as e:
        with pytest.raises(Exception, match=str(e)):
            _spark_merge(spark, snap, changes, min_seq, inline)
        return
    assert _spark_merge(spark, snap, changes, min_seq, inline) == want


@pytest.mark.parametrize("case", sorted(_CASES))
def test_named_cases(spark, case):
    """Each named case has its result written out, and both the model
    and the merge (inline tie guard, as the tables run it) give it."""
    snap, changes, min_seq, want = _CASES[case]
    if isinstance(want, str):
        with pytest.raises(_Raised, match=want):
            _model(snap, changes, min_seq, True)
    else:
        assert _model(snap, changes, min_seq, True) == sorted(want, key=repr)
    _check(spark, snap, changes, min_seq, True)


@pytest.mark.parametrize("inline", [True, False])
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(snap=_snap_rows, changes=_change_rows, min_seq=_min_seq)
def test_fenced_merge_matches_model(spark, inline, snap, changes, min_seq):
    _check(spark, snap, changes, min_seq, inline)


# -- the manifest records the schema; old manifests still read -------------

def test_every_flat_manifest_records_its_schema(spark, tmp_path):
    """Every flat commit path (merge, manifest-only commits, restore,
    compaction, the clone seed, adoption) records the schema the
    footers would give, so no later read of any version infers."""
    t = CdcTable(str(tmp_path / "t"), "k", app_id="a")
    t.initialize(spark.createDataFrame([(i, f"s{i}", i) for i in range(20)],
                                       PAY))
    t(_batch(spark, 0), 0)
    t.rename_column(spark, "s", "name")
    t.tag(spark, "first", 0)
    t.add_constraint(spark, "v_ok", "v IS NULL OR v >= 0")
    t.drop_column(spark, "name")
    t.restore(spark, 0)
    t.compact(spark, 100)
    clone = t.clone_to(spark, str(tmp_path / "clone"))
    plain = str(tmp_path / "plain")
    spark.createDataFrame([(1, "p", 2)], PAY).write.parquet(plain)
    adopted = CdcTable(str(tmp_path / "adopted"), "k", app_id="a")
    adopted.adopt(spark, plain)
    mans = t.history(spark) + clone.history(spark) + adopted.history(spark)
    # t: 8 commits of its own plus the tag clone_to pins its source with
    assert len(mans) == 11
    for man in mans:
        assert "schema" in man, man
        inferred = {k: v for k, v in man.items() if k != "schema"}
        assert (t._read_snapshot(spark, man).schema
                == t._read_snapshot(spark, inferred).schema), man


def _strip_schema(path):
    d = os.path.join(path, "_commits")
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            p = os.path.join(d, name)
            with open(p) as fh:
                man = json.load(fh)
            man.pop("schema", None)
            with open(p, "w") as fh:
                json.dump(man, fh, sort_keys=True)


def _reads(spark, t):
    frames = [t.snapshot(spark), t.current(spark),
              t.lookup(spark, [0, 1, 100, 500])]
    frames += [t.at_version(spark, v) for v in t.versions(spark)]
    return [(f.schema, sorted(map(tuple, f.collect()), key=repr))
            for f in frames]


def test_flat_table_without_recorded_schema_reads_the_same(spark, tmp_path):
    """A flat table whose manifests carry no ``schema`` (written before
    manifests recorded it) reads the same rows under the same StructType
    through footer inference, and its next commit records the schema."""
    seed = spark.createDataFrame([(i, f"s{i}", i) for i in range(20)], PAY)
    twins = [CdcTable(str(tmp_path / n), "k", app_id="a")
             for n in ("recorded", "stripped")]
    for t in twins:
        t.initialize(seed)
        t(_batch(spark, 0), 0)
        t.rename_column(spark, "s", "name")
    _strip_schema(twins[1].path)
    assert all("schema" not in m for m in twins[1].history(spark))
    assert _reads(spark, twins[0]) == _reads(spark, twins[1])
    nxt = _batch(spark, 1).withColumnRenamed("s", "name")
    for t in twins:
        t(nxt, 1)
    assert "schema" in twins[1]._latest_manifest(spark)
    assert _reads(spark, twins[0]) == _reads(spark, twins[1])
