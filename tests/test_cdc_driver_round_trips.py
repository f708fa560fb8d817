"""Driver round trips of a CdcTable tick: py4j budgets for a flat commit
and a repeated lookup, the SQL-text key predicate against a Python
model, merges and lookups over awkward column names, the view memo's
lifetime, and the cached Hadoop FileSystem handles across a restarted
SparkContext."""

import datetime
import decimal
import os
import shutil
import subprocess
import sys
import textwrap

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from systems_spark.operators.cdc import merge_cdc_fenced
from systems_spark.streaming import CdcTable

PAY = "k long, s string, v long"
CH = PAY + ", seq long, op string"


def _batch(spark, tick):
    rows = [(k, f"u{tick}", k, 10 + tick, "update")
            for k in range(tick, 200, 7)]
    rows += [(1000 + tick, "n", 1, 10 + tick, "insert"),
             (250 + tick, None, None, 10 + tick, "delete")]
    return spark.createDataFrame(rows, CH)


def test_flat_commit_and_repeated_lookup_py4j_budget(spark, tmp_path,
                                                     py4j_commands):
    """A flat commit sends at most 200 py4j commands and a lookup build
    at an unchanged version at most 20: about twice the 93 and 10
    measured with the merge and the key filter as SQL text, the cached
    FileSystem handles and the view memo. The Column-tree merge, the
    per-literal key filter and the per-call package walks sent 582 and
    280."""
    table = CdcTable(str(tmp_path / "t"), "k", app_id="a")
    table.initialize(spark.createDataFrame(
        [(i, f"s{i}", i) for i in range(300)], PAY))
    keys = list(range(0, 500, 10))
    for tick in range(3):
        batch = _batch(spark, tick)
        with py4j_commands() as commit:
            table(batch, tick)
        table.lookup(spark, keys).collect()  # builds the version's view
        with py4j_commands() as lookup:
            df = table.lookup(spark, keys)
        rows = df.collect()
    assert commit.n <= 200, f"flat commit sent {commit.n} py4j commands"
    assert lookup.n <= 20, f"repeated lookup sent {lookup.n} py4j commands"
    assert sorted(r.k for r in rows) == [
        k for k in keys if k < 300 and k != 250]


# -- the key predicate against a Python model ---------------------------------

_INT64 = st.one_of(st.sampled_from([-2**63, 2**63 - 1, -2**31 - 1, 2**31,
                                    0, -1]),
                   st.integers(-2**63, 2**63 - 1))
_TEXT = st.one_of(st.sampled_from(["", "'", "\\", "\\'", "''", "a'b\\c",
                                   "é", "中文", "\n", "x\ty", "NULL"]),
                  st.text(st.characters(codec="utf-8"), max_size=6))


def _matches(row, probes):
    """Null-safe tuple membership: a None slot matches only a None."""
    return any(all((p is None and r is None) or (p is not None and r == p)
                   for r, p in zip(row, t)) for t in probes)


def _check_predicate(spark, tmp_path, key_cols, ddl, rows, probes):
    table = CdcTable(str(tmp_path / "unused"), key_cols, app_id="p")
    tuples = table._lookup_key_tuples(probes)
    pred = table._keys_predicate(tuples)
    assert isinstance(pred, str)  # one parsed expression
    df = spark.createDataFrame(rows, ddl)
    got = sorted((tuple(r) for r in df.where(pred).collect()), key=repr)
    want = sorted((r for r in rows if _matches(r, tuples)), key=repr)
    assert got == want


_settings = settings(max_examples=25, deadline=None,
                     suppress_health_check=[HealthCheck.function_scoped_fixture,
                                            HealthCheck.too_slow])


@_settings
@given(st.lists(st.one_of(st.none(), _INT64), min_size=1, max_size=8),
       st.lists(st.one_of(st.none(), _INT64), max_size=8))
def test_int64_key_predicate_matches_model(spark, tmp_path, probes, others):
    rows = [(k,) for k in probes + others]
    _check_predicate(spark, tmp_path, ["k"], "k long", rows,
                     [(p,) for p in probes])


@_settings
@given(st.lists(st.one_of(st.none(), _TEXT), min_size=1, max_size=8),
       st.lists(st.one_of(st.none(), _TEXT), max_size=8))
def test_string_key_predicate_matches_model(spark, tmp_path, probes, others):
    rows = [(k,) for k in probes + others]
    _check_predicate(spark, tmp_path, ["k"], "k string", rows,
                     [(p,) for p in probes])


_PAIR = st.tuples(st.one_of(st.none(), _INT64), st.one_of(st.none(), _TEXT))


@_settings
@given(st.lists(_PAIR, min_size=1, max_size=6), st.lists(_PAIR, max_size=6))
def test_composite_key_predicate_matches_model(spark, tmp_path, probes,
                                               others):
    rows = probes + others
    _check_predicate(spark, tmp_path, ["a", "b"], "a long, b string",
                     rows, probes)


def test_key_predicate_under_escaped_string_literals(spark, tmp_path):
    """A quoted or backslashed key keeps its value under the parser's
    legacy escape setting (it goes as hex bytes, not an escape)."""
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        rows = [("it's",), ("a\\b",), ("plain",)]
        _check_predicate(spark, tmp_path, ["k"], "k string", rows,
                         [("it's",), ("a\\b",)])
    finally:
        spark.conf.set(key, prev)


def test_keys_without_a_sql_form_use_the_column_tree(spark, tmp_path):
    """Decimal and date keys render as SQL; a timestamp key builds the
    Column tree, with the same rows."""
    table = CdcTable(str(tmp_path / "unused"), "k", app_id="p")
    dec = [decimal.Decimal("1.50"), decimal.Decimal("-2.25")]
    assert isinstance(table._keys_predicate([(d,) for d in dec]), str)
    day = datetime.date(2024, 2, 29)
    assert isinstance(table._keys_predicate([(day,)]), str)
    ts = datetime.datetime(2024, 2, 29, 12, 30)
    pred = table._keys_predicate([(ts,), (None,)])
    assert not isinstance(pred, str)
    df = spark.createDataFrame(
        [(ts,), (datetime.datetime(2024, 3, 1),), (None,)], "k timestamp")
    assert sorted(df.where(pred).collect(), key=repr) == sorted(
        [(ts,), (None,)], key=repr)


# -- merges and lookups over awkward column names -----------------------------

KEY, PAYLOAD, SEQ, OP = "user id.`x`", "pay load.v", "the seq.no", "op `kind`"


def _odd_ddl(*names_types):
    return ", ".join(f"`{n.replace('`', '``')}` {t}" for n, t in names_types)


def test_merge_and_lookup_over_awkward_column_names(spark, tmp_path):
    snap_ddl = _odd_ddl((KEY, "long"), (PAYLOAD, "string"))
    ch_ddl = _odd_ddl((KEY, "long"), (PAYLOAD, "string"), (SEQ, "long"),
                      (OP, "string"))
    table = CdcTable(str(tmp_path / "flat"), KEY, app_id="a",
                     seq_col=SEQ, op_col=OP)
    table.initialize(spark.createDataFrame(
        [(i, f"p{i}") for i in range(6)], snap_ddl))
    table(spark.createDataFrame(
        [(1, "new", 5, "update"), (2, None, 5, "delete"),
         (9, "ins", 5, "insert"), (3, "stale", -1, "update")], ch_ddl), 0)
    live = {r[0]: r[1] for r in table.current(spark).collect()}
    assert live == {0: "p0", 1: "new", 3: "p3", 4: "p4", 5: "p5", 9: "ins"}
    assert table.current(spark).columns == [KEY, PAYLOAD]
    got = {r[0]: r[1] for r in table.lookup(spark, [1, 2, 9, 77]).collect()}
    assert got == {1: "new", 9: "ins"}
    with pytest.raises(ValueError, match="must be unique"):
        table(spark.createDataFrame(
            [(4, "a", 9, "update"), (4, "b", 9, "update")], ch_ddl), 1)
    # the merge kernel on its own, with the eager tie check and an
    # unknown op
    snap = spark.createDataFrame(
        [(1, "a", 1, False)],
        _odd_ddl((KEY, "long"), (PAYLOAD, "string"), (SEQ, "long"),
                 ("dead flag", "boolean")))
    ch = spark.createDataFrame([(1, "b", 2, "update"), (2, "c", 2, "insert")],
                               ch_ddl)
    out = merge_cdc_fenced(snap, ch, [KEY], seq_col=SEQ, op_col=OP,
                           deleted_col="dead flag")
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "b", 2, False), (2, "c", 2, False)]
    bad = spark.createDataFrame([(1, "b", 2, "upsert")], ch_ddl)
    with pytest.raises(Exception, match="unknown op `kind` value: upsert"):
        merge_cdc_fenced(snap, bad, [KEY], seq_col=SEQ, op_col=OP,
                         deleted_col="dead flag",
                         check_unique_seq=False).collect()


# -- the view memo's lifetime -------------------------------------------------

def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_view_memo_lifetime(spark, tmp_path):
    path = str(tmp_path / "t")
    table = CdcTable(path, "k", app_id="a")
    table.initialize(spark.createDataFrame(
        [(i, f"s{i}", i) for i in range(5)], PAY))

    live = table.current(spark)
    assert table.current(spark) is live  # unchanged version: one frame
    assert table.snapshot(spark) is table.snapshot(spark)

    table(spark.createDataFrame([(1, "x", 1, 5, "update")], CH), 0)
    after = table.current(spark)
    assert after is not live
    assert (1, "x", 1) in _rows(after)

    table.rename_column(spark, "s", "label")
    renamed = table.current(spark)
    assert renamed is not after and renamed.columns == ["k", "label", "v"]

    table.drop_column(spark, "v")
    dropped = table.current(spark)
    assert dropped is not renamed and dropped.columns == ["k", "label"]

    table.restore(spark, 0)
    restored = table.current(spark)
    assert restored is not dropped and restored.columns == ["k", "label"]
    assert (1, "x") in _rows(restored)

    # vacuum forgets the versions it drops; the latest view stays valid
    table.at_version(spark, -1)
    assert -1 in [e["version"] for e in table._views.values()]
    dropped_versions = table.vacuum(spark, keep_last=1)
    assert -1 in dropped_versions
    assert all(e["version"] not in dropped_versions
               for e in table._views.values())
    assert table.current(spark) is restored
    assert len(_rows(table.current(spark))) == 5

    # a second session gets its own frames, bound to it
    other = spark.newSession()
    mine = table.current(other)
    assert mine is not restored and mine.sparkSession is other
    assert _rows(mine) == _rows(restored)

    # a table re-created at the same path reads its new rows
    shutil.rmtree(path)
    table.initialize(spark.createDataFrame([(7, "new", 7)], PAY))
    assert _rows(table.current(spark)) == [(7, "new", 7)]
    assert _rows(table.lookup(spark, [1, 7])) == [(7, "new", 7)]


def test_view_memo_is_bounded(spark, tmp_path):
    table = CdcTable(str(tmp_path / "t"), "k", app_id="a")
    table.initialize(spark.createDataFrame([(0, "s", 0)], PAY))
    for tick in range(CdcTable._VIEW_MEMO + 2):
        table(spark.createDataFrame(
            [(tick, "x", tick, 10 + tick, "update")], CH), tick)
        table.current(spark)
    assert len(table._views) <= CdcTable._VIEW_MEMO


# -- the cached Hadoop FileSystem handles --------------------------------------

def test_fs_handles_follow_a_restarted_spark_context(tmp_path):
    """In ONE process: handles resolved under a context are not reused by
    the next context after a stop, and the commit log keeps working."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        from systems_spark import sources
        from systems_spark.streaming import CdcTable

        def start():
            s = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.driver.memory", "512m")
                 .config("spark.sql.shuffle.partitions", "2").getOrCreate())
            s.sparkContext.setLogLevel("ERROR")
            return s

        path = {str(tmp_path / "t")!r}
        s1 = start()
        t = CdcTable(path, "k", app_id="a")
        t.initialize(s1.createDataFrame([(1, "a")], "k long, s string"))
        h1 = sources._hadoop(s1)
        conf1 = s1.sparkContext._jsc.hadoopConfiguration()
        assert h1.conf.equals(conf1) and h1.fs
        s1.stop()

        s2 = start()
        assert s2.sparkContext is not h1.sc
        fs, p = sources.hadoop_fs(s2, path)
        h2 = sources._hadoop(s2)
        assert h2 is not h1 and h2.sc is s2.sparkContext
        conf2 = s2.sparkContext._jsc.hadoopConfiguration()
        assert h2.conf.equals(conf2) and not h2.conf.equals(conf1)
        assert fs.exists(p)
        t2 = CdcTable(path, "k", app_id="a")
        t2(s2.createDataFrame([(2, "b", 5, "insert")],
                              "k long, s string, seq long, op string"), 0)
        assert sorted(tuple(r) for r in t2.current(s2).collect()) == [
            (1, "a"), (2, "b")]
        s2.stop()
        print("OK")
    """)
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=600)
    assert out.returncode == 0 and "OK" in out.stdout, out.stderr[-3000:]
