"""O(1) latest-version discovery on the CDC commit log (the
``_last_checkpoint`` role): every successful publish overwrites a
``_commits/_latest`` hint; readers verify the hint against the marker
it names and probe FORWARD past any commits it missed (versions are
claimed densely, so the first missing marker is the frontier), falling
back to a full listing when the hint is absent, corrupt, or names a
vacuumed version. A wrong hint can therefore never serve a wrong
snapshot — it only costs the listing.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from systems_spark.streaming import CdcTable, PartitionedCdcTable

PAY = "k long, s string, v long"
CH_SCHEMA = PAY + ", seq long, op string"


def _ch(spark, rows):
    return spark.createDataFrame(rows, CH_SCHEMA)


def _seed(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], PAY)


def _hint(base):
    return os.path.join(base, "_commits", "_latest")


def test_hint_tracks_latest_and_skips_the_listing(spark, tmp_path,
                                                  monkeypatch):
    base = str(tmp_path / "t")
    t = CdcTable(base, "k", app_id="w")
    t.initialize(_seed(spark))
    with open(_hint(base)) as fh:
        assert fh.read() == "-1"
    t(_ch(spark, [(1, "a1", 11, 1, "update")]), 0)
    t(_ch(spark, [(2, "b1", 21, 2, "update")]), 1)
    with open(_hint(base)) as fh:
        assert fh.read() == "1"
    assert t._latest_version(spark) == 1

    # the O(1) proof: with a FRESH hint, reading the latest manifest
    # must never list the commit directory
    def no_listing(self, spark_):
        raise AssertionError("listed the commit log despite a fresh hint")
    monkeypatch.setattr(CdcTable, "versions", no_listing)
    assert t._latest_manifest(spark)["version"] == 1
    assert {r.k: r.s for r in t.current(spark).collect()} \
        == {1: "a1", 2: "b1", 3: "c"}
    monkeypatch.undo()


def test_stale_hint_probes_forward(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "t")
    t = CdcTable(base, "k", app_id="w")
    t.initialize(_seed(spark))
    for i in range(3):
        t(_ch(spark, [(1, f"s{i}", 10 + i, i + 1, "update")]), i)
    with open(_hint(base), "w") as fh:
        fh.write("-1")  # lost updates: hint three commits behind
    # still correct — and still without a listing
    monkeypatch.setattr(
        CdcTable, "versions",
        lambda self, s: (_ for _ in ()).throw(AssertionError("listed")))
    assert t._latest_version(spark) == 2
    monkeypatch.undo()


@pytest.mark.parametrize("content", ["garbage", "999", ""])
def test_bad_hint_falls_back_to_listing(spark, tmp_path, content):
    base = str(tmp_path / "t")
    t = CdcTable(base, "k", app_id="w")
    t.initialize(_seed(spark))
    t(_ch(spark, [(1, "a1", 11, 1, "update")]), 0)
    with open(_hint(base), "w") as fh:
        fh.write(content)  # corrupt / names an unknown version / torn
    assert t._latest_version(spark) == 0
    os.unlink(_hint(base))  # missing hint entirely
    assert t._latest_version(spark) == 0
    # the next commit restores it
    t(_ch(spark, [(2, "b1", 21, 2, "update")]), 1)
    with open(_hint(base)) as fh:
        assert fh.read() == "1"


def test_hint_survives_vacuum_and_partitioned_layout(spark, tmp_path):
    base = str(tmp_path / "t")
    t = PartitionedCdcTable(base, "k", app_id="w", num_buckets=4)
    t.initialize(_seed(spark))
    for i in range(3):
        t(_ch(spark, [(1, f"s{i}", 10 + i, i + 1, "update")]), i)
    t.vacuum(spark, keep_last=1)
    assert t._latest_version(spark) == 2
    assert {r.k: r.s for r in t.current(spark).collect()} \
        == {1: "s2", 2: "b", 3: "c"}


def test_cdf_source_latest_uses_hint(spark, tmp_path, monkeypatch):
    from systems_spark.streaming import cdf_source as cdf

    base = str(tmp_path / "t")
    t = PartitionedCdcTable(base, "k", app_id="w", num_buckets=4,
                            write_mode="merge_on_read")
    t.initialize(_seed(spark))
    t(_ch(spark, [(1, "a1", 11, 1, "update")]), 0)
    assert cdf._latest_version(base) == 0
    # fresh hint: no listdir needed
    monkeypatch.setattr(
        cdf, "_versions",
        lambda p: (_ for _ in ()).throw(AssertionError("listed")))
    assert cdf._latest_version(base) == 0
    monkeypatch.undo()
    # stale hint probes forward; corrupt hint falls back
    t(_ch(spark, [(2, "b1", 21, 2, "update")]), 1)
    with open(_hint(base), "w") as fh:
        fh.write("0")
    assert cdf._latest_version(base) == 1
    with open(_hint(base), "w") as fh:
        fh.write("nope")
    assert cdf._latest_version(base) == 1


@pytest.mark.parametrize("layout", ["flat", "partitioned"])
def test_live_reads_take_one_manifest(spark, tmp_path, monkeypatch, layout):
    """current() and the flat lookup() read the latest manifest ONCE and
    build the view from it: a second read could pair one version's column
    map and dropped columns with a later commit's data."""
    base = str(tmp_path / "t")
    t = (CdcTable(base, "k", app_id="w") if layout == "flat" else
         PartitionedCdcTable(base, "k", app_id="w", num_buckets=4))
    t.initialize(_seed(spark))
    t(_ch(spark, [(1, "a1", 11, 1, "update")]), 0)
    reads = []
    real = CdcTable._latest_manifest

    def counted(self, spark_):
        reads.append(1)
        return real(self, spark_)

    monkeypatch.setattr(CdcTable, "_latest_manifest", counted)
    assert {r.k: r.s for r in t.current(spark).collect()} \
        == {1: "a1", 2: "b", 3: "c"}
    assert len(reads) == 1
    reads.clear()
    assert [r.s for r in t.lookup(spark, [1]).collect()] == ["a1"]
    assert len(reads) == 1
