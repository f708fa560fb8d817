"""The lane table in the entry file is the one declaration of every lane:
queries(), oracle_sql() and the bench lane list are derived from it."""

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

# model-training lanes graded against pinned snapshots
# (oracle_snapshots.json); without the file they have no oracle
SNAPSHOT_LANES = {"bpe_train", "bpe_tokenize", "bpe_train_incremental",
                  "implicit_recommend", "predict_forest"}


def test_every_lane_declared_once_with_an_oracle():
    defined = sorted(
        name for name, fn in vars(entrymod).items()
        if name.startswith("q_") and inspect.isfunction(fn)
        and fn.__module__ == entrymod.__name__)
    declared = sorted(lane.fn.__name__ for lane in entrymod.LANES)
    assert declared == defined

    names = list(entrymod.queries())
    missing = set(names) - set(entrymod.oracle_sql()) - SNAPSHOT_LANES
    assert not missing, f"lanes without an oracle: {sorted(missing)}"

    bench = [lane.name for lane in entrymod.LANES if lane.bench]
    assert len(set(bench)) == len(bench) and set(bench) <= set(names)
