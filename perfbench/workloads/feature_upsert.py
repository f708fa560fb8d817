"""feature_upsert: a flat ``CdcTable`` of user features, written and read.

Each op is one tick: one seeded upsert/delete batch committed through the
table's ``foreachBatch`` entry point, then ``LOOKUPS`` point-lookup batches
served from the new version. Writes beside reads in ``streaming`` (sinks),
``state`` (the commit log) and ``sources``; every lookup is compared with a
Python dict model of the table.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

import numpy as np

from workloads.base import Workload

TABLE_ROWS = 20_000   # initial live rows
BATCH_ROWS = 400      # changed rows per tick
UPDATE_FRAC = 0.6
INSERT_FRAC = 0.2     # the rest of each batch deletes live keys
LOOKUPS = 3           # lookup batches per tick
LOOKUP_KEYS = 50
N_TICKS = 80          # ticks generated; a 60 s run at ~1 s per tick fits
WARMUP = 2
SEGMENTS = ("news", "sport", "music", "film", "games", "travel", "food")

SCHEMA = "user_id long, clicks long, score double, segment string"
CHANGE_SCHEMA = SCHEMA + ", seq long, op string"


def _row_bytes(segment: str) -> int:
    """Payload bytes of one row as the user wrote it: three 8-byte
    numbers plus the segment string."""
    return 24 + len(segment)


class FeatureUpsert(Workload):
    name = "feature_upsert"
    metric_ops = 4

    def __init__(self, seed: int, data_dir: str):
        rng = np.random.default_rng(seed)

        def payload(k):
            return (int(k), int(rng.integers(0, 10_000)),
                    round(float(rng.random()), 6),
                    SEGMENTS[int(rng.integers(len(SEGMENTS)))])

        self.initial = [payload(k) for k in range(TABLE_ROWS)]
        live, next_key, seq = list(range(TABLE_ROWS)), TABLE_ROWS, 0
        n_upd = int(BATCH_ROWS * UPDATE_FRAC)
        n_ins = int(BATCH_ROWS * INSERT_FRAC)
        self.batches, self.lookups = [], []
        for _ in range(N_TICKS):
            touched = rng.choice(len(live), BATCH_ROWS - n_ins, replace=False)
            batch = []
            for j, pos in enumerate(touched):
                seq += 1
                if j < n_upd:
                    batch.append(payload(live[pos]) + (seq, "update"))
                else:
                    batch.append((live[pos], None, None, None, seq, "delete"))
            for k in range(next_key, next_key + n_ins):
                seq += 1
                batch.append(payload(k) + (seq, "insert"))
            gone = set(int(p) for p in touched[n_upd:])
            live = [k for p, k in enumerate(live) if p not in gone]
            live.extend(range(next_key, next_key + n_ins))
            next_key += n_ins
            self.batches.append(batch)
            # live, deleted and never-written keys alike
            self.lookups.append([
                sorted(set(rng.integers(0, next_key + 100,
                                        LOOKUP_KEYS).tolist()))
                for _ in range(LOOKUPS)])
        self.sizes = {"table_rows": TABLE_ROWS, "batch_rows": BATCH_ROWS,
                      "update_frac": UPDATE_FRAC, "insert_frac": INSERT_FRAC,
                      "lookups_per_tick": LOOKUPS,
                      "keys_per_lookup": LOOKUP_KEYS}

    # -- set-up --------------------------------------------------------
    def setup(self, spark, state_dir: str):
        from systems_spark.streaming.sinks import CdcTable

        self.spark = spark
        self.table_dir = os.path.join(state_dir, "features")
        self.table = CdcTable(self.table_dir, key_cols=["user_id"],
                              app_id="perfbench")
        self.table.initialize(spark.createDataFrame(self.initial, SCHEMA))
        self.model = {r[0]: r for r in self.initial}
        self.applied = 0
        self.commit_lat, self.lookup_lat = [], []
        return list(range(WARMUP))

    def units_per_op(self, i: int) -> int:
        return BATCH_ROWS

    # -- one tick ------------------------------------------------------
    def _span(self, tracer, name):
        return nullcontext() if tracer is None else tracer.span(name)

    def op(self, i: int, tracer=None):
        """Tick ``i`` commits the next batch in sequence (warm-up ticks
        come first), so the model and the table advance together."""
        k = self.applied
        if k >= N_TICKS:
            raise RuntimeError(f"feature_upsert has only {N_TICKS} ticks")
        batch = self.batches[k]
        t = time.perf_counter()
        with self._span(tracer, "commit") as sp:
            self.table(self.spark.createDataFrame(batch, CHANGE_SCHEMA), k)
        self.commit_lat.append(time.perf_counter() - t)
        spans = [sp]
        self.applied += 1
        for row in batch:
            if row[-1] == "delete":
                self.model.pop(row[0], None)
            else:
                self.model[row[0]] = row[:4]
        results, frames = [], []
        for keys in self.lookups[k]:
            t = time.perf_counter()
            with self._span(tracer, "lookup") as sp:
                df = self.table.lookup(self.spark, keys)
                results.append((keys, df.collect()))
            self.lookup_lat.append(time.perf_counter() - t)
            spans.append(sp)
            frames.append(df)
        if tracer is not None:
            self._ops.append((spans, [tracer.catalyst_ms(f) for f in frames]))
        return results

    # -- checks --------------------------------------------------------
    def check(self, i: int, results) -> bool:
        for keys, rows in results:
            want = sorted(self.model[k] for k in keys if k in self.model)
            got = sorted((r["user_id"], r["clicks"], r["score"], r["segment"])
                         for r in rows)
            if got != want:
                return False
        return True

    def summary(self) -> dict:
        """Write and read latency of the timed window, traced or not."""
        lat = sorted(self.lookup_lat[WARMUP * LOOKUPS:])
        out = {"write_p50_s": statistics.median(self.commit_lat[WARMUP:]),
               "read_p50_s": statistics.median(lat), "reads": len(lat)}
        if len(lat) >= 100:  # ten samples beyond the 90th percentile
            out["read_p90_s"] = lat[int(0.9 * len(lat))]
        return out

    # -- traced run ----------------------------------------------------
    def _dir_bytes(self, sub: str = "") -> int:
        total = 0
        for base, _, files in os.walk(os.path.join(self.table_dir, sub)):
            total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
        return total

    def trace_begin(self, tracer) -> None:
        self._ops, self._written = [], []
        self.commit_lat, self.lookup_lat = [], []
        self._versions0 = self._versions()
        self._wrap_commit()

    def _versions(self):
        t = time.perf_counter()
        n = len(self.table.versions(self.spark))
        return n, time.perf_counter() - t

    def _wrap_commit(self) -> None:
        """Count commit attempts (retries show as extra attempts)."""
        inner = self.table._commit
        calls = [0]

        def counted(*args, **kwargs):
            calls[0] += 1
            return inner(*args, **kwargs)

        self.table._commit = counted
        self._attempts = calls

    def trace_after(self, i: int, tracer) -> None:
        man = self.table._latest_manifest(self.spark)
        batch = self.batches[self.applied - 1]
        user = sum(_row_bytes(r[3] or "") + 8 + len(r[5]) for r in batch)
        self._written.append(self._dir_bytes(man["data_dir"]) / user)

    def trace_end(self, tracer) -> dict:
        import layers

        vals = layers.op_metrics(self._ops)
        commits = [s for spans, _ in self._ops for s in spans[:1]]
        lookups = [s for spans, _ in self._ops for s in spans[1:]]
        vals["streaming.commit_s"] = statistics.median(self.commit_lat)
        vals["streaming.lookup_s"] = statistics.median(self.lookup_lat)
        vals["streaming.jobs_per_commit"] = statistics.median(
            s.jobs for s in commits)
        vals["streaming.jobs_per_lookup"] = statistics.median(
            s.jobs for s in lookups)
        vals["streaming.bytes_written_per_user_byte"] = statistics.median(
            self._written)
        live = sum(_row_bytes(r[3]) for r in self.model.values())
        vals["streaming.table_bytes_per_live_byte"] = self._dir_bytes() / live
        vals["streaming.commit_retries"] = self._attempts[0] - len(
            self.commit_lat)
        n1, t1 = self._versions()
        n0, t0 = self._versions0
        vals["state.versions_s"] = t1 - t0
        vals["state.commit_log_entries"] = n1 - n0
        return layers.with_units(vals)
