"""Per-layer readings taken from outside the program.

A :class:`Tracer` tags a Spark job group around one call into a layer's
public function (a *span*), then reads what Spark recorded for that group:
jobs from ``statusTracker``, per-stage task metrics from the status store,
and JVM garbage-collection and CPU time. Catalyst phase times come from the
``QueryExecution`` of the frame whose action ended the span.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

import procs


class Span:
    """What one tagged call cost: wall time plus Spark's own accounting."""

    def __init__(self, group: str):
        self.group = group
        self.wall_s = 0.0
        self.jobs = 0
        self.stages = 0
        self.tasks = 0
        self.executor_cpu_s = 0.0
        self.shuffle_write_mb = 0.0
        self.spill_mb = 0.0
        self.stage_busy_s = 0.0  # union of completed stages' active intervals
        self.gc_s = 0.0
        self.jvm_cpu_s = 0.0

    @property
    def driver_gap_s(self) -> float:
        return max(0.0, self.wall_s - self.stage_busy_s)


def _union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    def __init__(self, spark, jvm_pid: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = spark._jsc.sc()
        self._store = self._jsc.statusStore()
        self._jvm_pid = jvm_pid
        self._seq = 0
        self._pending = []

    def _gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    @contextmanager
    def span(self, name: str):
        """Tag every job started inside the block with a fresh group. The
        group's Spark accounting is read later, by :meth:`flush`, so that
        reading it stays outside the timed op."""
        self._seq += 1
        sp = Span(f"perfbench-{self._seq}-{name}")
        self.sc.setJobGroup(sp.group, name, interruptOnCancel=False)
        gc0, cpu0 = self._gc_s(), procs.cpu_seconds(self._jvm_pid)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            sp.gc_s = self._gc_s() - gc0
            sp.jvm_cpu_s = procs.cpu_seconds(self._jvm_pid) - cpu0
            self._pending.append(sp)

    def flush(self) -> None:
        """Read Spark's accounting for every span closed since the last
        flush."""
        # the status store is fed by the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty()
        for sp in self._pending:
            self._read(sp)
        self._pending = []

    def _read(self, sp: Span) -> None:
        tracker = self.sc.statusTracker()
        intervals = []
        for jid in tracker.getJobIdsForGroup(sp.group):
            sp.jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - evicted or never attempted
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                sp.stages += 1
                sp.tasks += sd.numCompleteTasks()
                sp.executor_cpu_s += sd.executorCpuTime() / 1e9
                sp.shuffle_write_mb += sd.shuffleWriteBytes() / 2**20
                sp.spill_mb += (sd.memoryBytesSpilled()
                                + sd.diskBytesSpilled()) / 2**20
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1000.0,
                                      done.get().getTime() / 1000.0))
        sp.stage_busy_s = _union_length(intervals)

    @staticmethod
    def catalyst_ms(df) -> dict:
        """Analysis / optimization / planning ms of ``df``'s last action."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    def persistent_rdds(self) -> int:
        return self.spark._jsc.getPersistentRDDs().size()


# Every per-layer metric the traced run reports, with its unit. A workload
# that never calls a layer reports that layer's metrics as 0.
LAYER_UNITS = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_cpu_s_per_op": "s",
    "spark.shuffle_write_mb_per_op": "MB",
    "spark.spill_mb_per_op": "MB",
    "spark.driver_gap_s_per_op": "s",
    "spark.driver_gap_s_per_job": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "jvm.gc_s_per_op": "s",
    "jvm.process_cpu_s_per_op": "s",
    "pinning.persistent_rdds_after_op": "count",
    "pinning.pin_s": "s",
}
for _stage in ("embedding_lookup", "query_ann", "filter_candidates",
               "query_feature_table", "unroll_features", "softmax_sampling"):
    LAYER_UNITS[f"operators.{_stage}_s"] = "s"
    LAYER_UNITS[f"operators.{_stage}.jobs"] = "count"
LAYER_UNITS["operators.filter_keep_frac"] = "ratio"
LAYER_UNITS["operators.fusion_gap_s"] = "s"
for _stage in ("shingle_relation", "signatures", "candidate_pairs",
               "verify_pairs", "connected_components"):
    LAYER_UNITS[f"dedup.{_stage}_s"] = "s"
    LAYER_UNITS[f"dedup.{_stage}.jobs"] = "count"
LAYER_UNITS["dedup.candidate_pairs"] = "count"
LAYER_UNITS["dedup.verified_frac"] = "ratio"
LAYER_UNITS.update({
    "streaming.commit_s": "s",
    "streaming.lookup_s": "s",
    "streaming.jobs_per_commit": "count",
    "streaming.jobs_per_lookup": "count",
    "streaming.bytes_written_per_user_byte": "ratio",
    "streaming.table_bytes_per_live_byte": "ratio",
    "streaming.commit_retries": "count",
    "state.versions_s": "s",
    "state.commit_log_entries": "count",
})


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def op_metrics(ops) -> dict:
    """spark.*, catalyst.* and jvm.* medians over traced ops. ``ops`` is a
    list of ``(spans, catalyst_ms_dicts)``, one entry per traced op."""
    def per_op(fn):
        return _median([sum(fn(s) for s in spans) for spans, _ in ops])

    jobs = sum(s.jobs for spans, _ in ops for s in spans)
    gap = sum(s.driver_gap_s for spans, _ in ops for s in spans)
    out = {
        "spark.jobs_per_op": per_op(lambda s: s.jobs),
        "spark.stages_per_op": per_op(lambda s: s.stages),
        "spark.tasks_per_op": per_op(lambda s: s.tasks),
        "spark.executor_cpu_s_per_op": per_op(lambda s: s.executor_cpu_s),
        "spark.shuffle_write_mb_per_op": per_op(lambda s: s.shuffle_write_mb),
        "spark.spill_mb_per_op": per_op(lambda s: s.spill_mb),
        "spark.driver_gap_s_per_op": per_op(lambda s: s.driver_gap_s),
        "spark.driver_gap_s_per_job": gap / jobs if jobs else 0.0,
        "jvm.gc_s_per_op": per_op(lambda s: s.gc_s),
        "jvm.process_cpu_s_per_op": per_op(lambda s: s.jvm_cpu_s),
    }
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = _median(
            [sum(c[phase] for c in cat) for _, cat in ops])
    return out


def run_isolated(tracer, stages, df, spans: dict) -> list:
    """Stage-isolated timing: each ``(name, stage)`` runs alone on the
    previous stage's pinned output, inside a span, and its own output is
    pinned eagerly. Appends each span to ``spans[name]`` and returns the pins,
    which the caller releases."""
    from systems_spark.pinning import pin

    pins = []
    for name, stage in stages:
        with tracer.span(name) as sp:
            df = pin(stage(df), eager=True)
        spans[name].append(sp)
        pins.append(df)
    return pins


def stage_metrics(prefix: str, spans: dict) -> dict:
    """``<prefix>.<stage>_s`` and ``<prefix>.<stage>.jobs`` medians."""
    out = {}
    for name, ss in spans.items():
        out[f"{prefix}.{name}_s"] = _median([s.wall_s for s in ss])
        out[f"{prefix}.{name}.jobs"] = _median([s.jobs for s in ss])
    return out


def with_units(values: dict) -> dict:
    """All of :data:`LAYER_UNITS` as ``name -> (value, unit)``; names the
    workload did not produce read 0."""
    return {name: (float(values.get(name, 0.0)), unit)
            for name, unit in LAYER_UNITS.items()}
