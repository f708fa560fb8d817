"""The benchmark's workloads. Each one generates its inputs from a seed in
its constructor (outside every timed window) and then offers:

- ``metric_ops``: how many timed ops, the first of the window, the gated
  latency and throughput summarize: as many as a slow host phase still
  fits into the window;
- ``setup(spark, state_dir)``: build the program's state (reads, pins,
  table ``initialize``); returns the op indices to run as warm-up;
- ``op(i, tracer)``: one closed-loop op, returning its outputs; with a
  tracer, every call into a layer runs inside a span;
- ``check(i, outputs)``: True when the outputs are correct;
- ``reference_check()``: one fixed op checked against an independent
  reference (True when the workload has none beyond ``check``);
- ``summary()``: workload-specific figures for the stderr summary;
- ``trace_after(i, tracer)``: readings taken after a traced op, outside
  its latency;
- ``trace_begin(tracer)`` / ``trace_end(tracer)``: per-layer readings of a
  traced run, as ``name -> (value, unit)``.

``workloads.base.Workload`` holds the defaults of ``reference_check``
and ``summary``.
"""

from workloads.dedup_corpus import DedupCorpus
from workloads.feature_upsert import FeatureUpsert
from workloads.recs_serve import RecsServe

REGISTRY = {w.name: w for w in (RecsServe, DedupCorpus, FeatureUpsert)}
