"""Closed-loop benchmark of the systems_spark engine.

    python3 perfbench/run.py --workload recs_serve --seed 1 --seconds 12 --trace 0

One client drives one workload against one local Spark session for
``--seconds`` seconds, checks every output, and prints one JSON line as the
last line of stdout: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs the same loop with every second op traced and reports the
per-layer metrics. A summary line (sizes, settings, ops per phase, host
anchor and steal, every op latency, raw and scaled) goes to stderr. See
``perfbench/NOTES.md``.

The gated timings are scaled to a reference host speed measured while the
program runs (``speed.py``), and ``op_p50_s`` / ``units_per_s`` summarize
the first ``metric_ops`` timed ops of every run, so that every run reads
the same point of the JIT warm-up trend whatever the host speed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import procs
import speed

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Engine settings, pinned so that every run of every workload sees the same
# engine: k local cores, shuffle partitions and a driver heap that fits a
# small shared host.
CORES = 2
SHUFFLE_PARTITIONS = 4
DRIVER_HEAP = "1g"
# A fixed heap (-Xms = -Xmx) keeps peak RSS from depending on when G1 grows
# the heap.
JVM_OPTIONS = f"-Xms{DRIVER_HEAP}"

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "units_per_s": "1/s",
             "peak_rss_mb": "MB"}


def host_anchor_s() -> float:
    """Fixed pure-Python work; no change to the program should move it."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc = (acc * 31 + i) % 1_000_003
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def percentile(values, q: float) -> float:
    vals = sorted(values)
    return vals[min(len(vals) - 1, int(q * len(vals)))]


def isolate(run_dir: str) -> dict:
    """Point every scratch location of Python, the JVM and Spark at
    ``run_dir`` (must run before pyspark starts a JVM)."""
    dirs = {k: os.path.join(run_dir, k)
            for k in ("tmp", "local", "warehouse", "data", "state")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # also reaches the short-lived launcher JVM; no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}")
    return dirs


def start_spark(name: str, dirs: dict):
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{CORES}]")
             .appName(f"perfbench-{name}")
             .config("spark.driver.memory", DRIVER_HEAP)
             .config("spark.driver.extraJavaOptions", JVM_OPTIONS)
             .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", dirs["local"])
             .config("spark.sql.warehouse.dir", dirs["warehouse"])
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def declared_metrics() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {0: [m["name"] for m in spec["end_to_end"]],
            1: [m["name"] for m in spec["per_layer"]]}


class Phases:
    """Ops attempted / failed per phase (setup warm-ups, reference, timed)."""

    def __init__(self):
        self.counts = {}

    def record(self, phase: str, ok: bool) -> None:
        att, bad = self.counts.get(phase, (0, 0))
        self.counts[phase] = (att + 1, bad + (not ok))

    @property
    def attempted(self) -> int:
        return sum(a for a, _ in self.counts.values())

    @property
    def failed(self) -> int:
        return sum(b for _, b in self.counts.values())


def run_op(wl, i: int, phases: Phases, phase: str, tracer=None):
    """One op, timed; returns (latency_s, units, start) or None when it
    failed."""
    t = time.perf_counter()
    try:
        out = wl.op(i, tracer)
        lat = time.perf_counter() - t
        ok = wl.check(i, out)
    except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
        traceback.print_exc()
        ok = False
    phases.record(phase, ok)
    if not ok:
        print(f"perfbench: {wl.name} op {i} ({phase}) failed its check",
              file=sys.stderr)
        return None
    return lat, wl.units_per_op(i), t


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its session and meter and removes its
    # scratch directory, through the ``finally`` blocks below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "systems_spark", "__init__.py")):
        print(f"perfbench: no systems_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.REGISTRY:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.REGISTRY)}", file=sys.stderr)
        return 2
    names = declared_metrics()[args.trace]

    base = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        result = run(args, run_dir, workloads.REGISTRY[args.workload])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 3
    result["metrics"] = {n: result["metrics"][n] for n in names}
    print(json.dumps(result))
    return 0


def run(args, run_dir: str, workload_cls) -> dict:
    dirs = isolate(run_dir)
    anchor0 = host_anchor_s()
    wl = workload_cls(args.seed, dirs["data"])  # inputs: outside all timing
    phases = Phases()
    meter = speed.SpeedMeter(os.path.join(run_dir, "speed.txt")).start()
    try:
        t0 = time.perf_counter()
        spark = start_spark(args.workload, dirs)
        t1 = time.perf_counter()
        try:
            warmup = wl.setup(spark, dirs["state"])
            t2 = time.perf_counter()
            for j in warmup:  # part of set-up, and checked like any op
                run_op(wl, j, phases, "setup")
            t3 = time.perf_counter()
            try:
                ref_ok = wl.reference_check()
            except Exception:  # noqa: BLE001 - counted as a failed check
                traceback.print_exc()
                ref_ok = False
            phases.record("reference", ref_ok)
            layer = loop(args, wl, spark, phases)
            peak_rss_mb = procs.peak_rss_mb(os.getpid(), meter.proc.pid)
        finally:
            stop_spark(spark)
    finally:
        meter.stop()
    anchor = (anchor0 + host_anchor_s()) / 2
    session_s, build_s, warmup_s = t1 - t0, t2 - t1, t3 - t2
    # set-up at reference host speed, each part scaled by its own samples
    setup_ref_s = sum((b - a) * meter.scale(a, b)
                      for a, b in ((t0, t1), (t1, t2), (t2, t3)))

    lat, units = layer.pop("_lat"), layer.pop("_units")
    starts = layer.pop("_starts")
    lat_ref = [x * meter.scale(s, s + x) for x, s in zip(lat, starts)]
    k = wl.metric_ops
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "sizes": wl.sizes,
        "engine": {"master": f"local[{CORES}]",
                   "shuffle_partitions": SHUFFLE_PARTITIONS,
                   "driver_heap": DRIVER_HEAP,
                   "warmup_ops": len(warmup)},
        "phases": {p: {"attempted": a, "failed": f}
                   for p, (a, f) in phases.counts.items()},
        "failed_frac": phases.failed / max(1, phases.attempted),
        "host.anchor_s": anchor,
        "session_s": session_s, "state_build_s": build_s,
        "warmup_s": warmup_s,
        "setup_raw_s": session_s + build_s + warmup_s,
        "host.loop_ms": 1e3 * statistics.median(meter.loops),
        "host.steal_share": meter.steal_share(t0, time.perf_counter()),
        "ops_timed": len(lat),
        "metric_ops": min(k, len(lat)),
        "op_p50_raw_s": statistics.median(lat[:k]) if lat else None,
        "op_latencies_s": [round(x, 4) for x in lat],
        "op_latencies_ref_s": [round(x, 4) for x in lat_ref],
        **wl.summary(),
    }
    if len(lat) >= 100:
        summary["op_p90_s"] = percentile(lat, 0.9)
    print("perfbench summary " + json.dumps(summary), file=sys.stderr)

    if not lat:
        raise RuntimeError("no op completed in the timed window")
    metrics = {
        "setup_s": setup_ref_s,
        "op_p50_s": statistics.median(lat_ref[:k]),
        "units_per_s": sum(units[:k]) / sum(lat_ref[:k]),
        "peak_rss_mb": peak_rss_mb,
    }
    out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    layer["host.anchor_s"] = (anchor, "s")
    out.update({k: {"value": v, "unit": u} for k, (v, u) in layer.items()})
    return {"correct": phases.failed == 0, "attempted": phases.attempted,
            "failed": phases.failed, "metrics": out}


def loop(args, wl, spark, phases: Phases) -> dict:
    """The timed closed loop. With tracing, odd ops run inside spans and
    every workload-specific reading is collected; even ops stay untraced,
    and each traced op is compared with its untraced neighbours to give the
    tracing overhead."""
    tracer = None
    if args.trace:
        from pyspark import SparkContext

        import layers
        tracer = layers.Tracer(spark, SparkContext._gateway.proc.pid)
        wl.trace_begin(tracer)
    lat, units, starts, by_op = [], [], [], []
    deadline = time.perf_counter() + args.seconds
    i = 0
    # a traced run needs at least one traced and one untraced op
    while time.perf_counter() < deadline or (tracer is not None and i < 2):
        on = tracer is not None and i % 2 == 1
        res = run_op(wl, i, phases, "timed", tracer if on else None)
        by_op.append(res and res[0])
        if res is not None:
            lat.append(res[0])
            units.append(res[1])
            starts.append(res[2])
        if on:  # outside the op's latency
            tracer.flush()
            wl.trace_after(i, tracer)
            tracer.flush()
        i += 1
    layer = {"_lat": lat, "_units": units, "_starts": starts}
    if tracer is not None:
        layer.update(wl.trace_end(tracer))
        layer["trace.overhead_frac"] = (overhead_frac(by_op), "ratio")
    return layer


def overhead_frac(by_op) -> float:
    """Median of (traced op ÷ mean of the untraced ops on either side) − 1.
    Comparing neighbours cancels the warm-up trend that a comparison of the
    two medians would fold into the overhead."""
    ratios = []
    for i in range(1, len(by_op), 2):
        near = [x for x in by_op[i - 1:i + 2:2] if x]
        if by_op[i] and near:
            ratios.append(by_op[i] / (sum(near) / len(near)))
    return statistics.median(ratios) - 1.0 if ratios else 0.0


if __name__ == "__main__":
    sys.exit(main())
