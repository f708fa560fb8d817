#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Queries execute via the noop sink (full plan runs, nothing collected to the
driver) — the honest distributed-execution cost, not collect() serialization.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))


def _anchor_fns(spark):
    """Fixed-work calibration probes (VERDICT r10 item 2): identical
    generated work every pass, independent of SF_DIR and of any lane's
    code, so run-to-run machine drift (JIT state, GC pressure, CPU
    contention) becomes a MEASURED ratio instead of an inferred
    pattern. Three probes cover the three cost regimes lanes live in:
    a JVM-side shuffle+agg, a bare-action overhead floor, and an
    Arrow-batched Python-worker roundtrip."""
    from pyspark.sql import functions as F

    def shuffle_agg():
        # summand bounded (pmod) so 2M-row SUM can't hit ANSI overflow
        (spark.range(0, 2_000_000, 1, 32)
         .select(F.pmod(F.xxhash64("id"), F.lit(1000)).alias("k"),
                 F.pmod(F.xxhash64("id", F.lit(1)),
                        F.lit(1_000_003)).alias("v"))
         .groupBy("k")
         .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())

    def action_floor():
        spark.range(1).write.format("noop").mode("overwrite").save()

    def arrow_roundtrip():
        import pandas as pd  # noqa: F401 - pandas_udf needs it importable

        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _plus1(s):
            return s + 1

        (spark.range(0, 500_000, 1, 8)
         .select(F.sum(_plus1("id")).alias("s"))
         .write.format("noop").mode("overwrite").save())

    return {"shuffle_agg": shuffle_agg,
            "action_floor": action_floor,
            "arrow_roundtrip": arrow_roundtrip}


def _run_anchors(spark) -> "dict[str, float]":
    out = {}
    for name, fn in _anchor_fns(spark).items():
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            try:
                fn()
            except Exception as exc:  # noqa: BLE001 - observability only
                print(f"# anchor {name} failed: {exc}", file=sys.stderr)
                samples = []
                break
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = min(samples) if samples else None
    return out


def main() -> None:
    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("systems-spark-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # naive-UTC timestamp contract pinned session-wide (ADVICE r2: the
        # loader also save/restores around its NTZ cast, but bench should
        # not depend on the host timezone at all)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # bucketed scratch tables (state.py materialize_bucketed) land in
        # the warehouse dir — keep them off the repo tree
        .config("spark.sql.warehouse.dir", "/tmp/systems-spark-bench-warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # PySpark's per-call call-site capture (extra py4j round trips on
        # every Column/DataFrame call); read once per process
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # extra conf knobs for A/B experiments, e.g.
    # SPARK_GRAFT_CONF="spark.io.compression.codec=zstd;spark.x=y"
    # (limitation: values containing ';' are not supported — the split is
    # naive; fragments without '=' are warned about, not silently dropped)
    for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
        elif kv.strip():
            print(f"# SPARK_GRAFT_CONF fragment without '=' skipped: "
                  f"{kv!r}", file=sys.stderr)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM/JIT + parquet footer reads — environment setup, not query
    # cost; excluded from timings so q1 isn't charged the session tax.
    # events.parquet stores TIMESTAMP(NANOS): without nanosAsLong the warmup
    # read throws and the events table starts cold (r1 bench tail noise)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        try:
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
        except Exception as exc:  # noqa: BLE001 - warmup must stay best-effort
            print(f"# warmup {t} failed: {exc}", file=sys.stderr)

    # shared graph fixture (VERDICT r4 item 8): the five graph lanes all
    # derive the same co-occurrence edge list from lineitem baskets —
    # memoize it once (eager localCheckpoint) so their bench numbers
    # measure pagerank/triangles/kcore/communities/the co-count matrix
    # itself, not five repetitions of the basket self-join. The first lane to touch
    # the fixture pays its one-time materialization.
    entrymod.enable_cooccurrence_cache(True)

    # fixed-work calibration: once after warmup, once after the pass —
    # the start/end pair bounds how much the machine drifted DURING the
    # pass, and cross-pass anchor ratios normalize mover adjudication
    anchors_start = _run_anchors(spark)

    queries = entrymod.queries()
    timings = {}
    runs_raw = {}
    exchanges = {}
    total = 0.0
    # dev loop: SPARK_GRAFT_BENCH_ONLY="dedup_verified,ann_ivf" restricts
    # the pass to named queries (comma-separated; unknown names rejected)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    bench_set = [lane.name for lane in entrymod.LANES if lane.bench]
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        unknown = sorted(set(names) - set(queries))
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY unknown queries: {unknown}")
        bench_set = names
    # a third anchor sample at the pass MIDPOINT: start/end alone
    # cannot see a transient slow window landing mid-pass (the r11
    # closing-pass pattern — ten contiguous movers, normal start/end
    # anchors); three samples bracket where the drift happened
    anchors_mid = None
    mid_at = len(bench_set) // 2
    for lane_i, name in enumerate(bench_set):
        if lane_i == mid_at and len(bench_set) > 8:
            anchors_mid = _run_anchors(spark)
        fn = queries[name]
        # min over RUNS executions = steady-state query cost. Measured
        # run-to-run variance on local[32] is dominated by multi-second
        # stop-the-world GC pauses that land on ONE random query per pass
        # (r2: ann_lsh 49.7s then 3.4s; events_hourly 0.3s then 8.2s) —
        # environment noise, not plan cost. The raw per-run numbers are
        # kept in "runs" so the noise stays visible.
        samples = []
        failed = None
        for _ in range(RUNS):
            # drain accumulated garbage OUTSIDE the timed window: the
            # dominant run-to-run variance is a multi-second stop-the-world
            # landing inside one random query per pass (r2 regression
            # diagnosis, NOTES_r3.md) — this cannot remove JIT/codegen
            # first-run cost, but keeps prior queries' garbage from being
            # charged to this one
            try:
                spark._jvm.System.gc()
            except Exception:  # noqa: BLE001 - stabilizer only, never fatal
                pass
            t0 = time.perf_counter()
            try:
                df = fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                samples.append(round(time.perf_counter() - t0, 3))
                if name not in exchanges:
                    # static shuffle count of the returned plan — the
                    # plan-quality number the timings should correlate
                    # with. (Streaming queries return their materialized
                    # memory-sink table, so their row reads 0 — the
                    # stream's own exchanges happen inside fn.)
                    from systems_spark.plans import count_exchanges

                    try:
                        exchanges[name] = count_exchanges(df)
                    except Exception:  # noqa: BLE001 - observability only
                        exchanges[name] = None
            except Exception as exc:  # noqa: BLE001 - record, keep benching
                failed = exc
                print(f"# {name} FAILED after "
                      f"{round(time.perf_counter() - t0, 3)}s: {exc}",
                      file=sys.stderr)
                break
        runs_raw[name] = samples
        if failed is not None or not samples:
            timings[name] = None
            continue
        dt = min(samples)
        timings[name] = dt
        total += dt

    anchors_end = _run_anchors(spark)
    anchors = {"start": anchors_start, "end": anchors_end}
    if anchors_mid is not None:
        anchors["mid"] = anchors_mid

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    # Raw per-run samples go to a sidecar file: the driver captures only the
    # tail of stdout, and embedding the full runs arrays in the summary line
    # made it longer than that window in r2 (BENCH_r02 "parsed": null). The
    # final stdout line must be ONE compact JSON object and nothing after it.
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_runs.json")
    try:
        with open(sidecar, "w") as fh:
            json.dump({"sf": sf, "runs_per_query": RUNS, "runs": runs_raw,
                       "exchanges": exchanges, "anchors": anchors}, fh)
    except OSError as exc:
        print(f"# sidecar write failed: {exc}", file=sys.stderr)
    spark.stop()

    def _sig3(x):
        """3 significant digits (VERDICT r12 item 4): the one-line summary
        outgrew the driver's 2000-char stdout-tail window at r11 and nulled
        the round-over-round comparison. Per-lane ms precision beyond 3
        sig figs is below run-to-run noise anyway; full-precision samples
        stay in the sidecar."""
        if x is None or x == 0:
            return x
        from math import floor, log10
        return round(x, max(0, 2 - int(floor(log10(abs(x))))))

    # anchors live in the sidecar only (same VERDICT item): they are
    # builder-side calibration, not part of the driver contract, and they
    # cost ~350 chars of the driver's capture window
    print(json.dumps({
        "metric": "headline_queries_total_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: _sig3(v) for k, v in timings.items()},
        "sf": sf,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
