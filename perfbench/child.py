"""One benchmark run, inside the scratch environment ``run.py`` made.

Prints human-readable lines, then one JSON result as the last line.
Usage (normally through run.py):
    python3 perfbench/child.py --workload W --seed N --seconds S --trace 0|1
        --cache DIR --run-dir DIR
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

import numpy as np

import datagen
import stats
from runner import Tally, pass_order, timed_passes, warm_pass
from tracing import (
    Tracer, attribute, find_event_log, install, layers_by_op, parse_event_log,
)

#: end-to-end metrics (plain run), name -> unit
END_TO_END = {
    "ops_per_min": "1/min",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "geomean_s": "s",
    "setup_s": "s",
}

#: the operator modules the workloads call
OPERATOR_MODULES = ("etl", "joins", "windows")
SOURCE_MODULES = ("mtable", "delta_reader", "iceberg_reader")

#: per-layer metrics (traced run), name -> unit. Unless listed in
#: PER_RUN, a value is per timed pass (one execution of every op kind).
#: run.py adds scratch_mb_left after this process has ended.
PER_LAYER: dict[str, str] = {
    "session.boot_s": "s",
    "session.warm_s": "s",
    "session.peak_rss_mb": "MB",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.self_s": "s",
    "pipeline.call_s": "s",
    "pipeline.calls": "count",
    "pipeline.self_s": "s",
    "operators.call_s": "s",
    "operators.self_s": "s",
    **{f"operators.{m}.call_s": "s" for m in OPERATOR_MODULES},
    **{f"operators.{m}.jobs": "count" for m in OPERATOR_MODULES},
    "plans.self_s": "s",
    "plans.mv.call_s": "s",
    "plans.result_cache.call_s": "s",
    "sources.self_s": "s",
    **{f"sources.{m}.call_s": "s" for m in SOURCE_MODULES},
    **{f"sources.{m}.jobs": "count" for m in SOURCE_MODULES},
    "sources.commits": "count",
    "sources.write_mb": "MB",
    "sources.write_amp": "ratio",
    "sources.live_files": "count",
    "sources.metadata_files": "count",
    "sources.space_amp": "ratio",
    "ops.read_p50_s": "s",
    "ops.write_p50_s": "s",
    "streaming.call_s": "s",
    "streaming.self_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.exec.self_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.scan_files": "count",
    "spark.failed_tasks": "count",
    "spark.rdds_left_cached": "count",
    "spark.python.eval_s": "s",
    "spark.python.rows": "count",
    "spark.python.mb_sent": "MB",
    "trace.ops_per_min": "1/min",
}

#: per-layer values that are not summed over passes
PER_RUN = {
    "session.boot_s", "session.warm_s", "session.peak_rss_mb", "sources.write_amp",
    "sources.live_files", "sources.metadata_files", "sources.space_amp", "ops.read_p50_s",
    "ops.write_p50_s", "spark.core_util", "spark.rdds_left_cached",
    "trace.ops_per_min",
}


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the Spark JVM")


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def end_to_end(tally: Tally, setup_s: float) -> dict:
    """One client runs one op at a time, so throughput is completed ops
    over the time spent in them; the untimed checks between ops are
    left out."""
    lat = tally.all_latencies()
    tail, pct, beyond = stats.tail(lat)
    print(
        f"latency_tail_s is p{pct} of {len(lat)} samples, {beyond} beyond it",
        flush=True,
    )
    completed = len(lat)
    return {
        "ops_per_min": completed / sum(lat) * 60.0,
        "latency_p50_s": stats.median(lat),
        "latency_tail_s": tail,
        "geomean_s": stats.geomean_of_medians(tally.latencies),
        "setup_s": setup_s,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--run-dir", required=True)
    a = ap.parse_args()

    from dataflowex_spark.session import get_spark
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"unknown workload {a.workload}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    data_dir, gen_s = datagen.ensure_base(a.cache)
    print(f"data: {data_dir} (generated now in {gen_s:.2f} s; not in setup_s)",
          flush=True)

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's own temporary files in the run's scratch space
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}",
    }
    log_dir = os.path.join(a.run_dir, "eventlog")
    if a.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{a.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    boot_s = time.perf_counter() - t
    sc = spark.sparkContext

    tracer = Tracer(bool(a.trace))
    rng = np.random.default_rng(a.seed)
    closers = []
    lake = None
    t = time.perf_counter()
    if a.workload == "lakehouse_rw":
        from lakehouse import Lakehouse

        lake = Lakehouse(spark, data_dir, os.path.join(a.run_dir, "tables"), rng)
        lake.setup()
        ops = lake.ops()
        closers.append(lake.close)
    else:
        ops, oracle = workloads.registry_ops(
            a.workload, spark, data_dir,
            os.path.join(a.cache, f"oracle-{os.path.basename(data_dir)}.json"), tracer,
        )
        closers.append(oracle.close)
    create_s = time.perf_counter() - t

    def group(tag: str) -> None:
        sc.setJobGroup(tag, tag)

    checks = Tally()
    t = time.perf_counter()
    for n in range(workloads.WARM_PASSES[a.workload]):
        warm_pass(ops, pass_order(ops, rng), checks, group, first=n == 0)
    warm_s = time.perf_counter() - t
    if lake is not None:
        lake.reset_counters()
    setup_s = boot_s + create_s + warm_s
    # installed after the warm-up passes, whose kinds may run side by side
    if a.trace:
        print(f"tracing: wrapped {install(tracer)} public functions", flush=True)
    print(
        f"setup: boot {boot_s:.2f} s, tables {create_s:.2f} s, "
        f"warm-up passes {warm_s:.2f} s",
        flush=True,
    )

    tally = Tally()
    w0 = time.time()
    passes, wall = timed_passes(
        ops, rng, a.seconds, workloads.MIN_PASSES[a.workload], tally,
        tracer.span, group,
    )
    w1 = time.time()
    rss_mb = jvm_peak_rss_mb(sc._gateway.proc.pid)
    print(f"Spark JVM peak RSS: {rss_mb:.1f} MB", flush=True)
    rdds = sc._jsc.getPersistentRDDs().size()
    lake_m = lake.layer_metrics(live_files=bool(a.trace)) if lake else {}
    for c in closers:
        c()
    stop_spark(spark)

    attempted = checks.attempted + tally.attempted
    failed = checks.failed + tally.failed
    print(
        f"ops: {tally.attempted} timed in {passes} passes over {wall:.2f} s; "
        f"attempted {attempted}, failed {failed}, "
        f"failed_frac {stats.failed_frac(attempted, failed):.4f}",
        flush=True,
    )
    for kind, why in checks.failures + tally.failures:
        print(f"  failed op {kind}: {why}", flush=True)
    reached = layers_by_op(tracer.spans)
    for kind in sorted(tally.latencies):
        xs = tally.latencies[kind]
        print(f"  {kind:28s} median={stats.median(xs):.3f} s of "
              f"[{' '.join(f'{x:.3f}' for x in xs)}] "
              f"{' '.join(sorted(reached.get(kind, ())))}", flush=True)

    if not tally.all_latencies():
        print("no op completed in the timed passes", file=sys.stderr)
        return 1
    e2e = end_to_end(tally, setup_s)
    plain_path = os.path.join(a.cache, f"plain-{a.workload}.json")
    if not a.trace:
        with open(plain_path, "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    else:
        layers = attribute(tracer.spans, parse_event_log(find_event_log(log_dir)), w0, w1)
        layers.update(lake_m)
        reads, writes = tally.all_latencies("read"), tally.all_latencies("write")
        layers["ops.read_p50_s"] = stats.median(reads) if reads else 0.0
        layers["ops.write_p50_s"] = stats.median(writes) if writes else 0.0
        layers["session.boot_s"] = boot_s
        layers["session.peak_rss_mb"] = rss_mb
        layers["session.warm_s"] = warm_s
        layers["spark.rdds_left_cached"] = float(rdds)
        layers["queries.build_s"] = layers.get("queries.call_s", 0.0)
        layers["queries.build_jobs"] = layers.get("queries.jobs", 0.0)
        layers["trace.ops_per_min"] = e2e["ops_per_min"]
        metrics = {}
        for k, unit in PER_LAYER.items():
            v = float(layers.get(k, 0.0))
            if k not in PER_RUN:
                v /= passes
            metrics[k] = {"value": v, "unit": unit}
        _print_overhead(plain_path, e2e)
    for k, m in metrics.items():
        print(f"{k:32s} {m['value']:14.6g} {m['unit']}", flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _print_overhead(plain_path: str, traced: dict) -> None:
    """Tracing overhead: this traced run's end-to-end numbers against
    the last plain run of the same workload in this checkout."""
    try:
        with open(plain_path) as f:
            plain = json.load(f)
    except (OSError, ValueError):
        print("tracing overhead: no plain run of this workload yet", flush=True)
        return
    for k in ("ops_per_min", "latency_p50_s", "geomean_s", "setup_s"):
        if k in plain and k in traced:
            d = traced[k] - plain[k]
            print(
                f"tracing overhead {k}: traced {traced[k]:.4g} - plain "
                f"{plain[k]:.4g} = {d:+.4g} ({d / plain[k]:+.1%})",
                flush=True,
            )


if __name__ == "__main__":
    sys.exit(main())
