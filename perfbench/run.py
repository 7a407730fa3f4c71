"""Benchmark of the engine's CSV->Parquet pipeline and incremental dedup.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload csv_to_parquet --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from ``--seed`` (cached under
``.perfbench/inputs``), starts one Spark session on ``local[<nproc>]``
with a fixed driver heap, warms up at the workload's own shape, then runs
operations back to back until ``--seconds`` of operation time have
passed, checking each one. Human-readable lines start with ``#``; the
last line of standard output is the JSON result. ``--trace 1`` reports
the per-layer metrics instead of the end-to-end ones. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: fixed driver heap, read by ``session.get_spark``
DRIVER_MEMORY = "2g"

WRITER = "sinks.parquet_write"


def _arguments() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the work
    directory, and let Python workers import the engine."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # few malloc arenas: native memory of the many JVM threads otherwise
    # fragments across per-thread arenas and RSS wanders run to run
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _bytes_since(roots: list[str], t0: float) -> int:
    """Data-file bytes under ``roots`` written at or after ``t0``."""
    total = 0
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                path = os.path.join(d, f)
                if not f.startswith((".", "_")) and os.path.getmtime(path) >= t0:
                    total += os.path.getsize(path)
    return total


def main() -> int:
    args = _arguments()
    sys.path[:0] = [ROOT, HERE]
    _environment()
    # fail fast, before any input is generated, if the engine is absent
    from ais_data_pipeline_spark.session import get_spark

    import procstat
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    workloads.clear_run_dir(WORK)
    started = procstat.process_start_epoch()
    load_start = os.getloadavg()

    # inputs are plain files: generate them while the JVM starts
    gen_error: list[Exception] = []

    def make_inputs() -> None:
        try:
            wl.inputs(WORK, args.seed)
        except Exception as e:  # re-raised on the main thread
            gen_error.append(e)

    gen_thread = threading.Thread(target=make_inputs)
    gen_thread.start()
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name=f"perfbench-{wl.name}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
            "spark.hadoop.hadoop.tmp.dir": os.environ["TMPDIR"],
        },
    )
    gateway = spark.sparkContext._gateway
    print(f"# session up after {time.time() - started:.2f} s")
    try:
        gen_thread.join()
        if gen_error:
            raise gen_error[0]
        return _measure(spark, wl, args, cores, started, load_start)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        workloads.clear_run_dir(WORK)


def _measure(spark, wl, args, cores, started, load_start) -> int:
    import procstat
    import spans

    failures: list[str] = []

    def check(result) -> list[str]:
        try:
            return wl.check(result)
        except Exception as e:  # output missing or unreadable
            return [f"check raised {type(e).__name__}: {e}"]

    print(f"# inputs ready after {time.time() - started:.2f} s")
    wl.start(spark, cores)
    print(f"# engine set up after {time.time() - started:.2f} s")
    for _ in range(wl.warmup):
        t0 = time.time()
        result = wl.op()
        print(f"# warm-up operation {time.time() - t0:.3f} s")
        problems = check(result)
        if problems:
            raise RuntimeError(f"warm-up output wrong: {problems}")
    setup_s = time.time() - started

    tracer = None
    if args.trace:
        tracer = spans.Tracer(spark, {**wl.spans, WRITER: "pyspark.sql.readwriter:DataFrameWriter.parquet"})
    gc_beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def gc_seconds() -> float:
        return sum(gc_beans.get(i).getCollectionTime() for i in range(gc_beans.size())) / 1e3

    times, traced_ops, cpu, in_b, out_b, gc = [], [], [], [], [], []
    attempted = failed = 0
    spent = 0.0  # operation time, failed operations included
    with procstat.RssPeak() as rss:
        while spent < args.seconds and wl.has_next():
            # a traced run alternates traced and untraced operations
            traced = tracer is not None and attempted % 2 == 0
            attempted += 1
            b_in = wl.in_bytes()
            if traced:
                tracer.install()
                g0 = gc_seconds()
            c0 = procstat.cpu_seconds()
            rss.armed = True
            t0 = time.time()
            try:
                result = tracer.operation(len(tracer.ops), wl.op) if traced else wl.op()
            except Exception as e:  # an operation that raises counts as failed
                failed += 1
                failures.append(f"op {attempted - 1} raised {type(e).__name__}: {e}")
                continue
            finally:
                t1 = time.time()
                rss.armed = False
                spent += t1 - t0
                if traced:
                    tracer.uninstall()
            cpu.append(procstat.cpu_seconds() - c0)
            times.append(t1 - t0)
            traced_ops.append(traced)
            if traced:
                gc.append(gc_seconds() - g0)
            in_b.append(b_in)
            out_b.append(_bytes_since(wl.out_roots, t0))
            problems = check(result)
            if problems:
                failed += 1
                failures.append(f"op {attempted - 1}: {problems}")
        peak_rss = rss.peak
    load_end = os.getloadavg()

    lat = [t for t, tr in zip(times, traced_ops) if not tr]
    lat_traced = [t for t, tr in zip(times, traced_ops) if tr]
    metrics: dict[str, tuple[float, str]] = {}
    if times:
        # medians over operations, like op_p50_s, so one slow operation
        # moves no metric
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(lat or lat_traced), "s"),
            "mib_per_s": (statistics.median(b / 2**20 / t for b, t in zip(in_b, times)), "MiB/s"),
            "cpu_s": (statistics.median(cpu), "s"),
            "peak_rss_mib": (peak_rss / 2**20, "MiB"),
            "bytes_out_per_in": (sum(out_b) / sum(in_b), "ratio"),
        }
    print(f"# workload {wl.name} seed {args.seed}: {attempted} operations, "
          f"{failed} failed (error_rate {failed / max(attempted, 1):.4f})")
    print(f"# loadavg at start {load_start[0]:.2f} {load_start[1]:.2f} {load_start[2]:.2f}, "
          f"at end {load_end[0]:.2f} {load_end[1]:.2f} {load_end[2]:.2f}")
    print(f"# operation latencies (s), {len(times)} samples: "
          + " ".join(f"{x:.3f}" for x in times))
    for f in failures:
        print(f"# FAILED {f}")

    if tracer is not None:
        rep = tracer.report()
        metrics = _layer_metrics(rep, wl, lat, lat_traced, gc)
        _write_trace(rep, wl, args, load_start, load_end)
    for name, (value, unit) in metrics.items():
        print(f"# {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _layer_metrics(rep, wl, lat, lat_traced, gc) -> dict[str, tuple[float, str]]:
    import spans
    import workloads

    units = {"jobs": "count", "shuffle_mib": "MiB"}
    out: dict[str, tuple[float, str]] = {}
    names = [n for w in workloads.WORKLOADS.values() for n in w.spans] + [WRITER]
    for name in dict.fromkeys(names):
        fields = rep["spans"].get(name, {})
        for f in spans.FIELDS:
            out[f"{name}.{f}"] = (fields.get(f, 0.0), units.get(f, "s"))
    counts = {"index_files": 0, "index_mib": 0.0, **wl.layer_counts()}
    out.update({
        "jvm.gc_s": (statistics.median(gc) if gc else 0.0, "s"),
        "jobs_total": (rep["jobs_total"], "count"),
        "unattributed_jobs": (rep["unattributed_jobs"], "count"),
        "tracing_overhead_s": (
            statistics.median(lat_traced) - statistics.median(lat) if lat and lat_traced else 0.0,
            "s",
        ),
        "index_files": (counts["index_files"], "count"),
        "index_mib": (counts["index_mib"], "MiB"),
    })
    for r in rep["records"]:
        if r["parent"] is None:
            print(f"# root {r['name']} op {r['op']}: wall {r['wall_s']:.3f} s = self "
                  f"{r['self_s']:.3f} + children {r['wall_s'] - r['self_s']:.3f} "
                  f"(children summed {r['children_sum_s']:.3f})")
    print(f"# jobs outside every span: {rep['jobs_outside_spans']}")
    return out


def _write_trace(rep, wl, args, load_start, load_end) -> None:
    path = os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({
            "workload": wl.name, "seed": args.seed,
            "loadavg_start": load_start, "loadavg_end": load_end,
            "spans": rep["records"], "jobs": rep["jobs"],
        }, f)
    print(f"# trace written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
