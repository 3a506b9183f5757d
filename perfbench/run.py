"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload crawl_delta --seed 1 --seconds 1 \\
        --trace 0

Run from the root of a checkout. The run starts a ``local[nproc]``
Spark session from this process, prepares the workload's inputs from
the seed, runs its warm-up operations, then runs the workload's
operation in a closed loop (each one starts after the previous one
finished and was checked) until ``--seconds`` of operation time have
passed and at least two operations (three when traced) were timed.
Every output is
checked; a raised exception or a check mismatch counts as a failed
operation and nothing is retried.

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json.
``--trace 1`` prints its per-layer metrics instead: the last of three
timed operations runs with Spark job groups set so their stages can be
attributed to spans, and after the loop each layer is called once more
on its own under a span. Per-layer metrics of layers a workload does not
run read 0; NOTES.md lists which workload owns which metric.

All files go to ``.perfbench_work/`` in the checkout and are removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# The first ``warmup_ops`` ops of a workload warm the JVM's code caches:
# they are checked and counted, and their time is part of setup_s, not
# job_s. At least MIN_TIMED ops are timed after them: two keep a run
# within the budget of 4 + 22 x 2 runs in 3420 s on a slow day of a
# shared 4-core machine. A traced run times one more and traces the
# last: the JVM has warmed up most by then, and in crawl_delta it is a
# slice whose absorption compacts the raw store (compaction fires on
# every other slice).
MIN_TIMED = 2
TRACED_PATTERN = (False, False, True)

# span groups whose Spark stage metrics are reported per layer
ENGINE_SPANS = {
    "cli.prepifg": ("cli.prepifg",),
    "cli.correct": ("cli.correct",),
    "cli.timeseries": ("cli.timeseries",),
    "cli.stack": ("cli.stack",),
    "cli.stream": ("cli.stream",),
    "extract": ("extract",),
    "rollup": ("rollup.hour", "rollup.day", "rollup.week"),
    "tiersink.encode": ("tiersink.encode",),
    "pairs.network": ("pairs.network",),
    "corrections.series": ("corrections.series",),
    "corrections.closure": ("corrections.closure",),
    "quicklook": ("quicklook",),
    "backfill": ("backfill",),
    "retention.compact": ("retention.compact",),
}
ENGINE_METRICS = ("executor_run_s", "executor_cpu_s", "fetch_wait_s",
                  "gc_s", "failed_tasks")
# span durations reported per layer: metric -> span names summed per op
SPAN_TIMES = {
    "cli.prepifg_s": ("cli.prepifg",),
    "cli.correct_s": ("cli.correct",),
    "cli.timeseries_s": ("cli.timeseries",),
    "cli.stack_s": ("cli.stack",),
    "cli.stream_s": ("cli.stream",),
    "extract.s": ("extract",),
    "rollup.hour_s": ("rollup.hour",),
    "rollup.day_s": ("rollup.day",),
    "rollup.week_s": ("rollup.week",),
    "tiersink.encode_s": ("tiersink.encode",),
    "tiersink.decode_s": ("tiersink.decode",),
    "pairs.network_s": ("pairs.network",),
    "corrections.series_s": ("corrections.series",),
    "corrections.closure_s": ("corrections.closure",),
    "grouped.detect_s": ("grouped.detect",),
    "quicklook.s": ("quicklook",),
    "backfill.s": ("backfill",),
    "retention.compact_s": ("retention.compact",),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def declared_metrics() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        bench = json.load(fh)
    return {"end_to_end": {m["name"]: m["unit"] for m in bench["end_to_end"]},
            "per_layer": {m["name"]: m["unit"] for m in bench["per_layer"]}}


def prepare_env(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and make the
    Spark Python workers import this checkout's ``pyrate_spark``
    whatever the current directory is."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYRATE_SPARK_WAREHOUSE"] = str(work / "warehouse")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={work / 'tmp'}")
    os.environ.setdefault("PYRATE_SPARK_DRIVER_MEM", "3g")
    # one BLAS thread in the driver too, as in the workers, so the
    # driver-side reference kernels compute in the same order
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    import tempfile
    tempfile.tempdir = str(work / "tmp")


def start_session(name: str):
    from pyrate_spark.session import get_session
    cpus = len(os.sched_getaffinity(0))
    return get_session(
        f"perfbench-{name}", parallelism=cpus,
        extra={"spark.ui.showConsoleProgress": "false",
               "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
               "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
               "spark.ui.retainedJobs": "100000",
               "spark.ui.retainedStages": "100000",
               "spark.sql.ui.retainedExecutions": "100000"})


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until it has exited
    (its Python daemon and workers exit with it)."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin from this process closes
        proc.stdin.close()
        proc.wait(timeout=60)


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: str = "full", corrupt_op: int | None = None) -> dict:
    """Run one workload; returns the result object run.py prints.
    ``corrupt_op`` damages that operation's output before its check
    (the smoke test's proof that a wrong output is counted as failed).
    """
    from perfbench.trace import Tracer, python_worker_hwm_mb, tree_cpu_s
    from perfbench.workloads import MAX_OPS, SCALES, WORKLOADS
    decl = declared_metrics()
    work = ROOT / ".perfbench_work" / f"{workload}-s{seed}-{os.getpid()}"
    prepare_env(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(workload)
        start_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=trace)
        from pyrate_spark.operators.grouped import warm_python_workers
        t0 = time.perf_counter()
        warm_python_workers(spark)
        warmup_s = time.perf_counter() - t0
        wl = WORKLOADS[workload](spark, tracer, seed, SCALES[scale])
        tracer.tag = "setup"
        t0 = time.perf_counter()
        wl.prepare(str(work / "data"))
        prep_s = time.perf_counter() - t0
        setup_s = start_s + warmup_s + prep_s
        log(f"setup: session {start_s:.2f} s, warm-up {warmup_s:.2f} s, "
            f"prepare {prep_s:.2f} s")

        attempted = failed = checked = 0
        mismatch = False
        job, fresh, rate, cpu, store = [], [], [], [], []
        traced_job, plain_job = [], []
        measured, i, peak_rss = 0.0, 0, 0.0
        min_timed = len(TRACED_PATTERN) if trace else MIN_TIMED
        while i < MAX_OPS and (measured < seconds or len(job) < min_timed):
            warm = i < wl.warmup_ops
            tracer.enabled = trace and not warm and TRACED_PATTERN[
                (i - wl.warmup_ops) % len(TRACED_PATTERN)]
            tracer.tag = f"op{i}"
            attempted += 1
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                wl.op(i)
                t1 = time.perf_counter()
                cpu1 = tree_cpu_s()
                wl.publish(i)
                t2 = time.perf_counter()
            except Exception:
                failed += 1
                if not warm:
                    measured += time.perf_counter() - t0
                log(f"op {i} raised:\n{traceback.format_exc()}")
                i += 1
                continue
            if warm:
                setup_s += t2 - t0
            else:
                measured += t2 - t0
                job.append(t1 - t0)
                (traced_job if tracer.enabled else plain_job).append(t1 - t0)
                fresh.append(t2 - t0)
                cpu.append(cpu1 - cpu0)
                rate.append(wl.input_rows(i) / (
                    t2 - t0 if wl.rate_over_freshness else t1 - t0))
                store.append(wl.store_bytes_per_row(i))
            t3 = time.perf_counter()
            for name, kind, msg in wl.side_ops(i):
                attempted += 1
                if kind != "ok":
                    failed += 1
                    mismatch |= kind == "mismatch"
                    log(f"op {i} {name} {kind}: {msg}")
            if not warm:
                measured += time.perf_counter() - t3
            tracer.enabled = trace
            if corrupt_op == i:
                wl.corrupt(i)
            t4 = time.perf_counter()
            errors = wl.check(i)
            t5 = time.perf_counter()
            checked += 1
            if errors:
                failed += 1
                mismatch = True
                log(f"op {i} check failed: {errors}")
            # pyspark kills workers idle for a minute: sample as we go
            peak_rss = max(peak_rss, python_worker_hwm_mb())
            log(f"op {i}: job {t1 - t0:.3f} s, fresh {t2 - t0:.3f} s, "
                f"cpu {cpu1 - cpu0:.2f} s, side ops {t4 - t3:.2f} s, "
                f"check {t5 - t4:.2f} s")
            i += 1

        if not trace:
            values = {
                "setup_s": setup_s,
                "job_s": _median(job),
                "freshness_s": _median(fresh),
                "rows_per_s": _median(rate),
                "cpu_s": _median(cpu),
                "worker_peak_rss_mb": max(peak_rss,
                                          python_worker_hwm_mb()),
                "store_bytes_per_row": _median(store),
            }
            units = decl["end_to_end"]
        else:
            tracer.tag = "layers"
            tracer.enabled = True
            values = {"session.start_s": start_s,
                      "session.worker_warmup_s": warmup_s,
                      "trace.overhead_s":
                          _median(traced_job) - _median(plain_job)}
            probe_values, checks = wl.layers(tracer.span)
            values.update(probe_values)
            for errors in checks:
                attempted += 1
                if errors:
                    failed += 1
                    mismatch = True
                    log(f"layer check failed: {errors}")
            values["failed_frac"] = failed / attempted
            values.update(layer_values(tracer))
            units = decl["per_layer"]
            log(f"layers not run by {workload}: "
                f"{sorted(set(units) - set(values))}")
            values = {k: values.get(k, 0) for k in units}
        return {"correct": checked > 0 and not mismatch,
                "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": values[k], "unit": units[k]}
                            for k in units}}
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                work.parent.rmdir()
            except OSError:
                pass        # another run's directory is still there


def layer_values(tracer) -> dict:
    """Per-layer metrics from the recorded spans, their Spark stages and
    the SQL status store."""
    def by_tag(names):
        """span name(s) -> {tag: [span ids]} over ops and layer probes"""
        out: dict = {}
        for s in tracer.spans:
            if s["name"] in names and not s["tag"].startswith("setup"):
                out.setdefault(s["tag"], []).append(s)
        return out

    values = {}
    for metric, names in SPAN_TIMES.items():
        groups = by_tag(names)
        if groups:
            values[metric] = _median(
                sum(s["end"] - s["start"] for s in spans)
                for spans in groups.values())
    stages = tracer.stage_metrics()
    for prefix, names in ENGINE_SPANS.items():
        groups = by_tag(names)
        if not groups:
            continue
        metrics = ENGINE_METRICS
        if prefix == "rollup":
            metrics += ("shuffle_write_bytes", "spill_bytes")
        for m in metrics:
            values[f"{prefix}.{m}"] = _median(
                sum(stages.get(s["id"], {}).get(m, 0) for s in spans)
                for spans in groups.values())
    keyed = by_tag(("cli.timeseries", "cli.stack"))
    if keyed:
        py = tracer.python_bytes()
        for key in ("sent", "received"):
            values[f"grouped.python_bytes_{key}"] = _median(
                sum(py.get(s["id"], {}).get(key, 0.0) for s in spans)
                for spans in keyed.values())
        values["grouped.task_skew"] = _median(
            tracer.task_skew(stages.get(s["id"], {}).get("stages", []))
            for spans in keyed.values() for s in spans
            if s["name"] == "cli.timeseries")
    return values


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["crawl_delta", "url_inversion"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "toy"), default="full",
                   help="toy: tiny inputs for the smoke test")
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(ROOT))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 args.scale)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
