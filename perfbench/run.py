"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload incident_app --seed 1 --seconds 15 --trace 0

Set-up (session start, program-side preload, a fixed number of warm-up
ops per workload) is timed as ``setup_s``; then ops run back to back from
this one thread for ``--seconds``.  Every op's output is checked against
the seeded generator's truth outside the timed region.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs pairs of one untraced
and one traced op and reports the per-layer metrics plus the tracing
overhead.  Scratch files live under ``perfbench/.work`` and are removed
at exit; a traced run leaves its spans in ``perfbench/.out``.

The last stdout line is the result object; the line before it holds the
host-weather and per-op diagnostics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402

CPUS = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
WORK_ROOT = os.path.join(HERE, ".work")
OUT_DIR = os.path.join(HERE, ".out")

# (name, unit, better, bound) — mirrored in BENCHMARK.json
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("op_tail_ms", "ms", "lower", 0.25),
    ("rows_per_s", "1/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("ok_op_share", "share", "higher", 0.05),
]
# (name, unit) — every workload reports all of them; a layer the
# workload never calls reports 0.
PER_LAYER = [
    ("session.start_ms", "ms"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.failed_tasks", "count"),
    ("trace.overhead_ms", "ms"),
    ("sources.xml_feed.scan_ms", "ms"),
    ("sources.xml_feed.tasks", "count"),
    ("pipelines.ingest.normalize_ms", "ms"),
    ("pipelines.ingest.rows_kept_ratio", "ratio"),
    ("pipelines.sink.merge_ms", "ms"),
    ("pipelines.sink.partitions_rewritten", "count"),
    ("pipelines.sink.bytes_written_per_row", "B/row"),
    ("pipelines.sink.files_per_partition", "count"),
    ("pipelines.etl_job.report_ms", "ms"),
    ("pipelines.incidents.build_ms", "ms"),
    ("pipelines.dashboard.base_cache_ms", "ms"),
    ("pipelines.dashboard.widget_ms.kpis", "ms"),
    ("pipelines.dashboard.widget_ms.county_bar", "ms"),
    ("pipelines.dashboard.widget_ms.daily_trend", "ms"),
    ("pipelines.dashboard.widget_ms.type_dist", "ms"),
    ("pipelines.dashboard.widget_ms.map_viewport", "ms"),
    ("pipelines.dashboard.widget_ms.table", "ms"),
    ("pipelines.dashboard.jobs_per_interaction", "count"),
    ("pipelines.dashboard.base_rows", "count"),
    ("llmdata.dedup.shingle_sign_ms", "ms"),
    ("llmdata.dedup.candidate_ms", "ms"),
    ("llmdata.dedup.candidate_pairs", "count"),
    ("llmdata.dedup.verify_ms", "ms"),
    ("llmdata.dedup.verify_yield", "ratio"),
    ("llmdata.dedup.components_ms", "ms"),
    ("llmdata.similarity.cluster_ms", "ms"),
    ("llmdata.similarity.pair_ms", "ms"),
    ("llmdata.similarity.pair_yield", "ratio"),
]


def pin_environment(work: str) -> dict:
    """Settings every run uses, on both sides of any comparison: session
    width and feed-span sizing from the same core count, an explicit
    driver memory, the package importable by Python workers, and every
    scratch file inside the private work dir."""
    tmp = os.path.join(work, "tmp")
    pinned = {
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # for spark-submit's launcher JVM; start_session gives the driver
        # JVM the same flags
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
        # workers run this interpreter directly, not through a launcher shim
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(pinned)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for d in (pinned["SPARK_LOCAL_DIRS"], tmp):
        os.makedirs(d, exist_ok=True)
    return pinned


def start_session(work: str):
    from trafik_etl_modular_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": os.environ["SPARK_LAUNCHER_OPTS"],
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> list[int]:
    """Stop Spark, shut the JVM down and wait for every process this run
    started; returns pids that had to be killed."""
    from pyspark import SparkContext

    children = stats.process_tree()[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # The gateway JVM exits when its stdin closes; SIGTERM if not.
            proc.stdin.close()
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.terminate()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = stats.wait_gone(children, 10.0)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    stats.wait_gone(left, 10.0)
    return left


class Runner:
    """Times ops, checks them, and keeps the per-op record."""

    def __init__(self, wl, rss: stats.TreeRss) -> None:
        self.wl = wl
        self.rss = rss
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run(self, i: int, call) -> float:
        """Run op ``i`` through ``call``; return its wall time in ms."""
        self.wl.prepare(i)
        t0 = time.perf_counter()
        try:
            result = call(i)
        except Exception:  # noqa: BLE001 — an op that raises is a failed op, the run goes on
            ms = (time.perf_counter() - t0) * 1000.0
            self._fail(i, traceback.format_exc())
            self.wl.finish(i)
            return ms
        ms = (time.perf_counter() - t0) * 1000.0
        self.attempted += 1
        try:
            problems = self.wl.check(i, result)
        except Exception:  # noqa: BLE001 — a check that cannot run fails the op
            problems = [traceback.format_exc()]
        if problems:
            self.failed += 1
            self.problems.append(f"op {i}: " + "; ".join(problems))
        self.wl.finish(i)
        self.rss.sample()
        return ms

    def _fail(self, i: int, tb: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append(f"op {i} raised: {tb.strip().splitlines()[-1]}")
        print(tb, file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    t_start = time.perf_counter()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        pinned = pin_environment(work)
        import trafik_etl_modular_spark  # noqa: F401 — fail fast without the program

        wl = WORKLOADS[args.workload](work, args.seed)
        wl.generate()
        generate_s = time.perf_counter() - t_start
        result, diag = measure(wl, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass
    diag["pinned"] = {**pinned, "PYTHONPATH": "<checkout root>"}
    diag["generate_s"] = generate_s
    diag["run_wall_s"] = time.perf_counter() - t_start
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0


def measure(wl, args, work: str) -> tuple[dict, dict]:
    rss = stats.TreeRss()
    calib_before = stats.calibrate()
    steal0 = stats.steal_seconds()

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        wl.preload(spark)
        preload_s = time.perf_counter() - t0 - session_s
        runner = Runner(wl, rss)
        warm = [runner.run(i, wl.op) for i in range(wl.warm_ops)]
        i = wl.warm_ops
        # program time only: input landing and output checks are excluded
        setup_s = session_s + preload_s + sum(warm) / 1000.0

        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer(spark.sparkContext)
            metrics, series = trace_loop(wl, runner, tracer, i, args.seconds)
            metrics["session.start_ms"] = session_s * 1000.0
            os.makedirs(OUT_DIR, exist_ok=True)
            series["spans_file"] = os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.dump(series["spans_file"])
        else:
            times: list[float] = []
            rows = 0
            start = time.perf_counter()
            while not times or time.perf_counter() - start < args.seconds:
                times.append(runner.run(i, wl.op))
                rows += wl.rows(i)
                i += 1
            metrics, series = end_to_end(runner, rss, times, rows, setup_s)
            series["op_ms"] = times
        rss.sample()
    finally:
        leftover = stop_session(spark)
    diag = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": CPUS,
        "driver_memory": DRIVER_MEMORY,
        "sizes": wl.sizes(),
        "session_start_s": session_s,
        "preload_s": preload_s,
        "warmup_op_ms": warm,
        **series,
        "failed_op_share": runner.failed / max(runner.attempted, 1),
        "problems": runner.problems[:5],
        "steal_s": stats.steal_seconds() - steal0,
        "calib_before_s": calib_before,
        "calib_after_s": stats.calibrate(),
        "killed_pids": leftover,
    }
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": stats.finite(v), "unit": u} for k, v, u in metrics_with_units(metrics, args.trace)},
    }
    return result, diag


def metrics_with_units(values: dict, trace: int):
    spec = PER_LAYER if trace else [(n, u) for n, u, _, _ in END_TO_END]
    for name, unit in spec:
        yield name, float(values.get(name, 0.0)), unit


def end_to_end(runner: Runner, rss: stats.TreeRss, times: list[float], rows: int, setup_s: float) -> tuple[dict, dict]:
    tail_ms, pct, beyond = stats.tail(times)
    ok = 1.0 - runner.failed / max(runner.attempted, 1)
    return {
        "setup_s": setup_s,
        "op_p50_ms": stats.median(times),
        "op_tail_ms": tail_ms,
        "rows_per_s": rows / (sum(times) / 1000.0),
        "peak_rss_mb": rss.peak_mb(),
        "ok_op_share": ok,
    }, {"op_tail_percentile": pct, "op_tail_beyond": beyond, "op_samples": len(times)}


def trace_loop(wl, runner: Runner, tracer, i: int, seconds: float) -> tuple[dict, dict]:
    """Pairs of one untraced and one traced op, the traced one second in
    even pairs and first in odd ones, so JVM drift within a pair cancels
    out over the run; at least two pairs.  Layer metrics are medians over
    the traced ops, the overhead the median of traced minus untraced."""
    plain_ms, traced_ms, plain_ops, layer_rows = [], [], [], []

    def plain(k):
        with tracer.span("op", k):
            return wl.plain_op(k, tracer)

    def traced(k):
        with tracer.span("op", k):
            result, layers = wl.traced_op(k, tracer)
        layer_rows.append(layers)
        return result

    start = time.perf_counter()
    while len(traced_ms) < 2 or time.perf_counter() - start < seconds:
        first_traced = len(traced_ms) % 2 == 1
        for traced_now in (first_traced, not first_traced):
            if traced_now:
                traced_ms.append(runner.run(i, traced))
            else:
                plain_ms.append(runner.run(i, plain))
                plain_ops.append(i)
            i += 1
    keys = {k for row in layer_rows for k in row}
    out = {k: stats.median([row[k] for row in layer_rows if k in row]) for k in keys}
    out["spark.jobs_per_op"] = stats.median([sum(s.jobs for s in tracer.op_spans(k)) for k in plain_ops])
    out["spark.tasks_per_op"] = stats.median([sum(s.tasks for s in tracer.op_spans(k)) for k in plain_ops])
    out["spark.failed_tasks"] = sum(s.failed_tasks for s in tracer.spans)
    for part in wl.parts:
        if part.jobs_metric:
            out[part.jobs_metric] = stats.median(
                [s.jobs for k in plain_ops for s in tracer.op_spans(k) if s.name == part.name]
            )
    out["trace.overhead_ms"] = stats.median([t - p for t, p in zip(traced_ms, plain_ms)])
    return out, {"untraced_op_ms": plain_ms, "traced_op_ms": traced_ms}


if __name__ == "__main__":
    sys.exit(main())
