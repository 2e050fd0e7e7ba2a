#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one client thread on local[N].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The seed generates the MOT scene under
`.perfbench_work/` and permutes the query order of every pass; the query
mixes read the fixed test tables in `perfbench/data/`. The engine only
sees files. The run sets up the session once (`get_spark` plus the
workload's warm-up passes), then runs whole passes until `--seconds` have gone by,
checking every op's output. Each op's wall time goes to stderr. The last stdout line is one JSON object:
`correct`, `attempted`, `failed` and the metrics, end to end with
`--trace 0`, per layer with `--trace 1`. The error rate is
`failed / attempted`: an op fails when it raises or its check fails.

End-to-end metrics (untraced run; every workload prints all of them):
  setup_s        get_spark plus the warm-up passes; input generation and
                 expected-output computation are excluded
  latency_p50_s  median wall time of one op: the median of each query's
                 ops (the pipeline's, on mot_pipeline), then the geometric
                 mean of those medians over the mix, so that every query
                 weighs the same and the figure does not sit on the border
                 between two queries' time ranges; a run holds 7-40 ops,
                 too few for a tail percentile to have ten samples beyond it
  queries_per_s  completed ops per second of op time; one op on
                 mot_pipeline is one whole pipeline run
  dets_per_s     rows per second of op time: input detections on
                 mot_pipeline, result rows fetched on the query mixes

A traced run traces every other pass; per-layer figures are the median of
the traced passes' totals, counters also with their min and max, and
`trace.overhead_s` is the traced minus the untraced `latency_p50_s`, a
traced op being timed end to end with its probe reads. `mem.peak_rss_mb`
is the summed VmHWM of the JVM and its Python workers over the traced run,
with the engine's own default driver memory. Per-op min/max of every
figure goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("mot_pipeline", "queries_dataheavy", "queries_jobheavy")
# Per-layer counters: their min and max across traced passes are reported
# too, since Spark's job counts are not exactly repeatable.
COUNTERS = (
    "plans.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "sources.input_bytes", "sources.input_rows", "nms.groups", "nms.rows_in",
    "nms.rows_out", "tracker.rows_out", "eval.jobs", "sinks.write_bytes",
)
LAYER_TIMES = (
    "session.start_s", "session.warmup_s", "plans.build_s",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.action_s", "exec.executor_run_s", "exec.executor_cpu_s", "exec.gc_s",
    "exec.idle_core_s", "nms.s", "nms.keep_ratio", "tracker.s",
    "tracker.kernel_s", "eval.s", "sinks.write_s", "trace.overhead_s",
    "mem.peak_rss_mb",
)


def unit_of(name: str) -> str:
    if name in COUNTERS:
        return "bytes" if name.endswith("bytes") else "count"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    return "ratio" if name.endswith("ratio") else "s"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def isolate(work: str) -> None:
    """Keep every file the run writes inside `work`, and let Spark's Python
    workers import the package whatever their working directory."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]


def start_spark(work: str, cores: int, trace: bool):
    from iceberg_tracking_spark.session import get_spark
    from probe import RETAIN_CONF

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            **(RETAIN_CONF if trace else {}),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over `root_pid` (the JVM) and its descendants (the
    Python worker daemon and its workers), from /proc."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class Run:
    """Runs ops, counting those attempted and those that failed."""

    def __init__(self, workload) -> None:
        self.wl = workload
        self.attempted = 0
        self.failed = 0

    def op(self, spark, op: str, probe=None):
        """`(wall_s, layers)` of one op, or None when it raised or its check
        failed."""
        from workloads import CheckFailed

        self.attempted += 1
        try:
            return self.wl.run(spark, op, probe)
        except CheckFailed as e:
            log(f"check failed: {e}")
        except Exception:  # noqa: BLE001 - a failing op is counted, the run goes on
            log(f"op {op} raised:\n{traceback.format_exc()}")
        self.failed += 1
        return None


def layer_metrics(pass_layers: list[dict], op_layers: dict[str, list[dict]]) -> dict:
    """Per-layer figures: the median over traced passes of each pass's
    total, plus each counter's min and max. Per-op min/max go to stderr."""
    metrics = {}
    for name in COUNTERS + LAYER_TIMES:
        vals = [p.get(name, 0) for p in pass_layers]
        metrics[name] = (statistics.median(vals), unit_of(name))
        if name in COUNTERS:
            metrics[name + ".min"] = (min(vals), unit_of(name))
            metrics[name + ".max"] = (max(vals), unit_of(name))
    for op, rows in sorted(op_layers.items()):
        detail = {
            k: [min(r.get(k, 0) for r in rows), max(r.get(k, 0) for r in rows)]
            for k in sorted({k for r in rows for k in r})
        }
        log(json.dumps({"op": op, "passes": len(rows), "min_max": detail}))
    return metrics


def typical_latency(walls: dict[str, list[float]]) -> float:
    """Geometric mean over op kinds of each kind's median wall time."""
    medians = [statistics.median(v) for v in walls.values()]
    return statistics.geometric_mean(medians)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)

    import numpy as np
    from pyspark import SparkContext

    import workloads
    from probe import SparkProbe

    if args.workload == "mot_pipeline":
        wl = workloads.MotPipeline(work, args.seed, cores)
    else:
        wl = workloads.QueryMix(workloads.MIXES[args.workload], cores)
    wl.prepare()
    rng = np.random.default_rng(args.seed)
    run = Run(wl)
    untraced: dict[str, list[float]] = defaultdict(list)
    traced: dict[str, list[float]] = defaultdict(list)
    rows = 0
    pass_layers: list[dict] = []
    op_layers: dict[str, list[dict]] = defaultdict(list)
    busy_s, passes = 0.0, 0

    # Set-up: a cold session plus the workload's warm-up passes, so that
    # first-run costs (JVM start, JIT, code generation, Python worker start)
    # never reach the latency samples. Op times keep falling for the first
    # few passes while the JIT compiles the driver's scheduling and planning
    # paths; the warm-up covers that slope.
    t0 = time.perf_counter()
    spark = start_spark(work, cores, bool(args.trace))
    try:
        start_s = time.perf_counter() - t0
        for _ in range(wl.warmup_passes):
            for op in wl.pass_ops(rng):
                run.op(spark, op)
        setup_s = time.perf_counter() - t0

        probe = SparkProbe(spark) if args.trace else None
        t_end = time.perf_counter() + args.seconds
        # A traced run traces every other pass and runs at least two traced
        # passes, so each counter has a min and a max, and one untraced pass.
        while passes < 1 + 2 * args.trace or time.perf_counter() < t_end:
            tracing = probe is not None and passes % 2 == 0
            layers: dict = {}
            for op in wl.pass_ops(rng):
                res = run.op(spark, op, probe if tracing else None)
                if res is None:
                    continue
                wall, op_layer = res
                log(f"op {op}: {wall:.3f} s{' traced' if tracing else ''}")
                (traced if tracing else untraced)[op].append(wall)
                if tracing:
                    op_layers[op].append(op_layer)
                    for k, v in op_layer.items():
                        layers[k] = layers.get(k, 0) + v
                else:
                    busy_s += wall
                    rows += wl.rows(op)
            if tracing:
                pass_layers.append(layers)
            passes += 1
        rss_mb = peak_rss_mb(SparkContext._gateway.proc.pid)  # noqa: SLF001
    finally:
        stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)

    for op, walls in sorted(untraced.items()):
        log(f"untraced {op}: n={len(walls)} median={statistics.median(walls):.3f} s "
            f"min={min(walls):.3f} max={max(walls):.3f}")
    log(f"{args.workload}: set-up {setup_s:.2f} s, {passes} passes, "
        f"{run.attempted} ops, {run.failed} failed")
    if not untraced or (args.trace and not traced):
        log("no op completed")
        return 1
    if args.trace:
        metrics = layer_metrics(pass_layers, op_layers)
        metrics["session.start_s"] = (start_s, "s")
        metrics["session.warmup_s"] = (setup_s - start_s, "s")
        metrics["trace.overhead_s"] = (
            typical_latency(traced) - typical_latency(untraced), "s"
        )
        metrics["mem.peak_rss_mb"] = (rss_mb, "MB")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "latency_p50_s": (typical_latency(untraced), "s"),
            "queries_per_s": (sum(map(len, untraced.values())) / busy_s, "1/s"),
            "dets_per_s": (rows / busy_s, "1/s"),
        }
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
