"""Outside-in layer probe: what Spark recorded for one call into the engine.

The benchmark wraps each call into a package function in `SparkProbe.call`.
It tags the call with a fresh Spark job group, times it, waits for the
listener bus to drain, then reads the jobs of that group from the status
tracker and each of their stages from the status store. Nothing inside the
package is instrumented. All readers work with the UI disabled; the store
must retain every stage of a run (`RETAIN_CONF`), or a lookup of an evicted
stage raises.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field

# Stage metrics summed over a call's stages, as StageData accessor -> key.
_STAGE_FIELDS = {
    "numTasks": "tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_rows",
    "outputBytes": "output_bytes",
    "outputRecords": "output_rows",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
}
CATALYST_PHASES = ("analysis", "optimization", "planning")
# The status store keeps 1000 stages by default and evicts the oldest.
RETAIN_CONF = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}


@dataclass
class CallStats:
    """Wall time plus Spark's own record of the jobs one call launched."""

    wall_s: float
    jobs: int = 0
    stages: int = 0
    counts: dict[str, int] = field(default_factory=dict)

    def get(self, key: str) -> int:
        return self.counts.get(key, 0)


class SparkProbe:
    """Runs calls under their own job group and reads back their metrics."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()  # noqa: SLF001
        self._seq = itertools.count()

    def call(self, label: str, fn, *args, **kwargs):
        """Return `(fn(*args, **kwargs), CallStats)` for one traced call."""
        group = f"perfbench-{next(self._seq)}-{label}"
        self.sc.setJobGroup(group, label)
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            wall = time.perf_counter() - t0
            self.sc.setJobGroup("perfbench-idle", "idle")
        return out, self._stats(group, wall)

    def _stats(self, group: str, wall: float) -> CallStats:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        stats = CallStats(wall_s=wall)
        counts = dict.fromkeys(_STAGE_FIELDS.values(), 0)
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            stats.jobs += 1
            for stage_id in info.stageIds if info is not None else ():
                stage = store.lastStageAttempt(stage_id)
                if str(stage.status()) == "SKIPPED":
                    continue
                stats.stages += 1
                for accessor, key in _STAGE_FIELDS.items():
                    counts[key] += int(getattr(stage, accessor)())
        stats.counts = counts
        return stats


def catalyst_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning time Catalyst recorded for `df`."""
    phases = df._jdf.queryExecution().tracker().phases()  # noqa: SLF001
    out = {}
    for name in CATALYST_PHASES:
        summary = phases.get(name)
        out[name] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out
