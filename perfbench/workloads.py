"""The benchmark's workloads: what one operation is and how it is checked.

`QueryMix` runs registered queries against a copy of the sf0.01 test
tables of TESTDATA.md, kept in `perfbench/data/`; `MotPipeline` runs the
reference's detect -> NMS -> track -> eval job over a generated MOT
scene. Both expose the same surface to `run.py`:

* `prepare()` writes the seeded inputs and computes every expected output
  before Spark starts (not timed);
* `rows(op)` is the number of rows one op puts through: input detections
  on the pipeline, result rows fetched on the query mixes;
* `pass_ops(rng)` lists the ops of one pass over the workload, and
  `warmup_passes` is how many passes the set-up runs before timing;
* `run(spark, op, probe)` runs one op and returns its wall time and, when a
  `SparkProbe` is given, its per-layer figures; a traced op's wall time
  includes every probe read. It raises `CheckFailed` when the op's output
  differs from the expected one.
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
import time
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iceberg_tracking_spark.operators.nms import nms
from iceberg_tracking_spark.plans import QUERIES
from iceberg_tracking_spark.plans.eval_metrics import clear_identity_metrics
from iceberg_tracking_spark.sources.mot import read_mot_csv, write_mot_csv
from iceberg_tracking_spark.sources.sinks import write_table
from iceberg_tracking_spark.tracker.batch import (
    TrackerConfig,
    track_one_sequence_pdf,
    track_sequences,
)
from tests.oracle_harness import compare, duck_connection

from probe import SparkProbe, catalyst_ms
from scene import SceneSpec, write_scene

# Mix sizes are set by the run budget: the cold JVM and warm-up passes take
# 16-40 s of a 40-60 s run on 4 cores, so a warm pass may take only ~2-6 s.
# Build shares below are warm medians on 4 cores at sf0.01. At this scale
# even a plain scan's build lists files in one Spark job (~0.15 s), so no
# short query keeps its build share under 1/3.
#
# Queries whose DataFrame construction runs no query work (one listing
# job at most), so the action does the work: scan, shuffle and join.
# Build shares 0.40-0.48. Left out: q_slope_one (share 0.26, but 4.4 s
# warm), q_iou_argmax and q_ann_lsh (1.7 and 2.4 s of driver-side build,
# share 0.54 and 0.80), q_star_join (5 build jobs, share 0.66). This mix
# runs by hand only; BENCHMARK.json leaves it out to fit the run budget.
DATAHEAVY = ["q_sum_count", "q_equijoin", "q_grid_join", "q_cosine_topk"]
# Queries whose DataFrame construction launches eager jobs
# (localCheckpoint, boundary collects) and dominates the op: 3-12 build
# jobs each, build share 0.68-0.73. Left out for the run budget: q_track
# (3.8 s warm, 7 s cold; mot_pipeline runs the tracker),
# q_benjamini_hochberg (2.0 s), q_kaplan_meier (2.4 s), q_rfm (2.3 s,
# share 0.55), q_minhash_lsh (its DuckDB oracle alone takes ~8 s) and
# q_eval_metrics (3.4 s, share 0.49; mot_pipeline runs the same module).
JOBHEAVY = ["q_psi", "q_rrf_fusion", "q_bm25"]
MIXES = {"queries_dataheavy": DATAHEAVY, "queries_jobheavy": JOBHEAVY}
# A byte-for-byte copy of the sf0.01 test tables of TESTDATA.md. The
# benchmark reads only its own checkout, and at sf0.1 each op takes
# seconds, which would leave a run only a handful of ops.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
NMS_IOU = 0.45
RECALL_SLACK = 0.05


class CheckFailed(Exception):
    """An op finished but its output differs from the expected output."""


def _mismatches(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """The oracle harness's order-insensitive comparison, applied to a
    result that is already fetched."""
    return compare(SimpleNamespace(toPandas=lambda: got), want)


def _add(layers: dict, key: str, value: float) -> None:
    layers[key] = layers.get(key, 0) + value


def _exec_layers(layers: dict, action, cores: int) -> None:
    """Fold one action's stage metrics into the `exec.*` figures."""
    run_s = action.get("executor_run_ms") / 1000.0
    _add(layers, "exec.action_s", action.wall_s)
    _add(layers, "exec.jobs", action.jobs)
    _add(layers, "exec.stages", action.stages)
    _add(layers, "exec.tasks", action.get("tasks"))
    _add(layers, "exec.executor_run_s", run_s)
    _add(layers, "exec.executor_cpu_s", action.get("executor_cpu_ns") / 1e9)
    _add(layers, "exec.gc_s", action.get("gc_ms") / 1000.0)
    _add(layers, "exec.idle_core_s", action.wall_s * cores - run_s)
    _add(layers, "exec.shuffle_read_bytes", action.get("shuffle_read_bytes"))
    _add(layers, "exec.shuffle_write_bytes", action.get("shuffle_write_bytes"))
    _add(
        layers, "exec.spill_bytes",
        action.get("memory_spill_bytes") + action.get("disk_spill_bytes"),
    )


def _source_layers(layers: dict, *calls) -> None:
    for c in calls:
        _add(layers, "sources.input_bytes", c.get("input_bytes"))
        _add(layers, "sources.input_rows", c.get("input_rows"))


class QueryMix:
    """One op = build one registered query's DataFrame, then fetch it all."""

    # A mix pass is short, and op times still fell through the third pass.
    warmup_passes = 4

    def __init__(self, queries: list[str], cores: int):
        self.queries = queries
        self.cores = cores
        self.expected: dict[str, pd.DataFrame] = {}

    def prepare(self) -> None:
        con = duck_connection(DATA_DIR)
        try:
            for q in self.queries:
                self.expected[q] = con.execute(QUERIES[q].oracle).df()
        finally:
            con.close()

    def pass_ops(self, rng: np.random.Generator) -> list[str]:
        return [self.queries[i] for i in rng.permutation(len(self.queries))]

    def rows(self, op: str) -> int:
        return len(self.expected[op])

    def run(self, spark, op: str, probe: SparkProbe | None = None):
        fn = QUERIES[op].fn
        layers: dict = {}
        t0 = time.perf_counter()
        if probe is None:
            df = fn(spark, DATA_DIR)
            pdf = df.toPandas()
        else:
            df, build = probe.call(f"build:{op}", fn, spark, DATA_DIR)
            pdf, action = probe.call(f"action:{op}", df.toPandas)
            layers["plans.build_s"] = build.wall_s
            layers["plans.build_jobs"] = build.jobs
            for phase, ms in catalyst_ms(df).items():
                layers[f"catalyst.{phase}_ms"] = ms
            _exec_layers(layers, action, self.cores)
            _source_layers(layers, build, action)
        wall = time.perf_counter() - t0
        diff = _mismatches(pdf, self.expected[op])
        if diff:
            raise CheckFailed(f"{op}: {diff}")
        return wall, layers


class MotPipeline:
    """One op = read detections -> NMS -> write -> track -> write MOT CSV ->
    CLEAR/Identity eval against ground truth -> collect."""

    spec = SceneSpec()
    # Op times fell by ~25% over the first three passes, then held.
    warmup_passes = 3

    def __init__(self, work_dir: str, seed: int, cores: int):
        self.scene_dir = os.path.join(work_dir, "scene")
        self.out_dir = os.path.join(work_dir, "mot_out")
        self.seed = seed
        self.cores = cores
        self.cfg = TrackerConfig()
        self.sequences: list[str] = []
        self.n_groups = 0
        self.n_dets = 0

    # -- expected outputs, computed in-process before Spark starts --
    def prepare(self) -> None:
        dets = write_scene(self.scene_dir, self.spec, self.seed)
        self.sequences = sorted(dets)
        self.n_groups = sum(d["frame"].nunique() for d in dets.values())
        self.n_dets = sum(map(len, dets.values()))
        kept = pd.concat(
            [self._nms_reference(seq, d) for seq, d in dets.items()], ignore_index=True
        )
        self.expected_kept = kept[["sequence", "frame", "obj_id"]]
        self.expected_tracks = self._tracks_reference(kept)

    @staticmethod
    def _nms_reference(seq: str, det: pd.DataFrame) -> pd.DataFrame:
        """Greedy NMS per frame, written independently of the operator."""
        det = det.assign(sequence=seq, frame=det["frame"].map("{:06d}".format))
        keep = []
        for _, g in det.groupby("frame", sort=False):
            g = g.sort_values(["conf", "obj_id"], ascending=[False, True], kind="mergesort")
            l, t = g["bb_left"].to_numpy(), g["bb_top"].to_numpy()
            r, b = l + g["bb_width"].to_numpy(), t + g["bb_height"].to_numpy()
            area = (r - l) * (b - t)
            alive = np.ones(len(g), bool)
            for i in range(len(g)):
                if not alive[i]:
                    continue
                keep.append(g.index[i])
                iw = np.clip(np.minimum(r[i], r) - np.maximum(l[i], l), 0, None)
                ih = np.clip(np.minimum(b[i], b) - np.maximum(t[i], t), 0, None)
                inter = iw * ih
                alive &= ~(inter / (area[i] + area - inter) > NMS_IOU)
        return det.loc[keep]

    def _tracks_reference(self, kept: pd.DataFrame) -> pd.DataFrame:
        out = [
            track_one_sequence_pdf(g.reset_index(drop=True), self.cfg)
            for _, g in kept.groupby("sequence", sort=True)
        ]
        return pd.concat(out, ignore_index=True)

    def pass_ops(self, rng: np.random.Generator) -> list[str]:
        return ["pipeline"]

    def rows(self, op: str) -> int:
        return self.n_dets

    # -- the op --
    def _scene_paths(self, kind: str) -> dict[str, str]:
        return {s: os.path.join(self.scene_dir, s, kind, f"{kind}.txt") for s in self.sequences}

    @staticmethod
    def _read_all(spark, paths: dict[str, str]) -> DataFrame:
        """All sequences' MOT files as one DataFrame with a `sequence` column."""
        dfs = [read_mot_csv(spark, p, sequence=s) for s, p in paths.items()]
        return functools.reduce(DataFrame.unionByName, dfs)

    def run(self, spark, op: str, probe: SparkProbe | None = None):
        shutil.rmtree(self.out_dir, ignore_errors=True)
        nms_dir = os.path.join(self.out_dir, "nms")
        tracks_dir = os.path.join(self.out_dir, "tracks")
        track_txt = {s: os.path.join(self.out_dir, "mot", s) for s in self.sequences}

        def nms_stage():
            dets = self._read_all(spark, self._scene_paths("det"))
            write_table(nms(dets, NMS_IOU), nms_dir, use_iceberg=False)

        def track_stage():
            write_table(
                track_sequences(spark.read.parquet(nms_dir), self.cfg),
                tracks_dir, use_iceberg=False,
            )

        def sink_stage():
            tracks = spark.read.parquet(tracks_dir)
            for s in self.sequences:
                write_mot_csv(tracks.filter(F.col("sequence") == s), track_txt[s])

        def eval_df():
            def frames(df, id_name):
                return df.select(
                    "sequence", F.col("frame").cast("long").alias("frame"),
                    F.col("obj_id").alias(id_name),
                    F.col("bb_left").alias("l"), F.col("bb_top").alias("t"),
                    F.col("bb_width").alias("w"), F.col("bb_height").alias("h"),
                )

            gt = frames(self._read_all(spark, self._scene_paths("gt")), "gt_id")
            tr = frames(self._read_all(spark, track_txt), "track_id")
            return clear_identity_metrics(gt, tr, iou_threshold=0.5)

        layers: dict = {}
        t0 = time.perf_counter()
        if probe is None:
            nms_stage()
            track_stage()
            sink_stage()
            rows = eval_df().collect()
        else:
            _, s_nms = probe.call("nms", nms_stage)
            _, s_trk = probe.call("tracker", track_stage)
            _, s_snk = probe.call("sinks", sink_stage)
            df, s_build = probe.call("eval-build", eval_df)
            rows, s_eval = probe.call("eval", df.collect)
            calls = (s_nms, s_trk, s_snk, s_build, s_eval)
            layers["plans.build_s"] = s_build.wall_s
            layers["plans.build_jobs"] = s_build.jobs
            for phase, ms in catalyst_ms(df).items():
                layers[f"catalyst.{phase}_ms"] = ms
            for c in (s_nms, s_trk, s_snk, s_eval):
                _exec_layers(layers, c, self.cores)
            _source_layers(layers, *calls)
            layers.update({
                "nms.s": s_nms.wall_s,
                "nms.groups": self.n_groups,
                "nms.rows_in": s_nms.get("input_rows"),
                "nms.rows_out": s_nms.get("output_rows"),
                "nms.keep_ratio": s_nms.get("output_rows") / max(1, s_nms.get("input_rows")),
                "tracker.s": s_trk.wall_s,
                "tracker.rows_out": s_trk.get("output_rows"),
                "eval.s": s_build.wall_s + s_eval.wall_s,
                "eval.jobs": s_build.jobs + s_eval.jobs,
                "sinks.write_s": s_snk.wall_s,
                "sinks.write_bytes": s_snk.get("output_bytes"),
            })
            t_kernel = time.perf_counter()
            self._tracks_reference(pq.read_table(nms_dir).to_pandas())
            layers["tracker.kernel_s"] = time.perf_counter() - t_kernel
        wall = time.perf_counter() - t0
        kept = pq.read_table(nms_dir).to_pandas()
        diff = _mismatches(kept[list(self.expected_kept.columns)], self.expected_kept)
        if diff:
            raise CheckFailed(f"nms: {diff}")
        tracks = pq.read_table(tracks_dir).to_pandas()
        diff = _mismatches(tracks[list(self.expected_tracks.columns)], self.expected_tracks)
        if diff:
            raise CheckFailed(f"tracker: {diff}")
        floor = 1.0 - self.spec.miss_rate - RECALL_SLACK
        low = [r["sequence"] for r in rows if not r["clr_re"] >= floor]
        if len(rows) != len(self.sequences) or low:
            raise CheckFailed(f"eval: {len(rows)} sequences, recall below {floor} in {low}")
        if not glob.glob(os.path.join(track_txt[self.sequences[0]], "*.csv")):
            raise CheckFailed("MOT sink wrote no CSV part")
        return wall, layers
