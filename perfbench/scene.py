"""Seeded multi-sequence MOT scene written as MOT-Challenge CSV.

Each sequence holds `n_objects` boxes moving at constant velocity with
Gaussian jitter, as a glacier-calving camera sees drifting ice. Per frame
every visible object yields a detection unless it is missed (`miss_rate`),
and each detection gets a jittered, lower-confidence duplicate with
probability `dup_rate`, so per-frame NMS has real work. Ground truth goes to
`<seq>/gt/gt.txt`, detections to `<seq>/det/det.txt`, both in the
`frame,id,l,t,w,h,conf,x,y,z` layout.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

MOT_COLS = ["frame", "obj_id", "bb_left", "bb_top", "bb_width", "bb_height", "conf"]


@dataclass(frozen=True)
class SceneSpec:
    n_sequences: int = 2
    n_frames: int = 50
    n_objects: int = 20
    miss_rate: float = 0.05
    dup_rate: float = 0.6
    width: float = 1920.0
    height: float = 1080.0


def _sequence(rng: np.random.Generator, spec: SceneSpec) -> tuple[pd.DataFrame, pd.DataFrame]:
    n, f = spec.n_objects, spec.n_frames
    # Objects sit on a coarse grid so boxes of distinct objects rarely
    # overlap; constant velocity with small per-frame jitter.
    cols = int(np.ceil(np.sqrt(n)))
    cell_w, cell_h = spec.width / cols, spec.height / cols
    k = np.arange(n)
    x0 = (k % cols) * cell_w + rng.uniform(0.2, 0.4, n) * cell_w
    y0 = (k // cols) * cell_h + rng.uniform(0.2, 0.4, n) * cell_h
    w = rng.uniform(40.0, 90.0, n)
    h = rng.uniform(40.0, 90.0, n)
    vx = rng.uniform(-0.15, 0.15, n) * cell_w / f
    vy = rng.uniform(-0.15, 0.15, n) * cell_h / f
    t = np.arange(f)[:, None]
    left = x0 + vx * t + rng.normal(0.0, 0.5, (f, n))
    top = y0 + vy * t + rng.normal(0.0, 0.5, (f, n))
    frame = np.repeat(np.arange(1, f + 1), n)
    gt = pd.DataFrame({
        "frame": frame,
        "obj_id": np.tile(k + 1, f),
        "bb_left": left.ravel().round(2),
        "bb_top": top.ravel().round(2),
        "bb_width": np.tile(w, f).round(2),
        "bb_height": np.tile(h, f).round(2),
        "conf": 1.0,
    })
    seen = gt[rng.random(len(gt)) >= spec.miss_rate].reset_index(drop=True)
    det = seen.assign(
        bb_left=(seen.bb_left + rng.normal(0.0, 1.0, len(seen))).round(2),
        bb_top=(seen.bb_top + rng.normal(0.0, 1.0, len(seen))).round(2),
        conf=rng.uniform(0.6, 0.99, len(seen)).round(4),
    )
    dup = det[rng.random(len(det)) < spec.dup_rate]
    dup = dup.assign(
        bb_left=(dup.bb_left + rng.normal(0.0, 2.0, len(dup))).round(2),
        bb_top=(dup.bb_top + rng.normal(0.0, 2.0, len(dup))).round(2),
        conf=(dup.conf * rng.uniform(0.5, 0.95, len(dup))).round(4),
    )
    det = pd.concat([det, dup]).sort_values("frame", kind="mergesort")
    # Detector ids are per-frame unique, unrelated to object identity.
    det["obj_id"] = det.groupby("frame").cumcount() + 1
    return gt, det.reset_index(drop=True)


def write_scene(root: str, spec: SceneSpec, seed: int) -> dict[str, pd.DataFrame]:
    """Write every sequence under `root`; return detections per sequence."""
    rng = np.random.default_rng(seed)
    dets: dict[str, pd.DataFrame] = {}
    for s in range(spec.n_sequences):
        name = f"glacier-{s:02d}"
        gt, det = _sequence(rng, spec)
        for sub, df in (("gt", gt), ("det", det)):
            os.makedirs(os.path.join(root, name, sub), exist_ok=True)
            out = df[MOT_COLS].assign(x=-1, y=-1, z=-1)
            out.to_csv(os.path.join(root, name, sub, f"{sub}.txt"), header=False, index=False)
        dets[name] = det
    return dets
