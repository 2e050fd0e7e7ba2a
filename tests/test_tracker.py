"""Tracker correctness on synthetic MOT fixtures (FIXTURES.md §1).

The tracker is not SQL-expressible (SURVEY §7.4), so correctness =
invariants + behavioral checks on constructed scenes:
  - constant-velocity objects keep one track id across the sequence
  - a ≤max_age occlusion does not split a track
  - a >max_age gap does split it
  - per-frame output is 1:1 (track_id and det_id each appear once)
  - short tracks are dropped by the length post-filter
  - sequences are processed independently (ids restart per sequence)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from iceberg_tracking_spark.tracker.batch import (
    SequenceTracker,
    TrackerConfig,
    track_one_sequence_pdf,
    track_sequences,
)


def make_sequence(
    seq: str,
    n_frames: int = 30,
    objects: list[dict] | None = None,
    drop_frames: dict[int, list[int]] | None = None,
    seed: int = 7,
) -> pd.DataFrame:
    """Constant-velocity objects + mild noise (Kalman motion model,
    reference tracking.py:252-259); drop_frames: {obj_id: [frames]}
    simulates occlusion."""
    rng = np.random.default_rng(seed)
    objects = objects or [
        {"id": 1, "x0": 100, "y0": 100, "vx": 8, "vy": 3, "w": 40, "h": 30},
        {"id": 2, "x0": 500, "y0": 200, "vx": -5, "vy": 6, "w": 60, "h": 50},
        {"id": 3, "x0": 300, "y0": 400, "vx": 2, "vy": -4, "w": 25, "h": 25},
    ]
    drop_frames = drop_frames or {}
    rows = []
    for f in range(n_frames):
        for obj in objects:
            if f in drop_frames.get(obj["id"], []):
                continue
            rows.append(
                {
                    "sequence": seq,
                    "frame": f"{f:06d}",
                    "obj_id": obj["id"] * 1000 + f,
                    "bb_left": obj["x0"] + obj["vx"] * f + rng.normal(0, 1.0),
                    "bb_top": obj["y0"] + obj["vy"] * f + rng.normal(0, 1.0),
                    "bb_width": obj["w"] + rng.normal(0, 0.5),
                    "bb_height": obj["h"] + rng.normal(0, 0.5),
                    "conf": 0.9,
                }
            )
    return pd.DataFrame(rows)


def test_constant_velocity_keeps_identity():
    pdf = make_sequence("s1")
    out = track_one_sequence_pdf(pdf, TrackerConfig())
    # every GT object (obj_id // 1000) maps to exactly one track id
    out = out.assign(gt=out["det_id"] // 1000)
    mapping = out.groupby("gt")["track_id"].nunique()
    assert (mapping == 1).all(), f"id switches: {mapping.to_dict()}"
    # and tracks don't merge: one gt per track
    rev = out.groupby("track_id")["gt"].nunique()
    assert (rev == 1).all()
    # nearly every detection is matched (first frames create tracks)
    assert len(out) >= len(pdf) - 3


def test_short_occlusion_survives():
    # object 1 missing frames 10-12 (= max_age 3) → same track resumes
    pdf = make_sequence("s1", drop_frames={1: [10, 11, 12]})
    out = track_one_sequence_pdf(pdf, TrackerConfig())
    out = out.assign(gt=out["det_id"] // 1000)
    assert out[out["gt"] == 1]["track_id"].nunique() == 1


def test_long_gap_splits_track():
    # object 1 missing frames 10-15 (> max_age 3) → two track ids
    pdf = make_sequence("s1", drop_frames={1: [10, 11, 12, 13, 14, 15]})
    out = track_one_sequence_pdf(pdf, TrackerConfig())
    out = out.assign(gt=out["det_id"] // 1000)
    assert out[out["gt"] == 1]["track_id"].nunique() == 2


def test_one_to_one_per_frame():
    pdf = make_sequence("s1")
    out = track_one_sequence_pdf(pdf, TrackerConfig())
    per_frame_tracks = out.groupby("frame")["track_id"].nunique()
    per_frame_rows = out.groupby("frame").size()
    assert (per_frame_tracks == per_frame_rows).all()
    per_frame_dets = out.groupby("frame")["det_id"].nunique()
    assert (per_frame_dets == per_frame_rows).all()
    # Exact score tie: object 1's detection in frame 15 repeated with the
    # same det_id and box, at the lower index and with conf 0.5. det_ids
    # may repeat within a frame, so the greedy key ends with the
    # detection index and the lower index wins.
    tracker = SequenceTracker(TrackerConfig())
    for frame, g in pdf.groupby("frame", sort=True):
        g = g.sort_values("obj_id", kind="mergesort")
        if frame == "000015":
            g = pd.concat([g[g["obj_id"] == 1015].assign(conf=0.5), g])
        emitted = tracker.step(
            frame,
            g[["bb_left", "bb_top", "bb_width", "bb_height"]].to_numpy(float),
            g["obj_id"].to_numpy(),
            g["conf"].to_numpy(float),
        )
        if frame == "000015":
            by_track = {r[1]: (r[2], r[7]) for r in emitted}
            assert by_track[1] == (1015, 0.5)
            assert (1015, 0.9) in [v for k, v in by_track.items() if k != 1]


def test_min_track_length_filter():
    # a single-frame blip object must be filtered out
    objects = [
        {"id": 1, "x0": 100, "y0": 100, "vx": 8, "vy": 3, "w": 40, "h": 30},
        {"id": 9, "x0": 900, "y0": 900, "vx": 0, "vy": 0, "w": 30, "h": 30},
    ]
    pdf = make_sequence("s1", n_frames=20, objects=objects)
    pdf = pdf[~((pdf["obj_id"] // 1000 == 9) & (pdf["frame"] != "000005"))]
    out = track_one_sequence_pdf(pdf, TrackerConfig(min_track_length=2))
    assert (out["det_id"] // 1000 != 9).all()


def test_deterministic():
    pdf = make_sequence("s1")
    a = track_one_sequence_pdf(pdf, TrackerConfig())
    b = track_one_sequence_pdf(pdf.sample(frac=1.0, random_state=3), TrackerConfig())
    a = a.sort_values(["frame", "track_id"]).reset_index(drop=True)
    b = b.sort_values(["frame", "track_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_null_frame_rows_are_dropped():
    """A detection with a NULL frame has no place on the timeline: it is
    dropped and the rest of the sequence tracks as if it were absent; a
    sequence whose frames are all NULL yields an empty, typed result."""
    pdf = make_sequence("a", n_frames=10)
    bad = pdf.iloc[:2].assign(frame=None)
    got = track_one_sequence_pdf(
        pd.concat([pdf, bad], ignore_index=True), TrackerConfig()
    )
    want = track_one_sequence_pdf(pdf, TrackerConfig())
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True)
    )
    empty = track_one_sequence_pdf(bad, TrackerConfig())
    assert len(empty) == 0
    pd.testing.assert_series_equal(empty.dtypes, want.dtypes)


def test_distributed_matches_local(spark):
    """groupBy(sequence).applyInPandas == running each sequence locally."""
    pdf = pd.concat(
        [make_sequence("a", seed=1), make_sequence("b", seed=2)], ignore_index=True
    )
    sdf = spark.createDataFrame(pdf)
    dist = track_sequences(sdf).toPandas()
    local = pd.concat(
        [
            track_one_sequence_pdf(pdf[pdf["sequence"] == s], TrackerConfig())
            for s in ("a", "b")
        ],
        ignore_index=True,
    )
    dist = dist.sort_values(["sequence", "frame", "track_id"]).reset_index(drop=True)
    local = local.sort_values(["sequence", "frame", "track_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(dist, local, check_dtype=False)
    # ids are per-sequence (monotone counter restarts) — both sequences
    # start at track_id 1
    assert dist[dist["sequence"] == "a"]["track_id"].min() == 1
    assert dist[dist["sequence"] == "b"]["track_id"].min() == 1
