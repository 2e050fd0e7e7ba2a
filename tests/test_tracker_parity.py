"""r13 parity harness: the vectorized tracker must be EXACTLY the
pre-r13 per-pair/per-track implementation.

`_ReferenceTracker` below is a frozen, line-for-line copy of the
pre-r13 `SequenceTracker.step` (grid-cell pruning, scalar numpy score
math, per-track `KalmanBoxTracker.predict`/`.update` calls) and
`_reference_track_pdf` of the pre-r13 per-frame pandas loop. Every
test drives both implementations over the same detections and asserts
the emitted rows are identical — values bit-for-bit (the vectorized
math evaluates the same float64 expressions elementwise; stacked
matmul/inv use the same kernels per 2-d slice) and in the same order.
`KalmanBoxTracker` and `_Track` are the per-object filter and track
record the pre-r13 code stored; the frozen reference is their only user.

Scenarios stress the paths where a vectorization bug would hide:
duplicate obj_ids inside a frame (the unstable quicksort must be the
SAME unstable quicksort), near-threshold sizes/scores, track aging and
deletion, dense crossing objects, unpadded frame ids, single-det and
single-track frames.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pytest

from iceberg_tracking_spark.tracker.batch import (
    SequenceTracker,
    TrackerConfig,
    frame_order,
    track_one_sequence_pdf,
)
from iceberg_tracking_spark.tracker.kalman import (
    F_MAT,
    H_MAT,
    P0_MAT,
    Q_MAT,
    R_MAT,
    STATE_DIM,
)

# The pre-r13 grid cell (the former `TrackerConfig.cell_size` default).
# The grid walk is radius-lossless, so the cell only affects speed.
_CELL_SIZE = 100.0


class KalmanBoxTracker:
    """Per-object constant-velocity filter (reference tracking.py:234-369)."""

    def __init__(self, cx: float, cy: float, w: float, h: float) -> None:
        self.x = np.array([cx, cy, 0.0, 0.0, w, h], dtype=np.float64)
        self.P = P0_MAT.copy()

    def predict(self) -> np.ndarray:
        self.x = F_MAT @ self.x
        self.P = F_MAT @ self.P @ F_MAT.T + Q_MAT
        return self.x.copy()

    def update(self, cx: float, cy: float, w: float, h: float) -> None:
        z = np.array([cx, cy, w, h], dtype=np.float64)
        y = z - H_MAT @ self.x
        S = H_MAT @ self.P @ H_MAT.T + R_MAT
        K = self.P @ H_MAT.T @ np.linalg.inv(S)
        self.x = self.x + K @ y
        self.P = (np.eye(STATE_DIM) - K @ H_MAT) @ self.P

    def position_uncertainty(self) -> float:
        """2σ positional search-radius term (reference tracking.py:407-435):
        ``2 * sqrt(P[0,0] + P[1,1])``."""
        return 2.0 * float(np.sqrt(self.P[0, 0] + self.P[1, 1]))


@dataclass
class _Track:
    track_id: int
    kf: KalmanBoxTracker
    time_since_update: int = 0
    hits: int = 0
    history: list = field(default_factory=list)


class _ReferenceTracker:
    """Frozen pre-r13 step(): grid prune + scalar math + per-track KF."""

    def __init__(self, config: TrackerConfig) -> None:
        self.cfg = config
        self.tracks: list[_Track] = []
        self.next_id = 1

    def step(self, frame, dets, det_ids, confs):  # noqa: C901 — frozen copy
        cfg = self.cfg
        for tr in self.tracks:
            tr.kf.predict()
        pairs = []
        if len(self.tracks) and len(dets):
            cx = dets[:, 0] + dets[:, 2] / 2.0
            cy = dets[:, 1] + dets[:, 3] / 2.0
            cell = _CELL_SIZE
            grid: dict[tuple[int, int], list[int]] = {}
            for j in range(len(dets)):
                grid.setdefault((int(cx[j] // cell), int(cy[j] // cell)), []).append(j)
            for i, tr in enumerate(self.tracks):
                tx, ty, tw, th = tr.kf.x[0], tr.kf.x[1], tr.kf.x[4], tr.kf.x[5]
                radius = max(
                    tr.kf.position_uncertainty(),
                    cfg.distance_threshold * (1.0 + cfg.radius_tolerance),
                )
                reach = int(np.ceil(radius / cell))
                gx, gy = int(tx // cell), int(ty // cell)
                for ox in range(-reach, reach + 1):
                    for oy in range(-reach, reach + 1):
                        for j in grid.get((gx + ox, gy + oy), ()):
                            dist = float(np.hypot(cx[j] - tx, cy[j] - ty))
                            if dist > radius:
                                continue
                            area_t = tw * th
                            area_d = dets[j, 2] * dets[j, 3]
                            size_sim = (
                                min(area_t, area_d) / max(area_t, area_d)
                                if max(area_t, area_d) > 0
                                else 0.0
                            )
                            if size_sim < cfg.size_threshold:
                                continue
                            dist_sim = 1.0 - min(dist / cfg.distance_threshold, 1.0)
                            score = cfg.w_distance * dist_sim + cfg.w_size * size_sim
                            if score >= cfg.score_threshold:
                                pairs.append((score, i, j))
        pairs.sort(key=lambda p: (-p[0], self.tracks[p[1]].track_id, det_ids[p[2]]))
        used_t: set[int] = set()
        used_d: set[int] = set()
        matches: list[tuple[int, int]] = []
        for score, i, j in pairs:
            if i in used_t or j in used_d:
                continue
            used_t.add(i)
            used_d.add(j)
            matches.append((i, j))
        emitted = []
        for i, j in matches:
            tr = self.tracks[i]
            l, t, w, h = dets[j]
            tr.kf.update(l + w / 2.0, t + h / 2.0, w, h)
            tr.time_since_update = 0
            tr.hits += 1
            if tr.hits >= self.cfg.min_hits:
                emitted.append(
                    (frame, tr.track_id, int(det_ids[j]), l, t, w, h, float(confs[j]))
                )
            tr.history.append(frame)
        matched_idx = {i for i, _ in matches}
        for i, tr in enumerate(self.tracks):
            if i not in matched_idx:
                tr.time_since_update += 1
        self.tracks = [
            tr for tr in self.tracks if tr.time_since_update <= self.cfg.max_age
        ]
        for j in range(len(dets)):
            if j in used_d:
                continue
            l, t, w, h = dets[j]
            if w * h < self.cfg.min_box_area:
                continue
            kf = KalmanBoxTracker(l + w / 2.0, t + h / 2.0, w, h)
            tr = _Track(track_id=self.next_id, kf=kf, hits=1)
            self.next_id += 1
            tr.history.append(frame)
            self.tracks.append(tr)
            if self.cfg.min_hits <= 1:
                emitted.append(
                    (frame, tr.track_id, int(det_ids[j]), l, t, w, h, float(confs[j]))
                )
        return emitted


def _reference_track_pdf(pdf: pd.DataFrame, cfg: TrackerConfig) -> pd.DataFrame:
    """Frozen pre-r13 per-frame loop (boolean mask + sort_values)."""
    seq = pdf["sequence"].iloc[0]
    tracker = _ReferenceTracker(cfg)
    out_rows = []
    for frame in frame_order(pdf["frame"]):
        fd = pdf[pdf["frame"] == frame].sort_values("obj_id")
        dets = fd[["bb_left", "bb_top", "bb_width", "bb_height"]].to_numpy(float)
        emitted = tracker.step(
            frame, dets, fd["obj_id"].to_numpy(), fd["conf"].to_numpy(float)
        )
        out_rows.extend(emitted)
    out = pd.DataFrame(
        out_rows,
        columns=[
            "frame", "track_id", "det_id",
            "bb_left", "bb_top", "bb_width", "bb_height", "conf",
        ],
    )
    out.insert(0, "sequence", seq)
    if len(out) and cfg.min_track_length > 1:
        counts = out.groupby("track_id")["frame"].transform("count")
        out = out[counts >= cfg.min_track_length]
    return out.astype(
        {
            "track_id": "int32",
            "det_id": "int32",
            "bb_left": "float64",
            "bb_top": "float64",
            "bb_width": "float64",
            "bb_height": "float64",
            "conf": "float64",
        }
    )


def _assert_identical(pdf: pd.DataFrame, cfg: TrackerConfig) -> None:
    got = track_one_sequence_pdf(pdf, cfg).reset_index(drop=True)
    want = _reference_track_pdf(pdf, cfg).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def _random_scene(
    rng: np.random.Generator,
    n_frames: int,
    n_objects: int,
    *,
    drop_p: float = 0.1,
    dup_ids: bool = False,
    pad_frames: bool = True,
) -> pd.DataFrame:
    objs = [
        {
            "id": o,
            "x0": rng.uniform(0, 2000),
            "y0": rng.uniform(0, 2000),
            "vx": rng.uniform(-12, 12),
            "vy": rng.uniform(-12, 12),
            "w": rng.uniform(8, 90),
            "h": rng.uniform(8, 90),
        }
        for o in range(n_objects)
    ]
    rows = []
    for f in range(n_frames):
        for obj in objs:
            if rng.random() < drop_p:
                continue
            oid = obj["id"] if dup_ids and rng.random() < 0.3 else obj["id"] * 100 + f
            rows.append(
                (
                    "s",
                    f"{f:06d}" if pad_frames else str(f),
                    oid,
                    obj["x0"] + obj["vx"] * f + rng.normal(0, 2.0),
                    obj["y0"] + obj["vy"] * f + rng.normal(0, 2.0),
                    max(obj["w"] + rng.normal(0, 1.0), 1.0),
                    max(obj["h"] + rng.normal(0, 1.0), 1.0),
                    float(rng.uniform(0.3, 1.0)),
                )
            )
    return pd.DataFrame(
        rows,
        columns=[
            "sequence", "frame", "obj_id",
            "bb_left", "bb_top", "bb_width", "bb_height", "conf",
        ],
    )


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_parity_random_scenes(seed):
    rng = np.random.default_rng(seed)
    pdf = _random_scene(rng, n_frames=40, n_objects=6)
    _assert_identical(pdf, TrackerConfig())


def test_parity_duplicate_obj_ids_same_frame():
    """Duplicate obj_ids exercise the unstable-sort equivalence
    (np.argsort(kind='quicksort') vs sort_values) and det_id
    tie-breaking in the greedy match order."""
    rng = np.random.default_rng(11)
    pdf = _random_scene(rng, n_frames=25, n_objects=5, dup_ids=True)
    _assert_identical(pdf, TrackerConfig())
    _assert_identical(pdf, TrackerConfig(min_track_length=3))


def test_parity_unpadded_frame_ids():
    rng = np.random.default_rng(5)
    pdf = _random_scene(rng, n_frames=30, n_objects=4, pad_frames=False)
    _assert_identical(pdf, TrackerConfig())


def test_parity_dense_crossing_objects():
    """Objects crossing paths make near-tie scores and contested
    greedy matches — the regime where a scoring discrepancy flips an
    assignment."""
    rows = []
    for f in range(30):
        for o in range(8):
            x = 100.0 + 30.0 * o + (f * (4.0 + o)) % 300
            rows.append(
                ("s", f"{f:06d}", o, x, 200.0 + 5.0 * ((o * f) % 7),
                 40.0 + o, 40.0 + o, 0.9)
            )
    pdf = pd.DataFrame(
        rows,
        columns=[
            "sequence", "frame", "obj_id",
            "bb_left", "bb_top", "bb_width", "bb_height", "conf",
        ],
    )
    _assert_identical(pdf, TrackerConfig())


def test_parity_aging_deletion_and_small_boxes():
    """Long occlusions (track deletion + re-creation) and sub-min-area
    boxes (creation gate)."""
    rng = np.random.default_rng(23)
    pdf = _random_scene(rng, n_frames=50, n_objects=5, drop_p=0.45)
    small = pdf.sample(frac=0.2, random_state=1).index
    pdf.loc[small, ["bb_width", "bb_height"]] = 5.0
    _assert_identical(pdf, TrackerConfig(max_age=2, min_hits=2))


def test_parity_exact_threshold_sizes():
    """size_sim exactly at size_threshold and scores at
    score_threshold must gate identically (>= vs > discrepancies)."""
    rows = []
    for f in range(10):
        rows.append(("s", f"{f:06d}", 1, 100.0 + 2 * f, 100.0, 40.0, 40.0, 0.9))
        # second det whose area ratio vs track is exactly 0.3
        rows.append(("s", f"{f:06d}", 2, 130.0 + 2 * f, 100.0, 40.0, 12.0, 0.9))
    pdf = pd.DataFrame(
        rows,
        columns=[
            "sequence", "frame", "obj_id",
            "bb_left", "bb_top", "bb_width", "bb_height", "conf",
        ],
    )
    _assert_identical(pdf, TrackerConfig())


def _reference_to_state(ref: _ReferenceTracker) -> tuple:
    """The streaming state tuple, built per track from the reference's
    `_Track` objects (the pre-stacked serializer)."""
    xs: list[float] = []
    ps: list[float] = []
    for tr in ref.tracks:
        xs.extend(tr.kf.x.tolist())
        ps.extend(tr.kf.P.flatten().tolist())
    return (
        ref.next_id,
        [tr.track_id for tr in ref.tracks],
        [tr.time_since_update for tr in ref.tracks],
        [tr.hits for tr in ref.tracks],
        xs,
        ps,
    )


def _reference_from_state(state_tuple: tuple, cfg: TrackerConfig) -> _ReferenceTracker:
    ref = _ReferenceTracker(cfg)
    next_id, track_ids, tsu, hits, xs, ps = state_tuple
    ref.next_id = next_id
    for i in range(len(track_ids)):
        kf = KalmanBoxTracker(0, 0, 0, 0)
        kf.x = np.array(xs[i * STATE_DIM : (i + 1) * STATE_DIM], dtype=np.float64)
        kf.P = np.array(ps[i * 36 : (i + 1) * 36], dtype=np.float64).reshape(6, 6)
        ref.tracks.append(
            _Track(track_id=track_ids[i], kf=kf, time_since_update=tsu[i], hits=hits[i])
        )
    return ref


def test_parity_streaming_state_roundtrip():
    """The streaming serializer reads the stacked ids/tsu/hits/X/P —
    the stacked step must leave state that round-trips with values
    identical to the reference tracker's."""
    from iceberg_tracking_spark.streaming.tracker import (
        _tracker_from_state,
        _tracker_to_state,
    )

    rng = np.random.default_rng(3)
    pdf = _random_scene(rng, n_frames=20, n_objects=4)
    cfg = TrackerConfig()
    new, ref = SequenceTracker(cfg), _ReferenceTracker(cfg)
    obj = pdf["obj_id"].to_numpy()
    box = pdf[["bb_left", "bb_top", "bb_width", "bb_height"]].to_numpy(float)
    conf = pdf["conf"].to_numpy(float)
    idx_by_frame = pdf.groupby("frame", sort=False).indices
    for frame in frame_order(pdf["frame"]):
        idx = idx_by_frame[frame]
        sel = idx[np.argsort(obj[idx], kind="quicksort")]
        a = new.step(frame, box[sel], obj[sel], conf[sel])
        b = ref.step(frame, box[sel], obj[sel], conf[sel])
        assert a == b
        sa, sb = _tracker_to_state(new), _reference_to_state(ref)
        assert sa == sb
        # round-trip then keep stepping the round-tripped tracker
        new = _tracker_from_state(sa, cfg)
        ref = _reference_from_state(sb, cfg)
