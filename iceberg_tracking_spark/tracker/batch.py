"""Batch multi-object tracker: per-sequence `applyInPandas` (SURVEY §2.9 T1-T7).

The reference's tracking loop (tracking.py:711-854) is a keyed stateful
sequential computation over the ordered frame axis: per frame —
predict → spatial-index candidates → match → update → age/delete →
create → emit. Sequences are independent, so the distributed form is
`detections.groupBy("sequence").applyInPandas(track_one_sequence)`:
parallel across sequences, faithful sequential semantics within one.
The streaming form (`applyInPandasWithState`) lives in
streaming/tracker.py and runs the same `run_frames` loop.

Determinism: frames processed in sorted order; candidate pairs scored
and greedily matched in (score desc, track_id asc, det_id asc,
detection index asc) order — a pinned total order replacing the
reference's stable-sort ties (SURVEY §7.4 note 1).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .kalman import F_MAT, H_MAT, P0_MAT, Q_MAT, R_MAT, STATE_DIM

# Transposes used by the stacked Kalman math in `SequenceTracker.step`.
# Stacked `X @ F_MAT.T` / `np.matmul(F_MAT, P)` produce bit-identical
# float64 results to the per-track `F @ x` / `F @ P` they replaced
# (same LAPACK/ufunc kernels per 2-d slice; verified element-exact in
# tests/test_tracker_parity.py).
_F_T = F_MAT.T.copy()
_H_T = H_MAT.T.copy()

TRACKS_OUT_SCHEMA = (
    "sequence string, frame string, track_id int, det_id int, "
    "bb_left double, bb_top double, bb_width double, bb_height double, conf double"
)
# Emitted row layout after `frame`, with the output dtypes.
_OUT_DTYPES = {
    "track_id": "int32", "det_id": "int32", "bb_left": "float64", "bb_top": "float64",
    "bb_width": "float64", "bb_height": "float64", "conf": "float64",
}


@dataclass
class TrackerConfig:
    """Mirrors the reference's tracking config defaults
    (tracking.py:126-152)."""

    distance_threshold: float = 100.0
    size_threshold: float = 0.3          # min size similarity gate
    score_threshold: float = 0.3         # min combined score to match
    max_age: int = 3                     # frames a track survives unmatched
    min_hits: int = 1                    # frames before a track is emitted
    min_track_length: int = 2            # post-filter: drop shorter tracks
    min_box_area: float = 100.0          # size gate at track creation
    radius_tolerance: float = 0.2        # search radius = max(2σ, dist_thr*(1+tol))
    w_distance: float = 0.5
    w_size: float = 0.5


class SequenceTracker:
    """Sequential per-sequence tracking loop — the applyInPandas payload.

    Pure Python/numpy: no Spark imports, so it is unit-testable without
    a session and reusable by the streaming wrapper. State is stacked,
    one row per live track in creation order: `ids`, `tsu` (frames since
    the last update) and `hits` (int arrays), Kalman means `X (n,6)` and
    covariances `P (n,6,6)`.
    """

    def __init__(self, config: TrackerConfig | None = None) -> None:
        self.cfg = config or TrackerConfig()
        self.next_id = 1
        self.ids = np.zeros(0, dtype=np.int64)
        self.tsu = np.zeros(0, dtype=np.int64)
        self.hits = np.zeros(0, dtype=np.int64)
        self.X = np.zeros((0, STATE_DIM))
        self.P = np.zeros((0, STATE_DIM, STATE_DIM))

    # -- per-frame step (reference _track_frame, tracking.py:764-854) --
    def step(self, frame: str, dets: np.ndarray, det_ids: np.ndarray, confs: np.ndarray):
        """Process one frame. dets: (n,4) [l,t,w,h]. Returns emitted rows.

        Vectorized across tracks×detections (r13, guide §4.2): every
        score, state and covariance is the SAME float64 expression the
        former per-pair/per-track code evaluated, applied elementwise
        on stacked arrays, so results are bit-identical to it
        (parity-tested against a frozen copy of that code in
        tests/test_tracker_parity.py). The former grid prune was
        radius-lossless (reach = ceil(radius/cell) cells covers every
        det within `radius`), so the dense mask below keeps exactly the
        same candidate set.
        """
        cfg = self.cfg
        # 1. predict all tracks — stacked F@x / F@P@F'+Q
        X = self.X @ _F_T
        P = np.matmul(np.matmul(F_MAT, self.P), _F_T) + Q_MAT
        # 2. candidate pairs: dense tracks×dets score matrix + the
        #    radius/size/score gates (same gate expressions, same
        #    IEEE evaluation order per element as the scalar loop)
        cx = dets[:, 0] + dets[:, 2] / 2.0
        cy = dets[:, 1] + dets[:, 3] / 2.0
        tx, ty = X[:, 0], X[:, 1]
        tw, th = X[:, 4], X[:, 5]
        radius = np.maximum(
            2.0 * np.sqrt(P[:, 0, 0] + P[:, 1, 1]),
            cfg.distance_threshold * (1.0 + cfg.radius_tolerance),
        )
        dist = np.hypot(cx[None, :] - tx[:, None], cy[None, :] - ty[:, None])
        area_t = (tw * th)[:, None]
        area_d = (dets[:, 2] * dets[:, 3])[None, :]
        amax = np.maximum(area_t, area_d)
        with np.errstate(divide="ignore", invalid="ignore"):
            size_sim = np.where(amax > 0, np.minimum(area_t, area_d) / amax, 0.0)
        dist_sim = 1.0 - np.minimum(dist / cfg.distance_threshold, 1.0)
        score = cfg.w_distance * dist_sim + cfg.w_size * size_sim
        ok = (
            (dist <= radius[:, None])
            & (size_sim >= cfg.size_threshold)
            & (score >= cfg.score_threshold)
        )
        ti, dj = np.nonzero(ok)
        pairs = list(zip(score[ti, dj].tolist(), ti.tolist(), dj.tolist()))
        # 3. greedy 1:1 assignment, pinned total order: score desc,
        #    track_id, det_id, then the detection index — det_ids are
        #    obj_id values and may repeat within a frame, so the index
        #    breaks exact ties and the pre-sort pair order is immaterial
        ids = self.ids.tolist()
        pairs.sort(key=lambda p: (-p[0], ids[p[1]], det_ids[p[2]], p[2]))
        used_t: set[int] = set()
        used_d: set[int] = set()
        matches: list[tuple[int, int]] = []
        for score, i, j in pairs:
            if i in used_t or j in used_d:
                continue
            used_t.add(i)
            used_d.add(j)
            matches.append((i, j))
        # 4. update matched — one stacked Kalman update over all
        #    matched tracks (matches are disjoint, so batching cannot
        #    interact; expression order is the standard
        #    K=PH'(HPH'+R)^-1, x+=K(z-Hx), P=(I-KH)P)
        mi = np.array([i for i, _ in matches], dtype=np.intp)
        mj = np.array([j for _, j in matches], dtype=np.intp)
        if matches:
            db = dets[mj]
            Z = np.stack(
                [db[:, 0] + db[:, 2] / 2.0, db[:, 1] + db[:, 3] / 2.0,
                 db[:, 2], db[:, 3]],
                axis=1,
            )
            Xm, Pm = X[mi], P[mi]
            Y = Z - Xm @ _H_T
            S = np.matmul(np.matmul(H_MAT, Pm), _H_T) + R_MAT
            K = np.matmul(np.matmul(Pm, _H_T), np.linalg.inv(S))
            X[mi] = Xm + np.matmul(K, Y[..., None])[..., 0]
            P[mi] = np.matmul(np.eye(STATE_DIM) - np.matmul(K, H_MAT), Pm)
        # 5. age + delete (reference tracking.py:815-823): matched
        #    tracks reset, the rest age; survivors keep creation order
        tsu = self.tsu + 1
        tsu[mi] = 0
        hits = self.hits.copy()
        hits[mi] += 1
        shown = (hits >= cfg.min_hits).tolist()
        emitted = [
            (frame, ids[i], int(det_ids[j]), *dets[j], float(confs[j]))
            for i, j in matches
            if shown[i]
        ]
        keep = tsu <= cfg.max_age
        # 6. create new tracks from unmatched dets (size gate,
        #    reference tracking.py:825-839; monotone id counter). The
        #    gate skips a det only when `w*h < min_box_area` holds, so a
        #    NaN box still opens a track.
        new = np.ones(len(dets), dtype=bool)
        new[mj] = False
        new &= ~(dets[:, 2] * dets[:, 3] < cfg.min_box_area)
        nj = np.flatnonzero(new)
        new_ids = np.arange(self.next_id, self.next_id + len(nj), dtype=np.int64)
        self.next_id += len(nj)
        nb, zero = dets[nj], np.zeros(len(nj))
        x0 = np.column_stack([nb[:, 0] + nb[:, 2] / 2.0, nb[:, 1] + nb[:, 3] / 2.0,
                              zero, zero, nb[:, 2], nb[:, 3]])
        self.ids = np.concatenate([self.ids[keep], new_ids])
        self.tsu = np.concatenate([tsu[keep], np.zeros(len(nj), dtype=np.int64)])
        self.hits = np.concatenate([hits[keep], np.ones(len(nj), dtype=np.int64)])
        self.X = np.concatenate([X[keep], x0])
        self.P = np.concatenate([P[keep], np.broadcast_to(P0_MAT, (len(nj), STATE_DIM, STATE_DIM))])
        if cfg.min_hits <= 1:
            emitted.extend(
                (frame, tid, int(det_ids[j]), *dets[j], float(confs[j]))
                for tid, j in zip(new_ids.tolist(), nj.tolist())
            )
        return emitted


def frame_order(frames) -> list:
    """Deterministic temporal order for frame ids.

    MOT frame ids are strings that are USUALLY zero-padded numerics but
    may arrive unpadded ('2' vs '10' — reference helpers.py:368-373
    pads on load, raw feeds do not). Plain lexicographic sort would run
    frame '10' before '2' and scramble the Kalman timeline, so digit
    strings order by integer VALUE (a (len, lex) key would still
    misorder padded '000010' vs unpadded '100'), tie-broken by the raw
    spelling so coexisting '2'/'002' keep a total order; non-digit
    stems follow in lexicographic order.
    """
    def k(s):
        s = str(s)
        return (0, int(s), s) if s.isdigit() else (1, 0, s)

    return sorted(set(frames), key=k)


def run_frames(tracker: SequenceTracker, pdf: pd.DataFrame) -> pd.DataFrame:
    """Step `tracker` over one sequence's detections, frame by frame in
    `frame_order`; returns the emitted rows with a `sequence` column.
    Rows with a NULL `frame` have no place on the timeline and are
    dropped (as the reference's loader skips malformed lines).

    Columns are extracted to numpy once and each frame's rows taken by
    position (`groupby(...).indices`, original row order), so a frame
    costs O(its rows); a per-frame boolean mask would rescan the whole
    sequence per frame. Within a frame, dets are ordered by obj_id with
    `np.argsort(kind="quicksort")`, the algorithm `sort_values("obj_id")`
    applies, so duplicate obj_ids keep the order of the frozen reference
    in tests/test_tracker_parity.py.
    """
    sequence = pdf["sequence"].iloc[0]
    pdf = pdf[pdf["frame"].notna()]
    out_rows = []
    idx_by_frame = pdf.groupby("frame", sort=False).indices
    obj_all = pdf["obj_id"].to_numpy()
    box_all = pdf[["bb_left", "bb_top", "bb_width", "bb_height"]].to_numpy(float)
    conf_all = pdf["conf"].to_numpy(float)
    for frame in frame_order(pdf["frame"]):
        idx = idx_by_frame[frame]
        sel = idx[np.argsort(obj_all[idx], kind="quicksort")]
        out_rows.extend(tracker.step(frame, box_all[sel], obj_all[sel], conf_all[sel]))
    out = pd.DataFrame(out_rows, columns=["frame", *_OUT_DTYPES]).astype(_OUT_DTYPES)
    out.insert(0, "sequence", sequence)
    return out


def track_one_sequence_pdf(pdf: pd.DataFrame, cfg: TrackerConfig) -> pd.DataFrame:
    """Run the sequential tracker over one sequence's detections."""
    out = run_frames(SequenceTracker(cfg), pdf)
    # post-filter: drop tracks shorter than min_track_length
    # (reference tracking.py:1152-1174)
    if len(out) and cfg.min_track_length > 1:
        counts = out.groupby("track_id")["frame"].transform("count")
        out = out[counts >= cfg.min_track_length]
    return out


def track_sequences(
    detections: DataFrame, config: TrackerConfig | None = None
) -> DataFrame:
    """Distributed tracking: one applyInPandas group per sequence.

    At 100 TB the parallel unit is the sequence (the reference's too —
    its only parallelism was across DataLoader workers); detections
    shuffle once on `sequence`, each group runs the sequential loop.
    Heavily skewed sequence sizes are the known limit — mitigate
    upstream by splitting ultra-long sequences at quiet gaps.
    """
    cfg = config or TrackerConfig()

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        return track_one_sequence_pdf(pdf, cfg)

    return detections.groupBy("sequence").applyInPandas(
        _apply, schema=TRACKS_OUT_SCHEMA
    )
