"""Order-sensitive greedy operators (SURVEY §2.5 W3, W4, W7).

These are the reference's sequential algorithms whose results depend on
score-descending processing order with mutation of the candidate set —
not expressible as monotone relational ops (SURVEY §7.4). Frames are
independent, so parallelism is across frames; each group (the rows of
one frame) is small.

All three run through one grouped-execution path, `_map_groups`: a hash
exchange plus a sort on the group keys — the plan Spark builds for
`groupBy().applyInPandas` — followed by `mapInPandas`. Python is called
once per Arrow batch of many whole groups, not once per group, which
at tens of detections per frame is where the time went. `nms` sorts a
whole chunk with one `np.lexsort` and runs its greedy loop on numpy
slices; `remove_nested` and `greedy_assignment` run their per-group
bodies over the chunk's groups.

Determinism: Spark partitions are unordered, so every greedy loop pins
an explicit total order (score desc, then id asc) before processing —
replicating the reference's stable-sort behavior (detection.py:1246,
tracking.py:1108-1110) with an explicit tie-break.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

_BOX_COLS = ["bb_left", "bb_top", "bb_width", "bb_height"]


def _iou_matrix(boxes: np.ndarray) -> np.ndarray:
    """Pairwise IoU of (l, t, w, h) boxes — vectorized numpy."""
    l, t, w, h = boxes[:, 0], boxes[:, 1], boxes[:, 2], boxes[:, 3]
    x1, y1, x2, y2 = l, t, l + w, t + h
    area = w * h
    xa = np.maximum(x1[:, None], x1[None, :])
    ya = np.maximum(y1[:, None], y1[None, :])
    xb = np.minimum(x2[:, None], x2[None, :])
    yb = np.minimum(y2[:, None], y2[None, :])
    inter = np.clip(xb - xa, 0, None) * np.clip(yb - ya, 0, None)
    union = area[:, None] + area[None, :] - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        iou = np.where(union > 0, inter / union, 0.0)
    return iou


def _group_edges(pdf: pd.DataFrame, cols: list[str]) -> np.ndarray:
    """Offsets where each run of equal keys starts in `pdf`, then `len(pdf)`.

    NULL keys equal each other, so they form one group as in `groupBy`.
    After the Arrow conversion a floating-point key's NULL and NaN are
    both NaN, so such a key would merge the two groups; every caller
    groups by string or integer keys.
    """
    n = len(pdf)
    change = np.zeros(max(n - 1, 0), dtype=bool)
    for c in cols:
        v = pdf[c].to_numpy()
        na = pd.isna(v)
        change |= ~((v[1:] == v[:-1]) | (na[1:] & na[:-1]))
    return np.concatenate(([0], np.flatnonzero(change) + 1, [n]))


def _map_groups(
    df: DataFrame,
    group_cols: tuple[str, ...],
    fn: Callable[[pd.DataFrame, np.ndarray], pd.DataFrame],
) -> DataFrame:
    """Run `fn(chunk, edges)` over chunks of whole groups of `df`.

    Same shuffle as `groupBy(*group_cols).applyInPandas`, but Python gets
    Arrow batches: a chunk holds the rows of one or more whole groups,
    sorted by the keys, and group k spans rows `edges[k]:edges[k+1]`.
    The last group of a batch may continue in the next, so it is carried
    over; memory stays bounded by one batch plus the largest group.
    `fn` returns rows of the input schema.
    """
    cols = list(group_cols)

    def _partition(batches):
        tail: list[pd.DataFrame] = []  # pieces of the last, maybe open group
        for batch in batches:
            if batch.empty:
                continue
            one_group = len(_group_edges(batch, cols)) == 2
            if one_group and (
                not tail
                or len(_group_edges(pd.concat([tail[-1][-1:], batch[:1]]), cols)) == 2
            ):
                tail.append(batch)
                continue
            chunk = pd.concat([*tail, batch], ignore_index=True)
            edges = _group_edges(chunk, cols)
            yield fn(chunk.iloc[: edges[-2]], edges[:-1])
            tail = [chunk.iloc[edges[-2] :]]
        if tail:
            chunk = pd.concat(tail, ignore_index=True)
            yield fn(chunk, np.array([0, len(chunk)]))

    return (
        df.repartition(*cols)
        .sortWithinPartitions(*cols)
        .mapInPandas(_partition, schema=df.schema)
    )


def _each_group(
    fn: Callable[[pd.DataFrame], pd.DataFrame],
) -> Callable[[pd.DataFrame, np.ndarray], pd.DataFrame]:
    """Chunk function for `_map_groups` that applies `fn` to each group."""

    def _chunk(pdf: pd.DataFrame, edges: np.ndarray) -> pd.DataFrame:
        return pd.concat([fn(pdf.iloc[a:b]) for a, b in zip(edges[:-1], edges[1:])])

    return _chunk


def nms(
    detections: DataFrame,
    iou_threshold: float = 0.45,
    group_cols: tuple[str, ...] = ("sequence", "frame"),
    id_col: str = "obj_id",
) -> DataFrame:
    """Exact greedy non-maximum suppression per frame.

    Replicates reference detection.py:1223-1261: sort by conf desc
    (tie: id asc), repeatedly keep the best and drop every remaining box
    with IoU > threshold against it. NaN/NULL conf sorts last. Output
    schema = input schema.
    """

    def _nms_chunk(pdf: pd.DataFrame, edges: np.ndarray) -> pd.DataFrame:
        gid = np.repeat(np.arange(len(edges) - 1), np.diff(edges))
        # One stable sort for the chunk: group, then conf desc, then id
        # asc; NaN (a NULL after the Arrow conversion) sorts last.
        order = np.lexsort((pdf[id_col].to_numpy(), -pdf["conf"].to_numpy(float), gid))
        boxes = pdf[_BOX_COLS].to_numpy(float)[order]
        keep = []
        for a, b in zip(edges[:-1], edges[1:]):
            iou = _iou_matrix(boxes[a:b])
            alive = np.ones(b - a, dtype=bool)
            for i in range(b - a):
                if alive[i]:
                    keep.append(a + i)
                    alive[iou[i] > iou_threshold] = False
        return pdf.iloc[order[keep]]

    return _map_groups(detections, group_cols, _nms_chunk)


def remove_nested(
    detections: DataFrame,
    containment_threshold: float = 0.75,
    conf_split: float = 0.5,
    group_cols: tuple[str, ...] = ("sequence", "frame"),
    id_col: str = "obj_id",
) -> DataFrame:
    """Nested-box removal with confidence classes.

    Replicates reference detection.py:1120-1198: when the intersection /
    smaller-box-area ratio ≥ threshold, drop one box per precedence — a
    high-confidence box always beats a low-confidence one; among
    same-class boxes the higher score wins (processing order: score
    desc, id asc).
    """

    def _group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["conf", id_col], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        boxes = pdf[_BOX_COLS].to_numpy(float)
        conf = pdf["conf"].to_numpy(float)
        area = boxes[:, 2] * boxes[:, 3]
        l, t = boxes[:, 0], boxes[:, 1]
        x2, y2 = l + boxes[:, 2], t + boxes[:, 3]
        n = len(pdf)
        alive = np.ones(n, dtype=bool)
        for i in range(n):  # i = higher precedence (sorted first)
            if not alive[i]:
                continue
            for j in range(i + 1, n):
                if not alive[j]:
                    continue
                xa, ya = max(l[i], l[j]), max(t[i], t[j])
                xb, yb = min(x2[i], x2[j]), min(y2[i], y2[j])
                inter = max(xb - xa, 0.0) * max(yb - ya, 0.0)
                smaller = min(area[i], area[j])
                if smaller <= 0 or inter / smaller < containment_threshold:
                    continue
                hi_i, hi_j = conf[i] >= conf_split, conf[j] >= conf_split
                if hi_i and not hi_j:
                    alive[j] = False
                elif hi_j and not hi_i:
                    alive[i] = False
                else:
                    alive[j] = False  # same class → earlier (higher conf) wins
                if not alive[i]:
                    break
        return pdf.iloc[np.flatnonzero(alive)]

    return _map_groups(detections, group_cols, _each_group(_group))


def greedy_assignment(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    score_col: str,
    group_cols: tuple[str, ...] = ("sequence", "frame"),
) -> DataFrame:
    """Global greedy 1:1 assignment per frame.

    Replicates reference _matching_pure_greedy (tracking.py:1037-1133):
    sort candidate pairs by score desc (tie: left id, right id), assign
    greedily skipping already-used left/right ids.
    """

    def _group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [score_col, left_col, right_col],
            ascending=[False, True, True],
            kind="mergesort",
        )
        used_l: set = set()
        used_r: set = set()
        keep = []
        for idx, row in enumerate(pdf.itertuples(index=False)):
            lv = getattr(row, left_col)
            rv = getattr(row, right_col)
            if lv in used_l or rv in used_r:
                continue
            used_l.add(lv)
            used_r.add(rv)
            keep.append(idx)
        return pdf.iloc[keep]

    return _map_groups(pairs, group_cols, _each_group(_group))
