"""Parity of the batched `nms` with the per-group NMS it replaced.

`nms` runs once per Arrow batch of whole frames. The reference below is a
frozen copy of the per-frame `_nms_group` body that `nms` ran through
`groupBy().applyInPandas` before, run here in-process per (sequence,
frame) group. The inputs carry what the batching could get wrong: exact
conf ties, repeated and NULL obj_ids, NULL sequence or frame keys, NaN
and NULL conf, frames split across Arrow batches, and shuffle partitions
left empty.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from iceberg_tracking_spark.operators.nms import _iou_matrix, nms

DET_DDL = (
    "sequence string, frame string, obj_id int, bb_left double, bb_top double, "
    "bb_width double, bb_height double, conf double"
)
IOU = 0.45


def _nms_group_frozen(pdf: pd.DataFrame, iou_threshold: float) -> pd.DataFrame:
    """Frozen per-group NMS body (conf desc, obj_id asc, then greedy)."""
    pdf = pdf.sort_values(
        ["conf", "obj_id"], ascending=[False, True], kind="mergesort"
    ).reset_index(drop=True)
    boxes = pdf[["bb_left", "bb_top", "bb_width", "bb_height"]].to_numpy(float)
    iou = _iou_matrix(boxes)
    n = len(pdf)
    alive = np.ones(n, dtype=bool)
    keep = []
    for i in range(n):
        if not alive[i]:
            continue
        keep.append(i)
        alive[iou[i] > iou_threshold] = False
        alive[i] = False
    return pdf.iloc[keep]


COLUMNS = ["sequence", "frame", "obj_id", "bb_left", "bb_top",
           "bb_width", "bb_height", "conf"]


def _scene(seed: int = 11) -> list[tuple]:
    """Clustered boxes so that NMS suppresses, with hostile keys and scores."""
    rng = np.random.default_rng(seed)
    rows = []
    keys = [("s0", f"{f:06d}") for f in range(12)] + [
        ("s1", "000000"),
        (None, "000001"),  # NULL sequence
        ("s1", None),      # NULL frame
        (None, None),      # both NULL
    ]
    for k, (seq, frame) in enumerate(keys):
        n = 45 if k == 3 else int(rng.integers(1, 20))  # one frame spans many batches
        centers = rng.uniform(0, 200, size=(3, 2))
        for _ in range(n):
            cx, cy = centers[rng.integers(3)] + rng.normal(0, 4, 2)
            conf = round(float(rng.choice([0.3, 0.5, 0.5, 0.7, 0.9])), 1)  # exact ties
            rows.append((
                seq, frame,
                int(rng.integers(0, 40 if k == 3 else 6)),  # obj_ids repeat
                float(cx), float(cy),
                float(rng.uniform(10, 30)), float(rng.uniform(10, 30)),
                conf,
            ))
    # Rows that tie on both conf and obj_id would be kept in arrival
    # order, which no shuffle fixes; keep one of each, plus one exact
    # duplicate row, whose copies are interchangeable.
    rows = list(dict(((r[0], r[1], r[2], r[7]), r) for r in rows).values())
    rows += [
        ("s0", "000005", 77, 10.0, 10.0, 20.0, 20.0, 0.7),
        ("s0", "000005", 77, 10.0, 10.0, 20.0, 20.0, 0.7),
        ("s0", "000004", 90, 50.0, 50.0, 20.0, 20.0, float("nan")),
        ("s0", "000004", 91, 51.0, 50.0, 20.0, 20.0, float("nan")),
        ("s0", "000004", 92, 52.0, 50.0, 20.0, 20.0, None),
        ("s0", "000004", 93, 50.0, 51.0, 20.0, 20.0, 0.9),
        ("s0", "000004", None, 50.0, 52.0, 20.0, 20.0, 0.9),  # NULL id
    ]
    return rows


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    """Order-insensitive row multiset; NaN and NULL both compare as None."""
    pdf = pdf[COLUMNS].astype(object)
    return sorted(
        (tuple(None if pd.isna(v) else v for v in r) for r in pdf.itertuples(index=False)),
        key=repr,
    )


def _reference(pdf: pd.DataFrame) -> pd.DataFrame:
    groups = pdf.groupby(["sequence", "frame"], dropna=False, sort=False)
    return pd.concat([_nms_group_frozen(g, IOU) for _, g in groups])


@pytest.mark.parametrize("max_records", [10000, 7])
def test_batched_nms_matches_per_group_nms(spark, max_records):
    rows = _scene()
    det = spark.createDataFrame(rows, DET_DDL)
    conf_keys = (
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    saved = {k: spark.conf.get(k) for k in conf_keys}
    # 7-row batches split most frames across batches; 32 uncoalesced
    # shuffle partitions for 16 groups leave some of them empty.
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(max_records))
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        got = nms(det, iou_threshold=IOU).toPandas()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    want = _reference(pd.DataFrame(rows, columns=COLUMNS))
    assert len(want) < len(rows)  # the scene makes NMS suppress boxes
    assert _rows(got) == _rows(want)
