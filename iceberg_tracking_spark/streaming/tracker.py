"""Streaming stateful tracker keyed by sequence (SURVEY §2.9 T1-T6,
streaming form): `streaming_track` uses `applyInPandasWithState`.

The batch tracker's frame loop (tracker/batch.py `run_frames` over a
`SequenceTracker`) is reused verbatim; this module only adds state
(de)serialization so the tracker survives across micro-batches. State =
(next_id, the tracker's stacked track arrays, raveled) as plain Spark
rows — no pickling, so state is portable across executors and restarts.

Frames must arrive in order within a micro-batch source (e.g. a file
source with maxFilesPerTrigger=1 over frame-ordered files, or a Kafka
topic partitioned by sequence). Late frames within a batch are sorted;
cross-batch late frames are dropped by construction — the batch job is
the replay path, matching the reference's batch-only semantics.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..tracker.batch import (
    TRACKS_OUT_SCHEMA,
    SequenceTracker,
    TrackerConfig,
    run_frames,
)
from ..tracker.kalman import STATE_DIM

# next_id + per-track: (track_id, time_since_update, hits, x[6], P[36])
STATE_SCHEMA = (
    "next_id int, track_ids array<int>, tsu array<int>, hits array<int>, "
    "xs array<double>, ps array<double>"
)


def _tracker_to_state(tracker: SequenceTracker) -> tuple:
    return (
        tracker.next_id,
        tracker.ids.tolist(),
        tracker.tsu.tolist(),
        tracker.hits.tolist(),
        tracker.X.ravel().tolist(),
        tracker.P.ravel().tolist(),
    )


def _tracker_from_state(state_tuple: tuple, cfg: TrackerConfig) -> SequenceTracker:
    tracker = SequenceTracker(cfg)
    next_id, track_ids, tsu, hits, xs, ps = state_tuple
    tracker.next_id = next_id
    tracker.ids = np.array(track_ids, dtype=np.int64)
    tracker.tsu = np.array(tsu, dtype=np.int64)
    tracker.hits = np.array(hits, dtype=np.int64)
    tracker.X = np.array(xs, dtype=np.float64).reshape(-1, STATE_DIM)
    tracker.P = np.array(ps, dtype=np.float64).reshape(-1, STATE_DIM, STATE_DIM)
    return tracker


def streaming_track(
    detections: DataFrame, config: TrackerConfig | None = None
) -> DataFrame:
    """Streaming tracking over a stream of detection rows.

    `detections` must be a streaming DataFrame with the canonical
    detections schema. Output = emitted track rows per micro-batch
    (append semantics, reference T6: only matched tracks emit).
    """
    cfg = config or TrackerConfig()

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        tracker = (
            _tracker_from_state(state.get, cfg)
            if state.exists
            else SequenceTracker(cfg)
        )
        out = run_frames(tracker, pd.concat(list(pdfs), ignore_index=True))
        state.update(_tracker_to_state(tracker))
        yield out

    return detections.groupBy("sequence").applyInPandasWithState(
        _update,
        outputStructType=TRACKS_OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
