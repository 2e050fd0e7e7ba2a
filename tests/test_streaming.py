"""Streaming surface tests: windowed aggs equal their batch forms; the
stateful streaming tracker equals the batch tracker when frames arrive
in order across micro-batches."""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_tracking_spark.sources.tables import load_table
from iceberg_tracking_spark.streaming.windows import (
    streaming_session_agg,
    streaming_tumbling_agg,
)
from iceberg_tracking_spark.streaming.tracker import streaming_track
from iceberg_tracking_spark.tracker.batch import TrackerConfig, track_one_sequence_pdf

from .test_tracker import make_sequence

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DET_SCHEMA = T.StructType(
    [
        T.StructField("sequence", T.StringType()),
        T.StructField("frame", T.StringType()),
        T.StructField("obj_id", T.LongType()),
        T.StructField("bb_left", T.DoubleType()),
        T.StructField("bb_top", T.DoubleType()),
        T.StructField("bb_width", T.DoubleType()),
        T.StructField("bb_height", T.DoubleType()),
        T.StructField("conf", T.DoubleType()),
    ]
)


@pytest.fixture()
def events_stream_dir(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="events_stream_")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        return spark.sql(f"SELECT * FROM {name}").toPandas()
    finally:
        q.stop()


def test_streaming_tumbling_equals_batch(spark, sf_dir, events_stream_dir):
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_stream_dir)
    agg = streaming_tumbling_agg(stream, "1 hour")
    got = _run_stream(spark, agg, "tumbling_out")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "sum_value",
        )
        .toPandas()
    )
    key = ["window_start", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def test_streaming_session_runs(spark, events_stream_dir):
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_stream_dir)
    agg = streaming_session_agg(stream, gap="30 minutes")
    got = _run_stream(spark, agg, "session_out")
    assert len(got) > 0
    assert (got["n_events"] > 0).all()


@pytest.mark.parametrize("frames", ["padded", "unpadded_shuffled"])
def test_streaming_tracker_equals_batch(spark, frames):
    """Feed 3 frame-ordered micro-batches; final emitted rows must equal
    the batch tracker run over the whole sequence (no length filter —
    streaming emits online). The second input spells frame ids unpadded
    ('9' ends the first micro-batch, '10' starts the next) and shuffles
    rows within each micro-batch, so the streaming side must order
    frames numerically and dets by obj_id (unique per frame here, so
    the result does not depend on Spark's row delivery order)."""
    pdf = make_sequence("s1", n_frames=30)
    if frames == "unpadded_shuffled":
        pdf["frame"] = pdf["frame"].astype(int).astype(str)
    cfg = TrackerConfig(min_track_length=1)

    stream_dir = tempfile.mkdtemp(prefix="det_stream_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        stream = spark.readStream.schema(DET_SCHEMA).option(
            "maxFilesPerTrigger", 1
        ).parquet(stream_dir)
        out = streaming_track(stream, cfg)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("tracks_out")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            # write 3 chunks in frame order, waiting for each to process
            for lo, hi in [(0, 10), (10, 20), (20, 30)]:
                chunk = pdf[pdf["frame"].astype(int).between(lo, hi - 1)]
                if frames == "unpadded_shuffled":
                    chunk = chunk.sample(frac=1.0, random_state=lo)
                spark.createDataFrame(chunk, DET_SCHEMA).coalesce(1).write.mode(
                    "append"
                ).parquet(stream_dir)
                q.processAllAvailable()
            got = spark.sql("SELECT * FROM tracks_out").toPandas()
        finally:
            q.stop()
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)

    batch = track_one_sequence_pdf(pdf, cfg)
    key = ["frame", "track_id"]
    got = got.sort_values(key).reset_index(drop=True)[batch.columns]
    batch = batch.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def test_streaming_tracker_drops_null_frames(spark):
    """A micro-batch holding a NULL-frame detection still tracks: that
    row is dropped, as in the batch tracker, instead of failing the
    sequence's state update."""
    pdf = make_sequence("s1", n_frames=10)
    with_null = pd.concat([pdf, pdf.iloc[:1].assign(frame=None)], ignore_index=True)
    cfg = TrackerConfig(min_track_length=1)
    stream_dir = tempfile.mkdtemp(prefix="det_stream_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        spark.createDataFrame(with_null, DET_SCHEMA).coalesce(1).write.parquet(
            stream_dir, mode="append"
        )
        stream = spark.readStream.schema(DET_SCHEMA).parquet(stream_dir)
        q = (
            streaming_track(stream, cfg)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("tracks_null_frame")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql("SELECT * FROM tracks_null_frame").toPandas()
        finally:
            q.stop()
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)

    batch = track_one_sequence_pdf(pdf, cfg)
    key = ["frame", "track_id"]
    got = got.sort_values(key).reset_index(drop=True)[batch.columns]
    batch = batch.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def test_watermark_drops_late_events(spark):
    """T5 semantics: an event arriving behind the watermark must not
    contribute to an already-finalized window (the reference's max_age
    ageing: data older than the allowed lateness is gone)."""
    import pandas as pd

    d = tempfile.mkdtemp(prefix="late_stream_")
    try:
        def _write(rows, name):
            pdf = pd.DataFrame(
                rows,
                columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
            )
            pdf["ts"] = pd.to_datetime(pdf["ts"])
            spark.createDataFrame(pdf, EVENTS_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(d)

        # Batch 1: two events in the 00:00 window + one at 03:00 that
        # pushes event-time far past it.
        _write(
            [
                (1, "2024-01-01 00:10:00", 1, "a", 1.0, "{}"),
                (2, "2024-01-01 00:20:00", 1, "a", 1.0, "{}"),
                (3, "2024-01-01 03:00:00", 1, "a", 1.0, "{}"),
            ],
            "b1",
        )
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(d)
        agg = streaming_tumbling_agg(stream, "1 hour", watermark="1 hour")
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("late_test")
            .start()
        )
        try:
            q.processAllAvailable()
            # Batch 2: a LATE event for the 00:00 window (watermark is
            # already at 02:00) plus a fresh one.
            _write(
                [
                    (4, "2024-01-01 00:30:00", 1, "a", 99.0, "{}"),
                    (5, "2024-01-01 03:10:00", 1, "a", 1.0, "{}"),
                ],
                "b2",
            )
            q.processAllAvailable()
            out = spark.sql(
                "SELECT * FROM late_test WHERE window_start = '2024-01-01 00:00:00'"
            ).toPandas()
            # The 00:00 window finalized with the two on-time events;
            # the late 99.0 contribution was dropped.
            assert len(out) == 1
            assert out.iloc[0]["n"] == 2
            assert out.iloc[0]["sum_value"] == 2.0
        finally:
            q.stop()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_foreachbatch_upserts_into_catalog(spark):
    """Incremental pipeline: a stream of per-user aggregates merged into
    a VersionedTable via foreachBatch — the streaming write path of the
    data-lake surface (each micro-batch is one MERGE commit; snapshots
    stay time-travelable)."""
    import glob
    import tempfile

    from iceberg_tracking_spark.sources.catalog import VersionedTable

    src = tempfile.mkdtemp(prefix="cdc_stream_")
    tbl = tempfile.mkdtemp(prefix="cdc_table_") + "/t"
    try:
        t = VersionedTable(tbl)

        def _write(rows, _n=[0]):
            pdf = pd.DataFrame(
                rows,
                columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
            )
            pdf["ts"] = pd.to_datetime(pdf["ts"])
            spark.createDataFrame(pdf, EVENTS_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        def merge_batch(batch_df, batch_id):
            agg = batch_df.groupBy("user_id").agg(
                F.sum("value").alias("batch_sum")
            )
            t.upsert(agg, key_cols=["user_id"])

        _write(
            [
                (1, "2024-01-01 00:00:00", 1, "a", 1.0, "{}"),
                (2, "2024-01-01 00:01:00", 2, "a", 2.0, "{}"),
            ]
        )
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", src + "_ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            assert t.read(spark).count() == 2
            # Second micro-batch: user 2 updated, user 3 inserted.
            _write(
                [
                    (3, "2024-01-01 00:02:00", 2, "a", 40.0, "{}"),
                    (4, "2024-01-01 00:03:00", 3, "a", 5.0, "{}"),
                ]
            )
            q.processAllAvailable()
        finally:
            q.stop()
        cur = {
            r["user_id"]: r["batch_sum"] for r in t.read(spark).collect()
        }
        assert cur == {1: 1.0, 2: 40.0, 3: 5.0}
        # Each micro-batch committed a snapshot; the first is intact.
        assert t.current_version() >= 1
        v0 = {
            r["user_id"]: r["batch_sum"]
            for r in t.read(spark, version=0).collect()
        }
        assert v0 == {1: 1.0, 2: 2.0}
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(tbl.rsplit("/", 1)[0], ignore_errors=True)


def test_streaming_sliding_equals_batch(spark, sf_dir, events_stream_dir):
    """Sliding-window streaming agg matches the batch q_sliding_window
    (same window()+groupBy plan over readStream)."""
    from iceberg_tracking_spark.plans.registry import QUERIES

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_stream_dir)
    agg = streaming_tumbling_agg(
        stream, "1 hour", slide="30 minutes", watermark="2 hours"
    )
    got = _run_stream(spark, agg, "sliding_parity")
    batch = QUERIES["q_sliding_window"].fn(spark, sf_dir).toPandas()
    got2 = got.assign(ws=(got["window_start"].astype("int64") // 10**9))[
        ["ws", "event_type", "n", "sum_value"]
    ]
    a = got2.sort_values(["ws", "event_type"]).reset_index(drop=True)
    b = batch.sort_values(["ws", "event_type"]).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["n"].values == b["n"].values).all()
    assert (abs(a["sum_value"].values - b["sum_value"].values) < 1e-6).all()


def test_stream_restart_from_checkpoint_exactly_once(spark):
    """Recovery semantics: stop a foreachBatch stream, append more data,
    restart a NEW query on the SAME checkpoint — already-committed
    micro-batches are not reprocessed (sums would double) and the new
    data is picked up exactly once."""
    import tempfile

    src = tempfile.mkdtemp(prefix="restart_stream_")
    ckpt = src + "_ckpt"
    tbl = tempfile.mkdtemp(prefix="restart_table_") + "/t"
    try:
        from iceberg_tracking_spark.sources.catalog import VersionedTable

        t = VersionedTable(tbl)

        def _write(rows):
            pdf = pd.DataFrame(
                rows,
                columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
            )
            pdf["ts"] = pd.to_datetime(pdf["ts"])
            spark.createDataFrame(pdf, EVENTS_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        def merge_batch(batch_df, batch_id):
            agg = batch_df.groupBy("user_id").agg(F.sum("value").alias("batch_sum"))
            t.upsert(agg, key_cols=["user_id"])

        def run_once():
            q = (
                spark.readStream.schema(EVENTS_SCHEMA)
                .parquet(src)
                .writeStream.foreachBatch(merge_batch)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        _write([(1, "2024-01-01 00:00:00", 1, "a", 10.0, "{}")])
        run_once()
        assert {r["user_id"]: r["batch_sum"] for r in t.read(spark).collect()} == {1: 10.0}
        # New data lands while the stream is DOWN; restart must process
        # only the new file (a replay of batch 1 would reset user 1 to 10
        # in a fresh upsert — detectable as a version gap double-commit).
        versions_before = t.current_version()
        _write([(2, "2024-01-01 00:01:00", 2, "a", 5.0, "{}")])
        run_once()
        cur = {r["user_id"]: r["batch_sum"] for r in t.read(spark).collect()}
        assert cur == {1: 10.0, 2: 5.0}
        # Exactly one additional commit happened across the restart.
        assert t.current_version() == versions_before + 1
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(tbl.rsplit("/", 1)[0], ignore_errors=True)


def test_streaming_dedup_drops_redeliveries(spark, sf_dir):
    """Duplicate event_ids re-delivered across micro-batches within the
    watermark must be emitted exactly once; the surviving set equals the
    batch distinct."""
    from iceberg_tracking_spark.streaming.windows import streaming_dedup

    src = (
        load_table(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(200)
        .select("event_id", "ts", "event_type")
    )
    stream_dir = tempfile.mkdtemp(prefix="dedup_stream_")
    ckpt = tempfile.mkdtemp(prefix="dedup_ckpt_")
    try:
        # Batch 1: first 150 events; batch 2: events 100-200 (50 dupes).
        src.limit(150).coalesce(1).write.mode("append").parquet(stream_dir)
        stream = spark.readStream.schema(src.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(stream_dir)
        out = streaming_dedup(stream, ["event_id"])
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_out")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            src.subtract(src.limit(100)).coalesce(1).write.mode(
                "append"
            ).parquet(stream_dir)
            q.processAllAvailable()
            got = spark.sql("SELECT event_id FROM dedup_out").toPandas()
        finally:
            q.stop()
        assert len(got) == len(set(got["event_id"])), "duplicate emissions"
        assert set(got["event_id"]) == {
            r["event_id"] for r in src.select("event_id").collect()
        }
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_interval_join_equals_batch(spark, sf_dir, events_stream_dir):
    """Stream-stream attribution join (views -> purchases within 15
    minutes per user) must produce exactly the batch join's rows."""
    from iceberg_tracking_spark.streaming.windows import streaming_interval_join

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_stream_dir)
    views = stream.filter(F.col("event_type") == "view")
    purchases = stream.filter(F.col("event_type") == "purchase")
    joined = streaming_interval_join(
        views, purchases, key="user_id", upper="15 minutes"
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("view_ts"),
        F.col("r.ts").alias("purchase_ts"),
        F.col("r.value").alias("purchase_value"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM ij_out").toPandas()
    finally:
        q.stop()

    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").alias("l")
    p = ev.filter(F.col("event_type") == "purchase").alias("r")
    batch = (
        v.join(
            p,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 15 minutes")),
        )
        .select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.ts").alias("view_ts"),
            F.col("r.ts").alias("purchase_ts"),
            F.col("r.value").alias("purchase_value"),
        )
        .toPandas()
    )
    assert len(batch) > 0, "fixture produced no view->purchase pairs"
    key = ["user_id", "view_ts", "purchase_ts", "purchase_value"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def test_streaming_neardup_gate_equals_batch(spark, sf_dir, tmp_path):
    """The incremental near-dup gate equals its batch contract: stream
    the documents table in two doc_id-ordered micro-batches through
    streaming/dedup_gate.py; the accepted set must equal
    q_neardup_gate's batch keeper set exactly (seen-similar-before
    makes rejection depend only on earlier docs, never on whether those
    docs survived — so chopping the stream into batches cannot change
    the result). Also proves replaying a batch is a no-op (txn gate)."""
    from iceberg_tracking_spark.operators.textdedup import first_wins_keepers
    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.streaming.dedup_gate import make_neardup_gate_fn

    docs = load_table(spark, sf_dir, "documents")
    cutoff = 250
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < cutoff).write.mode("overwrite").parquet(src)

    index = VersionedTable(str(tmp_path / "neardup_index"))
    accepted = VersionedTable(str(tmp_path / "neardup_accepted"))
    gate = make_neardup_gate_fn(index, accepted, app_id="gate-test")

    stream = (
        spark.readStream.schema(docs.schema).parquet(src).writeStream
        .foreachBatch(gate)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    q = stream.start()
    q.awaitTermination(120)
    docs.filter(F.col("doc_id") >= cutoff).write.mode("append").parquet(src)
    q2 = stream.start()
    q2.awaitTermination(120)

    got = {r["doc_id"] for r in accepted.read(spark).select("doc_id").collect()}
    want = {r["doc_id"] for r in first_wins_keepers(docs).collect()}
    assert got == want
    # sanity: the gate genuinely rejected something on this corpus
    n_docs = docs.count()
    assert 0 < len(got) < n_docs, (len(got), n_docs)

    # replaying a committed batch is a no-op for both tables
    v_index, v_acc = index.current_version(), accepted.current_version()
    batch1 = spark.read.parquet(src).filter(F.col("doc_id") >= cutoff)
    gate(batch1, 1)
    assert index.current_version() == v_index
    assert accepted.current_version() == v_acc


def test_merge_aggregate_adds_and_inserts(spark, tmp_path):
    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "agg"))
    t.merge_aggregate(
        spark.createDataFrame(
            [(1, 10.0, 2), (2, 5.0, 1)], "k INT, sum_value DOUBLE, n LONG"
        ),
        ["k"],
        ["sum_value", "n"],
    )
    t.merge_aggregate(
        spark.createDataFrame(
            [(2, 7.0, 3), (3, 1.0, 1)], "k INT, sum_value DOUBLE, n LONG"
        ),
        ["k"],
        ["sum_value", "n"],
    )
    got = {
        r["k"]: (r["sum_value"], r["n"]) for r in t.read(spark).collect()
    }
    assert got == {1: (10.0, 2), 2: (12.0, 4), 3: (1.0, 1)}


def test_incremental_rollup_equals_batch_recompute(spark, sf_dir, tmp_path):
    """The incrementally-maintained table after N micro-batches must
    equal the from-scratch batch aggregate, and a replayed batch id
    must be skipped (additive merges are gated to stay idempotent)."""
    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.streaming.materialized import (
        incremental_rollup,
        last_merged_batch,
    )

    ev = load_table(spark, sf_dir, "events")
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    half1.write.mode("overwrite").parquet(src)

    t = VersionedTable(str(tmp_path / "rollup"))
    ckpt = str(tmp_path / "ckpt")
    q = incremental_rollup(
        spark.readStream.schema(EVENTS_SCHEMA).parquet(src),
        t,
        ["event_type"],
        "value",
        ckpt,
    )
    try:
        q.processAllAvailable()
        half2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["event_type"]: (round(r["sum_value"], 2), r["n_events"])
        for r in t.read(spark).collect()
    }
    want = {
        r["event_type"]: (round(r["s"], 2), r["n"])
        for r in ev.groupBy("event_type")
        .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    assert last_merged_batch(t, ckpt) >= 1
    # Replay guard: redeliver the LAST batch id directly through the
    # foreachBatch callable — it must be a no-op (no new snapshot, no
    # double-counted values). The txn token lives inside the manifest
    # commit itself, so there is no crash window between data and gate.
    from iceberg_tracking_spark.streaming.materialized import make_merge_fn

    v_before = t.current_version()
    make_merge_fn(t, ["event_type"], "value", app_id=ckpt)(
        half2, last_merged_batch(t, ckpt)
    )
    assert t.current_version() == v_before
    after = {
        r["event_type"]: (round(r["sum_value"], 2), r["n_events"])
        for r in t.read(spark).collect()
    }
    assert after == want
    # A DIFFERENT stream identity gates independently: its batch 0 is
    # not blocked by this stream's token.
    assert last_merged_batch(t, "other-checkpoint") == -1


def test_cdc_changes_maintain_rollup_incrementally(spark, tmp_path):
    """CDC → incremental view maintenance: a (group, sum) rollup
    maintained from `VersionedTable.changes()` signed deltas (insert
    +v, delete -v, update_preimage -v / update_postimage +v) must equal
    a full recompute over the new snapshot — the changelog is
    sufficient, the rollup never rescans history."""
    from pyspark.sql import functions as F

    from iceberg_tracking_spark.sources.catalog import VersionedTable

    src = VersionedTable(str(tmp_path / "src"))
    rollup = VersionedTable(str(tmp_path / "rollup"))

    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0)],
        "k long, grp string, val double",
    )
    src.write(v0)
    rollup.write(
        v0.groupBy("grp").agg(F.sum("val").alias("sum_val")), mode="overwrite"
    )

    # v1: insert k=5 (b, +50), delete k=1 (a, -10), update k=2 (a: 20→25)
    v1 = spark.createDataFrame(
        [(2, "a", 25.0), (3, "b", 30.0), (4, "b", 40.0), (5, "b", 50.0)],
        "k long, grp string, val double",
    )
    src.write(v1)

    cdc = src.changes(spark, 0, 1, key_cols=["k"])
    signed = cdc.withColumn(
        "delta",
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.col("val"),
        ).otherwise(-F.col("val")),
    )
    delta = signed.groupBy("grp").agg(F.sum("delta").alias("sum_val"))
    rollup.merge_aggregate(delta, ["grp"], ["sum_val"])

    got = {
        r["grp"]: r["sum_val"]
        for r in rollup.read(spark).collect()
    }
    want = {
        r["grp"]: r["sum_val"]
        for r in v1.groupBy("grp").agg(F.sum("val").alias("sum_val")).collect()
    }
    assert got == want == {"a": 25.0, "b": 120.0}


def test_versioned_table_tags_pin_snapshots(spark, tmp_path):
    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "tagged"))
    t.write(spark.range(0, 10).withColumnRenamed("id", "k"))
    t.tag("baseline")                       # tags current (v0)
    t.write(spark.range(0, 20).withColumnRenamed("id", "k"))
    t.write(spark.range(0, 30).withColumnRenamed("id", "k"))
    assert t.tags() == {"baseline": 0}
    assert t.read_tag(spark, "baseline").count() == 10
    # expire keeps the tagged snapshot but drops the untagged middle one
    expired = t.expire(keep_last=1)
    assert expired == [1]
    assert t.read_tag(spark, "baseline").count() == 10
    assert t.read(spark).count() == 30
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.read_tag(spark, "nope")


def test_streaming_lsh_index_equals_batch_build(spark, sf_dir, tmp_path):
    """Streamed ANN index ≡ batch-built index (r5 verdict task #7):
    maintaining the LSH index with foreachBatch upserts over a growing
    vector source must converge to exactly the relation a one-shot
    `index_rows` build produces — including REPLACED rows (an id
    re-ingested with a fresh embedding supersedes its old index entry)
    — and the bucket search over the maintained table must return the
    same top-k as `lsh_bucket_topk` over the raw corpus. Redelivery of
    a committed batch id is a no-op (txn gate inside the manifest
    swap)."""
    from iceberg_tracking_spark.operators.similarity import lsh_bucket_topk
    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.streaming.ann_index import (
        bucket_topk_from_index,
        index_rows,
        make_index_merge_fn,
        streaming_lsh_index,
    )

    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    part1 = vecs.filter(F.col("vec_id") % 3 == 0)
    part2 = vecs.filter(F.col("vec_id") % 3 != 0)
    src = str(tmp_path / "vec_src")
    part1.write.mode("overwrite").parquet(src)

    t = VersionedTable(str(tmp_path / "ann_index"))
    ckpt = str(tmp_path / "ann_ckpt")
    schema = "vec_id long, e array<double>"
    q = streaming_lsh_index(
        spark.readStream.schema(schema).parquet(src), t, dim=64,
        checkpoint=ckpt,
    )
    try:
        q.processAllAvailable()
        part2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    batch_index = index_rows(vecs, dim=64)

    def as_map(df):
        return {
            r["vec_id"]: (r["sig"], round(r["nrm"], 9), tuple(r["e"]))
            for r in df.collect()
        }

    got = as_map(t.read(spark))
    assert got == as_map(batch_index)

    # query parity: bucket search over the MAINTAINED table equals the
    # inline-signed corpus search
    pred = F.col("vec_id") % 25 == 0
    idx = t.read(spark)
    queries = idx.filter(pred).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
        "sig", F.col("nrm").alias("qnrm"),
    )
    got_topk = {
        (r["qid"], r["nid"], r["sim"])
        for r in bucket_topk_from_index(idx, queries, k=3).collect()
    }
    want_topk = {
        (r["qid"], r["nid"], r["sim"])
        for r in lsh_bucket_topk(vecs, dim=64, k=3, query_pred=pred).collect()
    }
    assert got_topk == want_topk

    # the sig_pfx layout is real: hive partition dirs on disk, and a
    # single-prefix probe plans a PartitionFilter (directory-level
    # pruning — no parquet footer of other prefixes is ever opened)
    import os as _os

    vdir = t._data_dir(t.current_version())
    assert any(d.startswith("sig_pfx=") for d in _os.listdir(vdir))
    pruned_plan = (
        t.read(spark)
        .filter(F.col("sig_pfx") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    flt = [l for l in pruned_plan.splitlines() if "PartitionFilters" in l]
    assert flt and "sig_pfx" in flt[0], pruned_plan[:2000]

    # embedding refresh: re-ingesting an existing id REPLACES its row
    refreshed = vecs.filter(F.col("vec_id") == 0).select(
        "vec_id", F.expr("transform(e, x -> -x)").alias("e")
    )
    merge = make_index_merge_fn(t, dim=64, app_id=ckpt)
    last = t.last_txn(ckpt)
    merge(refreshed, last + 1)
    new_row = t.read(spark).filter(F.col("vec_id") == 0).collect()[0]
    old_row = batch_index.filter(F.col("vec_id") == 0).collect()[0]
    assert tuple(new_row["e"]) == tuple(-x for x in old_row["e"])
    assert t.read(spark).count() == vecs.count()  # replaced, not added
    # redelivery of the committed batch id: no-op, no new snapshot
    v_before = t.current_version()
    merge(refreshed, last + 1)
    assert t.current_version() == v_before


def test_streaming_drift_monitor_equals_batch_psi(spark, sf_dir, tmp_path):
    """The incrementally-maintained drift histogram equals the batch
    q_psi relation exactly: freeze decile edges from the reference
    half (even event_ids), stream the current half (odd event_ids) in
    TWO micro-batches through streaming/drift.py, and the maintained
    (bin, n_cur) table + psi_from_counts must reproduce q_psi's
    (bin, n_ref, n_cur, psi_contrib) rows bit-for-bit — binning and
    PSI arithmetic are shared code (operators/binning.py), so chopping
    the stream into batches cannot move a row across a boundary tie.
    Also proves a replayed batch is a no-op (txn gate)."""
    from iceberg_tracking_spark.operators.binning import (
        bin_counts_by_edges,
        reference_edges,
    )
    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.streaming.drift import (
        make_drift_merge_fn,
        psi_from_counts,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    ref = ev.filter(F.col("event_id") % 2 == 0)
    cur = ev.filter(F.col("event_id") % 2 == 1)
    edges = reference_edges(ref, "cents", "event_id", n_bins=10)
    ref_counts = bin_counts_by_edges(ref, edges, "cents", "event_id", "n_ref")

    # stream the current half in two availableNow passes
    src = str(tmp_path / "src")
    mid = 5000
    cur.filter(F.col("event_id") < mid).write.mode("overwrite").parquet(src)
    table = VersionedTable(str(tmp_path / "drift_counts"))
    merge = make_drift_merge_fn(
        table, edges, app_id="drift-test", value_col="cents", key_col="event_id"
    )
    stream = (
        spark.readStream.schema(cur.schema).parquet(src).writeStream
        .foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    q = stream.start()
    q.awaitTermination(120)
    cur.filter(F.col("event_id") >= mid).write.mode("append").parquet(src)
    q2 = stream.start()
    q2.awaitTermination(120)

    # maintained histogram == batch histogram
    got_counts = {
        r["bin"]: r["n_cur"] for r in table.read(spark).collect()
    }
    want_counts = {
        r["bin"]: r["n_cur"]
        for r in bin_counts_by_edges(
            cur, edges, "cents", "event_id", "n_cur"
        ).collect()
    }
    assert got_counts == want_counts and sum(got_counts.values()) == cur.count()

    # PSI from the maintained table == the batch q_psi query
    got_psi = {
        r["bin"]: (r["n_ref"], r["n_cur"], r["psi_contrib"])
        for r in psi_from_counts(ref_counts, table.read(spark)).collect()
    }
    want_psi = {
        r["bin"]: (r["n_ref"], r["n_cur"], r["psi_contrib"])
        for r in QUERIES["q_psi"].fn(spark, sf_dir).collect()
    }
    assert got_psi == want_psi

    # replaying a committed batch id is a no-op
    v = table.current_version()
    merge(spark.read.parquet(src), 0)
    assert table.current_version() == v


def test_streaming_als_factors_equal_batch(spark, sf_dir, tmp_path):
    """The incrementally-maintained ALS factor store equals the batch
    q_als_step EXACTLY: stream the interaction fact in two
    availableNow passes through streaming/als.py, then solve over the
    maintained Gram-sum table — every user's (n_items, p1, p2, p3)
    must be bit-identical to the one-shot batch query (the sufficient
    statistics are additive exact integers, so chopping the stream
    cannot move a single ulp). Also proves a replayed batch is a
    no-op (txn gate)."""
    from iceberg_tracking_spark.operators.als import (
        item_factor_grid,
        solve_factors,
    )
    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.streaming.als import make_als_merge_fn

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", F.col("l_quantity").cast("long").alias("r")
    )
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    inter = li.join(od, li.l_orderkey == od.o_orderkey).select(
        "o_custkey", "l_partkey", "r"
    )
    fac_path = str(tmp_path / "factors")
    item_factor_grid(load_table(spark, sf_dir, "part")).write.parquet(fac_path)
    factors = spark.read.parquet(fac_path)

    src = str(tmp_path / "src")
    first = inter.filter(F.col("l_partkey") % 2 == 0)
    second = inter.filter(F.col("l_partkey") % 2 == 1)
    first.write.mode("overwrite").parquet(src)
    table = VersionedTable(str(tmp_path / "gram_sums"))
    merge = make_als_merge_fn(table, factors, app_id="als-test")
    stream = (
        spark.readStream.schema(inter.schema).parquet(src).writeStream
        .foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    q = stream.start()
    q.awaitTermination(120)
    second.write.mode("append").parquet(src)
    q2 = stream.start()
    q2.awaitTermination(120)

    got = {
        r["o_custkey"]: (r["n_items"], r["p1"], r["p2"], r["p3"])
        for r in solve_factors(table.read(spark)).collect()
    }
    want = {
        r["o_custkey"]: (r["n_items"], r["p1"], r["p2"], r["p3"])
        for r in QUERIES["q_als_step"].fn(spark, sf_dir).collect()
    }
    assert got == want  # bit-identical, not approximately equal

    # replaying a committed batch id is a no-op
    v = table.current_version()
    merge(spark.read.parquet(src), 0)
    assert table.current_version() == v


def test_streaming_msprt_equals_batch(spark, sf_dir, tmp_path):
    """The incrementally-maintained mSPRT moment table equals the
    batch q_msprt EXACTLY: stream the event fact in two availableNow
    passes through streaming/msprt.py, then run the shared
    msprt_from_daily over the maintained table — every day's
    (n_a, n_b, mean_diff_cents, lam, p_always_valid) must be
    bit-identical to the one-shot batch query (per-day moments are
    additive exact integers, so chopping the stream cannot move a
    single ulp — including a split that lands both halves on the SAME
    days, exercising the old+delta merge path, not just inserts).
    Also proves a replayed batch is a no-op (txn gate)."""
    from iceberg_tracking_spark.operators.msprt import msprt_from_daily
    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.streaming.msprt import make_msprt_merge_fn

    events = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "value"
    )
    src = str(tmp_path / "src")
    # user_id split: both variants AND every day appear in both halves
    events.filter(F.col("user_id") % 3 == 0).write.mode("overwrite").parquet(src)
    table = VersionedTable(str(tmp_path / "msprt_moments"))
    merge = make_msprt_merge_fn(table, app_id="msprt-test")
    stream = (
        spark.readStream.schema(events.schema).parquet(src).writeStream
        .foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    q = stream.start()
    q.awaitTermination(120)
    events.filter(F.col("user_id") % 3 != 0).write.mode("append").parquet(src)
    q2 = stream.start()
    q2.awaitTermination(120)

    key = lambda r: r["day_num"]  # noqa: E731
    val = lambda r: (  # noqa: E731
        r["n_a"], r["n_b"], r["mean_diff_cents"], r["lam"],
        r["p_always_valid"],
    )
    got = {key(r): val(r) for r in msprt_from_daily(table.read(spark)).collect()}
    want = {key(r): val(r) for r in QUERIES["q_msprt"].fn(spark, sf_dir).collect()}
    assert got == want  # bit-identical, not approximately equal
    assert len(got) > 5  # the fixture spans a month of days

    # replaying a committed batch id is a no-op
    v = table.current_version()
    merge(spark.read.parquet(src), 0)
    assert table.current_version() == v


def test_streaming_mann_whitney_equals_batch(spark, sf_dir, tmp_path):
    """The incrementally-maintained Mann-Whitney grid equals the batch
    q_mann_whitney EXACTLY — and it rides the GENERIC additive-fold
    factory (make_aggregate_merge_fn), proving any f(aggregate(stream))
    with an additive aggregate becomes streaming-maintained by passing
    its aggregate stage: stream the event fact in two availableNow
    passes folding mw_grid deltas, then run the shared mw_from_grid
    over the maintained table — every segment's (n_a, n_b, u_a, z, p)
    must be bit-identical to the one-shot batch query (grid counts are
    additive integers; the split lands both halves on the same
    (segment, cents) keys, exercising old+delta merges). Replay is a
    no-op (txn gate)."""
    from iceberg_tracking_spark.operators.stats import (
        MW_GRID_COLS,
        mw_from_grid,
        mw_grid,
    )
    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.streaming.materialized import (
        make_aggregate_merge_fn,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    src = str(tmp_path / "src")
    events.filter(F.col("user_id") % 3 == 0).write.mode("overwrite").parquet(src)
    table = VersionedTable(str(tmp_path / "mw_grid"))
    merge = make_aggregate_merge_fn(
        table, mw_grid, ["event_type", "cents"], MW_GRID_COLS,
        app_id="mw-test",
    )
    stream = (
        spark.readStream.schema(events.schema).parquet(src).writeStream
        .foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    q = stream.start()
    q.awaitTermination(120)
    events.filter(F.col("user_id") % 3 != 0).write.mode("append").parquet(src)
    q2 = stream.start()
    q2.awaitTermination(120)

    val = lambda r: (  # noqa: E731
        r["n_a"], r["n_b"], r["u_a"], r["z_score"], r["p_value"],
    )
    got = {
        r["event_type"]: val(r)
        for r in mw_from_grid(table.read(spark)).collect()
    }
    want = {
        r["event_type"]: val(r)
        for r in QUERIES["q_mann_whitney"].fn(spark, sf_dir).collect()
    }
    assert got == want  # bit-identical, not approximately equal
    assert len(got) == 5

    # replaying a committed batch id is a no-op
    v = table.current_version()
    merge(spark.read.parquet(src), 0)
    assert table.current_version() == v


def test_streaming_kruskal_wallis_equals_batch(spark, sf_dir, tmp_path):
    """The incrementally-maintained Kruskal-Wallis grid equals the
    batch q_kruskal_wallis EXACTLY — the second consumer of the generic
    additive-fold factory after Mann-Whitney (same grid shape, three
    group-count columns instead of two): stream the event fact in two
    availableNow passes folding kw3_grid deltas, then run the shared
    kw3_from_grid over the maintained table. The user_id % 3 split puts
    both halves on the same (segment, cents) keys, exercising old+delta
    merges. Replay is a no-op (txn gate)."""
    from iceberg_tracking_spark.operators.stats import (
        KW_GRID_COLS,
        kw3_from_grid,
        kw3_grid,
    )
    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.streaming.materialized import (
        make_aggregate_merge_fn,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    src = str(tmp_path / "src")
    # split on event_id parity proxy (user_id % 2) — ORTHOGONAL to the
    # % 3 grouping, so every group appears in both halves
    events.filter(F.col("user_id") % 2 == 0).write.mode("overwrite").parquet(src)
    table = VersionedTable(str(tmp_path / "kw_grid"))
    merge = make_aggregate_merge_fn(
        table, kw3_grid, ["event_type", "cents"], KW_GRID_COLS,
        app_id="kw-test",
    )
    stream = (
        spark.readStream.schema(events.schema).parquet(src).writeStream
        .foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    q = stream.start()
    q.awaitTermination(120)
    events.filter(F.col("user_id") % 2 != 0).write.mode("append").parquet(src)
    q2 = stream.start()
    q2.awaitTermination(120)

    val = lambda r: (  # noqa: E731
        r["n0"], r["n1"], r["n2"], r["h_stat"], r["p_value"],
    )
    got = {
        r["event_type"]: val(r)
        for r in kw3_from_grid(table.read(spark)).collect()
    }
    want = {
        r["event_type"]: val(r)
        for r in QUERIES["q_kruskal_wallis"].fn(spark, sf_dir).collect()
    }
    assert got == want  # bit-identical, not approximately equal
    assert len(got) == 5

    # replaying a committed batch id is a no-op
    v = table.current_version()
    merge(spark.read.parquet(src), 0)
    assert table.current_version() == v


def test_streaming_spearman_equals_batch(spark, sf_dir, tmp_path):
    """The incrementally-maintained Spearman cell grid equals the batch
    q_spearman EXACTLY — third consumer of the generic additive-fold
    factory (after the MW and KW grids; this one is a two-variable
    cell relation, proving the factory is not rank-test-specific).
    Split on l_orderkey parity so every (seg, x, yc) cell appears in
    both halves, exercising old+delta merges. Replay is a no-op."""
    from iceberg_tracking_spark.operators.stats import (
        SPEARMAN_CELL_COLS,
        spearman_cells,
        spearman_from_cells,
    )
    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.streaming.materialized import (
        make_aggregate_merge_fn,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    src = str(tmp_path / "src")
    li.filter(F.col("l_orderkey") % 2 == 0).write.mode("overwrite").parquet(src)
    table = VersionedTable(str(tmp_path / "sp_cells"))
    merge = make_aggregate_merge_fn(
        table, spearman_cells, ["seg", "x", "yc"], SPEARMAN_CELL_COLS,
        app_id="sp-test",
    )
    stream = (
        spark.readStream.schema(li.schema).parquet(src).writeStream
        .foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    q = stream.start()
    q.awaitTermination(120)
    li.filter(F.col("l_orderkey") % 2 != 0).write.mode("append").parquet(src)
    q2 = stream.start()
    q2.awaitTermination(120)

    got = {
        r["seg"]: (r["n"], r["rho"])
        for r in spearman_from_cells(table.read(spark)).collect()
    }
    want = {
        r["returnflag"]: (r["n"], r["rho"])
        for r in QUERIES["q_spearman"].fn(spark, sf_dir).collect()
    }
    assert got == want  # bit-identical, not approximately equal
    assert len(got) == 3

    v = table.current_version()
    merge(spark.read.parquet(src), 0)
    assert table.current_version() == v


def test_streaming_kendall_equals_batch(spark, sf_dir, tmp_path):
    """The incrementally-maintained Kendall cell grid equals the batch
    q_kendall_tau EXACTLY — fourth consumer of the generic
    additive-fold factory (after MW, KW and Spearman; the pairwise
    C−D statistic is recomputed from the maintained cells, so the
    expensive fan never touches raw rows in either mode). Split on
    l_orderkey parity so cells appear in both halves, exercising
    old+delta merges. Replay is a no-op."""
    from iceberg_tracking_spark.operators.stats import (
        KENDALL_CELL_COLS,
        kendall_cells,
        kendall_from_cells,
    )
    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.streaming.materialized import (
        make_aggregate_merge_fn,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    src = str(tmp_path / "src")
    li.filter(F.col("l_orderkey") % 2 == 0).write.mode("overwrite").parquet(src)
    table = VersionedTable(str(tmp_path / "kt_cells"))
    merge = make_aggregate_merge_fn(
        table, kendall_cells, ["seg", "x", "yb"], KENDALL_CELL_COLS,
        app_id="kt-test",
    )
    stream = (
        spark.readStream.schema(li.schema).parquet(src).writeStream
        .foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    q = stream.start()
    q.awaitTermination(120)
    li.filter(F.col("l_orderkey") % 2 != 0).write.mode("append").parquet(src)
    q2 = stream.start()
    q2.awaitTermination(120)

    got = {
        r["seg"]: (r["n"], r["concordant"], r["discordant"], r["tau_b"])
        for r in kendall_from_cells(table.read(spark)).collect()
    }
    want = {
        r["returnflag"]: (
            r["n"], r["concordant"], r["discordant"], r["tau_b"]
        )
        for r in QUERIES["q_kendall_tau"].fn(spark, sf_dir).collect()
    }
    assert got == want  # bit-identical, not approximately equal
    assert len(got) == 3

    v = table.current_version()
    merge(spark.read.parquet(src), 0)
    assert table.current_version() == v


def test_streaming_tracker_throughput_and_state_bounded(spark):
    """The STREAMING tracker's 100× story, MEASURED (r9 verdict task
    #6 — the batch twin lives at test_scale_patterns.py:
    test_tracker_throughput_scales_across_sequences): sequences ride
    separate state-store partitions, so 4× more sequences on a
    32-core host must raise TOTAL throughput (tracks/sec) well clear
    of serial-flat. Also pins the state-size growth law: serialized
    per-sequence state is O(active tracks) — 6+36 doubles per track —
    and INDEPENDENT of frames processed (history rows are emitted,
    never retained: the tracker holds only its stacked per-track
    arrays), so state never grows with stream length."""
    import time

    import numpy as np

    from iceberg_tracking_spark.streaming.tracker import _tracker_to_state
    from iceberg_tracking_spark.tracker.batch import SequenceTracker

    # --- state-size pin: run one tracker 10x longer; state is flat
    def state_len(n_frames: int, n_obj: int = 10) -> tuple[int, int]:
        tr = SequenceTracker(TrackerConfig(min_track_length=1))
        for f in range(n_frames):
            dets = np.array(
                [
                    [o * 120.0 + f * 1.5, o * 80.0 + f * 1.0, 20.0, 30.0]
                    for o in range(n_obj)
                ]
            )
            tr.step(
                f"{f:06d}", dets, np.arange(n_obj) + 1000,
                np.full(n_obj, 0.9),
            )
        s = _tracker_to_state(tr)
        return len(s[1]), len(s[4]) + len(s[5])
    tracks_20, doubles_20 = state_len(20)
    tracks_200, doubles_200 = state_len(200)
    assert tracks_20 == tracks_200 == 10
    assert doubles_20 == doubles_200 == 10 * (6 + 36)

    # --- throughput scale-up across sequences through the REAL
    # streaming path (applyInPandasWithState + state store)
    n_frames, n_obj = 100, 10

    def dets_pdf(n_seq: int) -> pd.DataFrame:
        rows = []
        for s in range(n_seq):
            for f in range(n_frames):
                for o in range(n_obj):
                    rows.append(
                        (
                            f"seq{s:04d}", f"{f:06d}", o + 1000,
                            o * 120.0 + f * 1.5, o * 80.0 + f * 1.0,
                            20.0, 30.0, 0.9,
                        )
                    )
        return pd.DataFrame(
            rows,
            columns=[
                "sequence", "frame", "obj_id", "bb_left", "bb_top",
                "bb_width", "bb_height", "conf",
            ],
        )

    def run(n_seq: int) -> tuple[float, int]:
        stream_dir = tempfile.mkdtemp(prefix="det_thr_stream_")
        ckpt = tempfile.mkdtemp(prefix="det_thr_ckpt_")
        try:
            spark.createDataFrame(dets_pdf(n_seq), DET_SCHEMA).repartition(
                8
            ).write.mode("append").parquet(stream_dir)
            stream = spark.readStream.schema(DET_SCHEMA).parquet(stream_dir)
            out = streaming_track(stream, TrackerConfig(min_track_length=1))
            name = f"thr_out_{n_seq}"
            q = (
                out.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                t0 = time.time()
                q.processAllAvailable()
                dt = time.time() - t0
                n = spark.sql(f"SELECT count(*) c FROM {name}").first()["c"]
            finally:
                q.stop()
            return dt, int(n)
        finally:
            shutil.rmtree(stream_dir, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)

    # state-store partition count is fixed at query start from
    # shuffle.partitions; widen from the conftest's small-data 8 so
    # 16 sequences can actually spread (the batch twin's rationale)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        run(2)  # warm-up: state store + Arrow worker spin-up off the clock
        t_small, rows_small = run(4)
        t_big, rows_big = run(16)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    assert rows_small == 4 * n_frames * n_obj
    assert rows_big == 16 * n_frames * n_obj
    thr_small = rows_small / t_small
    thr_big = rows_big / t_big
    print(
        f"\nstreaming tracker throughput: 4 seqs {thr_small:,.0f} tracks/s "
        f"({t_small:.2f}s), 16 seqs {thr_big:,.0f} tracks/s "
        f"({t_big:.2f}s), scale-up {thr_big / thr_small:.2f}x; "
        f"state {doubles_200} doubles @ 200 frames == {doubles_20} @ 20"
    )
    # parallel across sequences: 4x the work must lift throughput well
    # clear of serial-flat (1.0x); 1.3x leaves room for co-tenant noise
    assert thr_big > 1.3 * thr_small, (
        f"streaming tracker throughput flat: {thr_small:.0f} -> "
        f"{thr_big:.0f} tracks/s"
    )


def test_streaming_mann_kendall_equals_batch(spark, sf_dir, tmp_path):
    """The incrementally-maintained MK cell grid equals the batch
    q_mann_kendall EXACTLY — fifth consumer of the generic
    additive-fold factory (after MW, KW, Spearman, Kendall; the trend
    statistic, its two-margin tie-corrected variance, z and p are all
    recomputed from the maintained cells, so the pairwise fan never
    touches raw rows in either mode). Split on user_id parity so
    cells appear in both halves, exercising old+delta merges. Replay
    is a no-op."""
    from iceberg_tracking_spark.operators.stats import (
        MK_CELL_COLS,
        mann_kendall_from_cells,
        mk_cells,
    )
    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.streaming.materialized import (
        make_aggregate_merge_fn,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    src = str(tmp_path / "src")
    ev.filter(F.col("user_id") % 2 == 0).write.mode("overwrite").parquet(src)
    table = VersionedTable(str(tmp_path / "mk_cells"))
    merge = make_aggregate_merge_fn(
        table, mk_cells, ["seg", "x", "y"], MK_CELL_COLS,
        app_id="mk-test",
    )
    stream = (
        spark.readStream.schema(ev.schema).parquet(src).writeStream
        .foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    q = stream.start()
    q.awaitTermination(120)
    ev.filter(F.col("user_id") % 2 != 0).write.mode("append").parquet(src)
    q2 = stream.start()
    q2.awaitTermination(120)

    got = {
        r["seg"]: (r["n"], r["s_stat"], r["z"], r["p_value"], r["trend"])
        for r in mann_kendall_from_cells(table.read(spark)).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["s_stat"], r["z"], r["p_value"], r["trend"])
        for r in QUERIES["q_mann_kendall"].fn(spark, sf_dir).collect()
    }
    assert got == want  # bit-identical, not approximately equal
    assert len(got) == 5

    v = table.current_version()
    merge(spark.read.parquet(src), 0)
    assert table.current_version() == v


def test_streaming_media_catalog_equals_batch(spark, tmp_path):
    """Ingest-time catalog maintenance (r11 verdict task #6): stream
    the catalog fixture's file-arrival notifications in two
    micro-batches through streaming/media_catalog.py; the maintained
    VersionedTable must equal q_media_catalog's batch result
    row-for-row (each file's catalog row depends only on its own
    bytes, so batch chopping cannot change anything). Also proves a
    redelivered batch is a txn-gated no-op."""
    from iceberg_tracking_spark.plans.queries_ml import q_media_catalog
    from iceberg_tracking_spark.sources.binary import (
        ensure_catalog_fixture,
        list_files,
    )
    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.streaming.media_catalog import (
        make_media_catalog_fn,
    )

    listing = list_files(spark, ensure_catalog_fixture())
    n_files = listing.count()
    cut = n_files // 2
    first = listing.orderBy("path").limit(cut)
    src = str(tmp_path / "arrivals")
    first.write.mode("overwrite").parquet(src)

    catalog = VersionedTable(str(tmp_path / "media_catalog"))
    ingest = make_media_catalog_fn(catalog, app_id="cat-test")
    stream = (
        spark.readStream.schema("path string, file_size long")
        .parquet(src).writeStream
        .foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    q = stream.start()
    q.awaitTermination(120)
    listing.orderBy("path").subtract(first).write.mode("append").parquet(src)
    q2 = stream.start()
    q2.awaitTermination(120)

    cols = [
        "media_id", "n_bytes", "format", "codec", "width", "height",
        "has_alpha", "is_animated", "decodable",
    ]
    got = {tuple(r) for r in catalog.read(spark).select(*cols).collect()}
    want = {
        tuple(r)
        for r in q_media_catalog(spark, "unused-sf-dir").select(*cols).collect()
    }
    assert got == want and len(got) == n_files

    # replaying a committed batch is a no-op
    v = catalog.current_version()
    ingest(spark.read.parquet(src), 1)
    assert catalog.current_version() == v
