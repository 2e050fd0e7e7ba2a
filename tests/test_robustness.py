"""Edge-input robustness: empty relations, in-batch disorder, and the
calibration→tracker feed-through.

Empty inputs are the normal state of a 100 TB pipeline's first and last
partitions (a new sequence, a filtered-out day); every algorithmic core
must return an empty, correctly-typed result rather than crash inside
an Arrow batch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from iceberg_tracking_spark.operators.joins import asof_join
from iceberg_tracking_spark.operators.nms import greedy_assignment, nms
from iceberg_tracking_spark.plans.eval_metrics import clear_identity_metrics
from iceberg_tracking_spark.tracker.batch import TrackerConfig, track_sequences

from .test_tracker import make_sequence

DET_DDL = (
    "sequence string, frame string, obj_id int, bb_left double, bb_top double, "
    "bb_width double, bb_height double, conf double"
)


def test_nms_empty_input(spark):
    empty = spark.createDataFrame([], DET_DDL)
    out = nms(empty, iou_threshold=0.5)
    assert out.count() == 0
    assert "obj_id" in out.columns


def test_tracker_empty_input(spark):
    empty = spark.createDataFrame([], DET_DDL)
    out = track_sequences(empty, TrackerConfig())
    assert out.count() == 0
    assert "track_id" in out.columns


def test_greedy_assignment_empty_input(spark):
    empty = spark.createDataFrame(
        [], "sequence string, frame string, gt_id int, det_id int, score double"
    )
    out = greedy_assignment(
        empty, "gt_id", "det_id", "score", group_cols=("sequence", "frame")
    )
    assert out.count() == 0


def test_eval_metrics_no_matches(spark):
    # GT and tracks on disjoint frames: everything is FN/FP, no crash,
    # ratios well-defined where defined.
    gt = spark.createDataFrame(
        [("s0", 1, 1, 0.0, 0.0, 10.0, 10.0)],
        "sequence string, frame long, gt_id int, l double, t double, w double, h double",
    )
    tr = spark.createDataFrame(
        [("s0", 99, 7, 500.0, 500.0, 10.0, 10.0)],
        "sequence string, frame long, track_id int, l double, t double, w double, h double",
    )
    row = clear_identity_metrics(gt, tr).collect()[0]
    assert row["tp"] == 0 and row["fn"] == 1 and row["fp"] == 1
    assert row["idtp"] == 0 and row["mt"] == 0 and row["ml"] == 1


def test_eval_metrics_null_keys_and_one_sided_sequences(spark):
    """Pinned rows for NULL `sequence`, NULL `gt_id`, a gt-only and a
    tracks-only sequence. n_gt comes from the per-GT frame totals; a
    NULL-sequence GT never matches and still reports mt = pt = ml = 0,
    on its own row apart from the NULL-sequence tracks (NULL keys do not
    join)."""
    gt_ddl = "sequence string, frame long, gt_id int, l double, t double, w double, h double"
    tr_ddl = "sequence string, frame long, track_id int, l double, t double, w double, h double"
    box, far, mid = (0.0, 0.0, 10.0, 10.0), (500.0, 500.0, 10.0, 10.0), (100.0, 100.0, 10.0, 10.0)
    gt = spark.createDataFrame(
        [("a", f, 1, *box) for f in range(1, 6)]
        + [("a", f, 2, *far) for f in range(1, 6)]
        + [("a", f, None, *mid) for f in (1, 2)]
        + [("g", f, 3, *box) for f in (1, 2)]
        + [(None, f, 5, *box) for f in (1, 2)],
        gt_ddl,
    )
    tr = spark.createDataFrame(
        [("a", f, 10, *box) for f in range(1, 6)]
        + [("a", 1, 11, *far)]
        + [("a", f, 12, *mid) for f in (1, 2)]
        + [("t", 1, 20, *box), (None, 1, 21, *box)],
        tr_ddl,
    )
    out = clear_identity_metrics(gt, tr)
    assert out.columns == [
        "sequence", "n_gt", "n_det", "tp", "fn", "fp", "clr_re", "clr_pr", "loca",
        "idsw", "frag", "mt", "pt", "ml", "idtp", "idf1",
    ]
    got = sorted((tuple(r) for r in out.collect()), key=repr)
    assert got == [
        ("a", 12, 8, 6, 6, 2, 0.5, 0.75, 1.0, 0, 0, 1, 1, 1, 6, 0.6),
        ("g", 2, None, 0, 2, None, 0.0, None, None, 0, 0, 0, 0, 1, 0, None),
        ("t", None, 1, 0, None, 1, None, 0.0, None, 0, 0, 0, 0, 0, 0, None),
        (None, 2, None, 0, 2, None, 0.0, None, None, 0, 0, 0, 0, 0, 0, None),
        (None, None, 1, 0, None, 1, None, 0.0, None, 0, 0, 0, 0, 0, 0, None),
    ]


def test_asof_join_no_prior_rows(spark):
    # Every left row precedes every right row → inner as-of drops all.
    left = spark.createDataFrame([(1, 5)], "k long, t long")
    right = spark.createDataFrame([(1, 10, "x")], "k long, rt long, v string")
    out = asof_join(
        left, right, key="k", left_time="t", right_time="rt", right_cols=["v"]
    )
    assert out.count() == 0


def test_tracker_handles_shuffled_input_rows(spark):
    """Row order within the detections DataFrame must not matter: the
    tracker sorts frames internally (frame-ordered loop), so a shuffled
    input yields the identical track set."""
    pdf = make_sequence("s0", n_frames=25)
    ordered = spark.createDataFrame(pdf)
    shuffled = spark.createDataFrame(
        pdf.sample(frac=1.0, random_state=13).reset_index(drop=True)
    )
    a = (
        track_sequences(ordered, TrackerConfig()).orderBy("frame", "track_id")
        .toPandas()
    )
    b = (
        track_sequences(shuffled, TrackerConfig()).orderBy("frame", "track_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b)


def test_calibration_feeds_tracker_config(spark, sf_dir):
    """M10 feed-through (reference tracking.py:610-613): the calibration
    query's thresholds parameterize the tracker and produce a working
    run — the distance threshold is the observed max GT step, so every
    true continuation is within the search radius."""
    from iceberg_tracking_spark.plans.registry import QUERIES

    cal = QUERIES["q_calibration"].fn(spark, sf_dir).collect()[0]
    assert cal["distance_threshold"] > 0
    assert 0.0 <= cal["size_threshold"] <= 1.0
    cfg = TrackerConfig(
        distance_threshold=float(cal["distance_threshold"]),
        size_threshold=max(0.05, float(cal["size_threshold"]) * 0.5),
    )
    det = spark.createDataFrame(make_sequence("s0", n_frames=20))
    tracks = track_sequences(det, cfg)
    assert tracks.select(F.countDistinct("track_id")).first()[0] == 3


def test_asof_join_nullable_right_column_no_row_mixing(spark):
    """A NULL in one right column must not stitch attributes from two
    different right rows (the whole right row is carried as one struct)."""
    left = spark.createDataFrame([(1, 3)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 1, 1, 7.0), (1, 2, 2, None)],
        "k long, rt long, rid long, price double",
    )
    out = asof_join(
        left, right, key="k", left_time="t", right_time="rt",
        right_cols=["rid", "price"],
    ).collect()
    assert len(out) == 1
    # The as-of row is (rid=2, price=NULL) — NOT rid=2 with price=7.0
    # leaked from the older row.
    assert out[0]["rid"] == 2
    assert out[0]["price"] is None


def test_asof_join_rejects_column_collision(spark):
    import pytest

    left = spark.createDataFrame([(1, 3, 9.0)], "k long, t long, price double")
    right = spark.createDataFrame([(1, 1, 7.0)], "k long, rt long, price double")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, key="k", left_time="t", right_time="rt",
                  right_cols=["price"])


def test_tracker_orders_unpadded_numeric_frames(spark):
    """Frames '2' and '10' (unpadded) must process numerically: an
    object moving at constant velocity keeps ONE track id — a
    lexicographic frame order would scramble the timeline and split it."""
    rows = []
    for f in range(1, 15):  # frames '1'..'14', unpadded
        rows.append(("s", str(f), f, 100.0 + 8.0 * f, 50.0 + 3.0 * f, 30.0, 30.0, 0.9))
    det = spark.createDataFrame(
        rows,
        "sequence string, frame string, obj_id int, bb_left double, "
        "bb_top double, bb_width double, bb_height double, conf double",
    )
    out = track_sequences(det, TrackerConfig()).toPandas()
    assert out["track_id"].nunique() == 1
    assert len(out) == 14


def test_catalog_upsert_after_rollback_keeps_layout(spark, tmp_path):
    import glob

    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt_rb"))
    df0 = spark.createDataFrame([("a", 1, 1.0), ("b", 2, 2.0)], "seq string, k long, v double")
    t.write(df0, partition_by=["seq"])  # v0 partitioned
    t.write(df0)                        # v1 unpartitioned
    t.rollback(0)
    t.upsert(spark.createDataFrame([("a", 1, 9.0)], "seq string, k long, v double"),
             key_cols=["k"])
    v = t.current_version()
    # The new snapshot inherits v0's (current's) partitioning, not v1's.
    assert glob.glob(f"{t.base}/v={v}/seq=*"), "partition layout lost after rollback+upsert"
    assert {r["v"] for r in t.read(spark).filter("k = 1").collect()} == {9.0}


def test_partitioned_compaction_splits_large_partitions(spark, tmp_path):
    import glob

    from iceberg_tracking_spark.sources.sinks import compact_parquet_table

    path = str(tmp_path / "frag_part")
    df = spark.range(0, 40_000).selectExpr(
        "CAST(id % 2 AS STRING) AS seq", "id AS k", "CAST(id AS DOUBLE) AS v"
    )
    df.repartition(12).write.partitionBy("seq").mode("overwrite").parquet(path)
    # Tiny target size forces multiple output files per partition dir.
    compact_parquet_table(
        spark, path, target_file_bytes=64 * 1024, partition_cols=["seq"]
    )
    for part in ("seq=0", "seq=1"):
        n = len(glob.glob(f"{path}/{part}/*.parquet"))
        assert n > 1, f"{part} compacted to a single file"
    assert spark.read.parquet(path).count() == 40_000


def test_upsert_rejects_null_and_duplicate_keys(spark, tmp_path):
    import pytest

    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt_guard"))
    t.write(spark.createDataFrame([(1, "a")], "k long, v string"))
    with pytest.raises(ValueError, match="duplicate-key"):
        t.upsert(
            spark.createDataFrame([(2, "x"), (2, "y")], "k long, v string"),
            key_cols=["k"],
        )
    with pytest.raises(ValueError, match="NULL-key"):
        t.upsert(
            spark.createDataFrame([(None, "x")], "k long, v string"),
            key_cols=["k"],
        )
    # Table unchanged after rejected merges.
    assert t.read(spark).count() == 1


def test_frame_order_mixed_padding():
    from iceberg_tracking_spark.tracker.batch import frame_order

    assert frame_order(["100", "000010", "2", "img_b", "img_a"]) == [
        "2", "000010", "100", "img_a", "img_b",
    ]


def test_frame_order_total_order_mixed_spellings():
    from iceberg_tracking_spark.tracker.batch import frame_order

    # '2' and '002' are the same instant numerically but must keep a
    # STABLE relative order (tie-break on spelling), or set-iteration
    # order would leak into the tracker timeline.
    assert frame_order(["002", "2", "10"]) == ["002", "2", "10"]
    assert frame_order(["2", "002", "10"]) == ["002", "2", "10"]


def test_flat_to_partitioned_compaction_not_oversplit(spark, tmp_path):
    import glob

    from iceberg_tracking_spark.sources.sinks import compact_parquet_table

    # Table currently flat on disk; compact WITH partition_cols must not
    # explode into (values x n_files) shards.
    path = str(tmp_path / "flat")
    spark.range(0, 20_000).selectExpr(
        "CAST(id % 3 AS STRING) AS seq", "id AS k"
    ).repartition(8).write.mode("overwrite").parquet(path)
    compact_parquet_table(
        spark, path, target_file_bytes=1024 * 1024, partition_cols=["seq"]
    )
    files = glob.glob(f"{path}/seq=*/*.parquet")
    assert 3 <= len(files) <= 6, files
    assert spark.read.parquet(path).count() == 20_000


def test_tokenizer_unicode_parity_with_oracle(spark):
    """The Spark tokenizer and the oracle's _DUCK_TOKS fragment must
    agree beyond ASCII — the synthetic corpus is ASCII-only, so the
    driver gate never exercises NBSP/CJK/emoji/case-folding edges."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from iceberg_tracking_spark.plans.queries_llm import _DUCK_TOKS, _spark_tokens

    texts = [
        "hello\xa0world nbsp",            # non-breaking space: NOT \s
        "tab\tand\nnewline split",
        "emoji 🙂 and cjk 中文 mixed",
        "Ünïcödé ACCENTS Größe",          # case folding incl. ß
        "  leading trailing  ",
        "multi   space",
        "",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf).withColumn(
        "toks", _spark_tokens(F.col("text"))
    )
    spark_toks = {
        r["doc_id"]: list(r["toks"])
        for r in sdf.select("doc_id", "toks").collect()
    }
    con = duckdb.connect()
    con.register("documents", pdf)
    duck_toks = {
        int(r[0]): list(r[1])
        for r in con.execute(
            f"SELECT doc_id, {_DUCK_TOKS} FROM documents"
        ).fetchall()
    }
    con.close()
    assert spark_toks == duck_toks


def test_salted_join_parity_under_extreme_skew(spark):
    """salted_join must return exactly the plain-join rows (incl. left
    semantics for unmatched probes) when 95% of probe rows share one
    key — the hot-key layout it exists for."""
    from pyspark.sql import functions as F

    from iceberg_tracking_spark.operators.joins import salted_join

    probe = spark.range(2000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 20 != 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 7).cast("string")))
        .alias("k"),
    )
    build = spark.createDataFrame(
        [("hot", 1.0), ("k0", 2.0), ("k3", 3.0)], ["k", "w"]
    )
    for how in ("inner", "left"):
        got = salted_join(probe, build, key="k", n_salts=8, how=how)
        want = probe.join(build, on="k", how=how)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), how


def test_schema_evolution_merge_read(spark, tmp_path):
    """Appended files may add columns over time (the 100 TB reality:
    schemas evolve mid-table). mergeSchema reads must surface the
    union schema with NULLs for pre-evolution rows, and a projection
    that only touches old columns must not fail on either vintage."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    spark.range(10).select(
        F.col("id"), F.lit("v1").alias("src")
    ).write.mode("overwrite").parquet(path)
    spark.range(10, 20).select(
        F.col("id"), F.lit("v2").alias("src"), F.lit(1.5).alias("score")
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "src", "score"}
    assert merged.count() == 20
    nulls = merged.filter(F.col("score").isNull()).count()
    assert nulls == 10
    assert merged.select("id", "src").count() == 20


def test_corrupt_file_tolerance(spark, tmp_path):
    """One corrupt file in a 100 TB table must not kill the job when
    the pipeline opts into ignoreCorruptFiles — and MUST kill it by
    default (silent data loss is worse than a failure)."""
    import pytest
    from py4j.protocol import Py4JJavaError

    path = str(tmp_path / "tbl")
    spark.range(100).write.mode("overwrite").parquet(path)
    with open(f"{path}/part-corrupt.parquet", "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer")

    with pytest.raises(Py4JJavaError):
        spark.read.parquet(path).count()

    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles")
    try:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        assert spark.read.parquet(path).count() == 100
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)


def test_versioned_table_occ_rejects_stale_base(spark, tmp_path):
    """Optimistic concurrency: a commit planned against a version that
    is no longer current must raise instead of silently erasing the
    interleaved writer's rows (lost update)."""
    import pytest

    from iceberg_tracking_spark.sources.catalog import (
        ConcurrentWriteError,
        VersionedTable,
    )

    t = VersionedTable(str(tmp_path / "occ"))
    df = spark.range(5).selectExpr("id AS k", "id * 1.0 AS v")
    t.write(df)  # v0
    # writer A plans against v0 and lands -> v1
    t.write(df, expected_current=0)
    # writer B also planned against v0: must be rejected now
    with pytest.raises(ConcurrentWriteError, match="version 1"):
        t.write(df, expected_current=0)
    # first-commit race: planning against an empty table that someone
    # has since populated is also stale
    with pytest.raises(ConcurrentWriteError):
        t.write(df, expected_current=None)
    # unguarded writes (explicit choice) still work
    assert t.write(df) == 2


def test_interval_join_empty_and_degenerate_inputs(spark):
    """Empty interval side, zero-length intervals, and a bucket far
    larger than any interval must all behave: no crash, exact
    containment semantics."""
    from iceberg_tracking_spark.operators.joins import interval_join

    pts = spark.createDataFrame([("a", 5, 1), ("a", 50, 2)], "key string, p long, pid long")
    empty_iv = spark.createDataFrame([], "key string, s long, e long, iid long")
    assert interval_join(pts, empty_iv, "key", "p", "s", "e", bucket=10).count() == 0
    # zero-length interval [5,5] contains exactly the point at 5
    point_iv = spark.createDataFrame([("a", 5, 5, 1)], "key string, s long, e long, iid long")
    got = interval_join(pts, point_iv, "key", "p", "s", "e", bucket=10).collect()
    assert [(r["pid"], r["iid"]) for r in got] == [(1, 1)]
    # huge bucket: everything lands in bucket 0 — still exact
    got2 = interval_join(pts, point_iv, "key", "p", "s", "e", bucket=10_000).collect()
    assert [(r["pid"], r["iid"]) for r in got2] == [(1, 1)]


def test_sketches_empty_streams(spark):
    """Sketch builders on empty input yield empty state; probes against
    an empty Bloom filter are all definite non-members."""
    from iceberg_tracking_spark.operators.sketches import (
        bloom_bits,
        bloom_maybe_member,
        cms_table,
        hll_registers,
    )
    from pyspark.sql import functions as F  # noqa: F401

    empty = spark.createDataFrame([], "tok string")
    assert cms_table(empty).count() == 0
    assert hll_registers(empty).count() == 0
    bits = bloom_bits(empty)
    assert bits.count() == 0
    probes = spark.createDataFrame([("x",), ("y",)], "tok string")
    flags = bloom_maybe_member(bits, probes).collect()
    assert len(flags) == 2 and all(not r["maybe_member"] for r in flags)


def test_fuzzy_match_handles_empty_and_short_docs(spark, sf_dir):
    """Documents shorter than the prefix window and empty text must not
    break the blocked fuzzy join (substring just truncates)."""
    from iceberg_tracking_spark.plans.queries_curation import q_fuzzy_match

    # run on the real fixture dir — presence of short docs is fine; here
    # we assert it analyzes and executes without error and respects the
    # symmetric-pair contract a_id < b_id.
    out = q_fuzzy_match(spark, sf_dir).collect()
    assert all(r["a_id"] < r["b_id"] for r in out)
    assert all(r["dist"] <= 5 for r in out)


def test_distributed_cumulative_empty_and_single_row(spark):
    """Degenerate inputs must not crash the two-pass ranking: an empty
    relation yields an empty result (the percentile boundaries are NULL
    — the bucket filter must tolerate that), and a single row ranks 1."""
    from pyspark.sql import functions as F

    from iceberg_tracking_spark.operators.windows import distributed_cumulative

    empty = spark.createDataFrame([], "k long, id long")
    assert distributed_cumulative(empty, ["k", "id"], out_col="r").count() == 0
    one = spark.createDataFrame([(7, 0)], "k long, id long")
    got = distributed_cumulative(one, ["k", "id"], out_col="r").collect()
    assert len(got) == 1 and got[0]["r"] == 1
    # running sum too
    one_v = spark.createDataFrame([(7, 0, 5)], "k long, id long, v long")
    got = distributed_cumulative(
        one_v, ["k", "id"], agg_col="v", out_col="c", exclusive=True
    ).collect()
    assert got[0]["c"] == 0


def test_distributed_cumulative_validate_keys_rejects_null(spark):
    """The documented non-null precondition on the first order column
    fails LOUDLY under validate_keys=True (a NULL would otherwise route
    silently to bucket 0 and take the lowest ranks), and stays green on
    clean input with identical ranks to the unvalidated plan."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from iceberg_tracking_spark.operators.windows import distributed_cumulative

    clean = spark.createDataFrame(
        [(i % 5, i) for i in range(50)], "k long, id long"
    )
    base = {
        (r["k"], r["id"]): r["r"]
        for r in distributed_cumulative(clean, ["k", "id"], out_col="r").collect()
    }
    checked = {
        (r["k"], r["id"]): r["r"]
        for r in distributed_cumulative(
            clean, ["k", "id"], out_col="r", validate_keys=True
        ).collect()
    }
    assert checked == base
    dirty = spark.createDataFrame(
        [(1, 0), (None, 1), (2, 2)], "k long, id long"
    )
    with pytest.raises(SparkRuntimeException, match="NULL in first order column"):
        distributed_cumulative(
            dirty, ["k", "id"], out_col="r", validate_keys=True
        ).collect()


def test_histogram_quantiles_empty_histogram(spark):
    """hist_quantiles over an empty sketch returns no rows (never a
    divide-by-zero or a NULL-bin estimate)."""
    from iceberg_tracking_spark.operators.sketches import hist_quantiles, hist_table

    empty = spark.createDataFrame([], "v double")
    h = hist_table(empty, "v", 0.0, 1.0, 16)
    assert hist_quantiles(h, [0.5], 0.0, 1.0, 16).count() == 0


def test_order_date_math_is_caller_timezone_independent(spark, sf_dir):
    """Every date column in the testdata is parquet timestamp[us]
    isAdjustedToUTC=false (NTZ in Spark 4), and NTZ→TIMESTAMP casting
    goes through the session timezone — so q_rfm / q_kaplan_meier day
    arithmetic would shift by the caller's zone offset (and across DST)
    under a non-UTC session while DuckDB reads naive-as-UTC.
    load_table pins the session tz to UTC on EVERY load (not only for
    events); this proves the pin by poisoning the session tz first."""
    from pyspark.sql import functions as F

    from iceberg_tracking_spark.plans import QUERIES

    before = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = (
            QUERIES["q_kaplan_meier"].fn(spark, sf_dir)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_risk").alias("risk_sum"),
            )
            .collect()[0]
        )
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        rfm = (
            QUERIES["q_rfm"].fn(spark, sf_dir)
            .agg(F.sum("r_days").alias("rd"), F.sum("r_bin").alias("rb"))
            .collect()[0]
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
    utc_km = (
        QUERIES["q_kaplan_meier"].fn(spark, sf_dir)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_risk").alias("risk_sum"))
        .collect()[0]
    )
    utc_rfm = (
        QUERIES["q_rfm"].fn(spark, sf_dir)
        .agg(F.sum("r_days").alias("rd"), F.sum("r_bin").alias("rb"))
        .collect()[0]
    )
    assert (got["n"], got["risk_sum"]) == (utc_km["n"], utc_km["risk_sum"])
    assert (rfm["rd"], rfm["rb"]) == (utc_rfm["rd"], utc_rfm["rb"])


def test_int8_quantize_zero_vector_guard(spark, tmp_path):
    """q_int8_quantize's amax=0 guard: an all-zero embedding must emit
    code 0 everywhere (never NaN/NULL from the 0/0 division) — on BOTH
    engines, hash-identically."""
    import duckdb

    from iceberg_tracking_spark.plans.registry import QUERIES

    con = duckdb.connect()
    con.sql(f"""
    COPY (SELECT * FROM (VALUES
        (1, [0.5, -1.0, 0.25]::FLOAT[], 1),
        (2, [0.0, 0.0, 0.0]::FLOAT[], 0),
        (3, [2.0, 2.0, -2.0]::FLOAT[], 1)
    ) t(vec_id, embedding, label))
    TO '{tmp_path}/embeddings.parquet' (FORMAT PARQUET)
    """)
    got = {
        r["vec_id"]: r
        for r in QUERIES["q_int8_quantize"].fn(spark, str(tmp_path)).collect()
    }
    z = got[2]
    assert (z["code_sum"], z["code_min"], z["code_max"], z["n_sat"]) == (
        0, 0, 0, 0,
    )
    assert z["scale_r"] == 0.0
    # sanity on a live vector: amax=1.0 -> codes floor(e*127) =
    # [63, -127, 31]
    v = got[1]
    assert v["code_max"] == 63 and v["code_min"] == -127 and v["n_sat"] == 1
    assert v["code_sum"] == 63 - 127 + 31
    # oracle agrees on the same fixture
    con2 = duckdb.connect()
    con2.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    orc = {
        r[0]: r
        for r in con2.sql(QUERIES["q_int8_quantize"].oracle).fetchall()
    }
    for vid, r in got.items():
        o = orc[vid]
        assert (r["scale_r"], r["code_sum"], r["code_min"], r["code_max"],
                r["n_sat"]) == (o[1], o[2], o[3], o[4], o[5]), vid
