"""Operator-level tests: NMS invariants, multimodal plumbing, inference
scaffold, tiling, MOT CSV round-trip."""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from iceberg_tracking_spark.operators.inference import (
    detect_tiles,
    tile_plan,
    translate_boxes_to_original,
)
from iceberg_tracking_spark.operators.multimodal import (
    extract_media_features,
    sample_video_frames,
    synthesize_media_table,
)
from iceberg_tracking_spark.operators.nms import nms
from iceberg_tracking_spark.plans.queries_mot import _boxes
from iceberg_tracking_spark.sources.mot import read_mot_csv, write_mot_csv


def test_nms_invariant(spark, sf_dir):
    """Survivors of NMS must have pairwise IoU ≤ threshold within a
    frame — the SQL-checkable invariant from SURVEY §5."""
    b = _boxes(spark, sf_dir)
    det = b.select(
        F.lit("s0").alias("sequence"),
        F.col("frame").cast("string").alias("frame"),
        F.col("event_id").cast("int").alias("obj_id"),
        F.col("dl").alias("bb_left"),
        F.col("dt_").alias("bb_top"),
        F.col("dw").alias("bb_width"),
        F.col("dh").alias("bb_height"),
        ((F.col("event_id") % 100) / 100.0).alias("conf"),
    )
    kept = nms(det, iou_threshold=0.45)
    kept.createOrReplaceTempView("nms_kept")
    violations = spark.sql(
        """
        SELECT count(*) AS n FROM nms_kept a JOIN nms_kept b
        ON a.frame = b.frame AND a.obj_id < b.obj_id
        WHERE greatest(least(a.bb_left + a.bb_width, b.bb_left + b.bb_width)
                       - greatest(a.bb_left, b.bb_left), 0)
              * greatest(least(a.bb_top + a.bb_height, b.bb_top + b.bb_height)
                         - greatest(a.bb_top, b.bb_top), 0)
              / (a.bb_width * a.bb_height + b.bb_width * b.bb_height
                 - greatest(least(a.bb_left + a.bb_width, b.bb_left + b.bb_width)
                            - greatest(a.bb_left, b.bb_left), 0)
                   * greatest(least(a.bb_top + a.bb_height, b.bb_top + b.bb_height)
                              - greatest(a.bb_top, b.bb_top), 0)) > 0.45
        """
    ).collect()[0]["n"]
    assert violations == 0


def test_multimodal_features(spark, sf_dir):
    media = synthesize_media_table(spark, sf_dir)
    feats = extract_media_features(media).toPandas()
    n = media.count()
    assert len(feats) == n
    assert (feats["n_bytes"] > 0).all()
    assert feats["mean_intensity"].between(0, 255).all()
    assert feats["phash"].str.len().eq(32).all()
    # determinism: same input → same features
    feats2 = extract_media_features(media).toPandas()
    pd.testing.assert_frame_equal(
        feats.sort_values("media_id").reset_index(drop=True),
        feats2.sort_values("media_id").reset_index(drop=True),
    )


def test_multimodal_decode_stub_gate(spark, sf_dir):
    """decode_stub=False is a per-blob contract now: PGM decodes for
    real, anything else raises at the executor-side plug-in point."""
    from iceberg_tracking_spark.operators.multimodal import decode_media

    with pytest.raises(NotImplementedError, match="PIL/cv2"):
        decode_media(b"not-an-image", 8, 8, decode_stub=False)
    # whole-pipeline form: the synthesized (non-PGM) blobs fail on collect
    media = synthesize_media_table(spark, sf_dir)
    with pytest.raises(Exception, match="NotImplementedError|PIL/cv2"):
        extract_media_features(media, decode_stub=False).collect()


def test_video_frame_sampling(spark, sf_dir):
    media = synthesize_media_table(spark, sf_dir)
    frames = sample_video_frames(media, every_ms=1000)
    pdf = frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).toPandas()
    meta = media.select("media_id", "duration_ms").toPandas()
    merged = pdf.merge(meta, on="media_id")
    assert (merged["n"] == merged["duration_ms"] // 1000 + 1).all()


def test_tile_plan_covers_image(spark):
    imgs = spark.createDataFrame(
        [(1, 4000, 3000), (2, 1000, 800)], "media_id long, width long, height long"
    )
    tiles = tile_plan(imgs, window=1536, overlap=0.35, scales=(1.0,)).toPandas()
    big = tiles[tiles["media_id"] == 1]
    # last tile must end exactly at the scaled edge (edge snapping)
    assert (big["tile_x"] + 1536).max() == 4000
    assert (big["tile_y"] + 1536).max() == 3000
    # small image → single tile at origin
    small = tiles[tiles["media_id"] == 2]
    assert len(small) == 1 and small.iloc[0]["tile_x"] == 0


def test_inference_scaffold(spark):
    imgs = spark.createDataFrame(
        [(1, 4000, 3000)], "media_id long, width long, height long"
    )
    tiles = tile_plan(imgs, scales=(0.5, 1.0))
    dets = detect_tiles(tiles)
    out = translate_boxes_to_original(dets).toPandas()
    assert set(out.columns) >= {"bb_left", "bb_top", "bb_width", "bb_height", "conf"}
    # deterministic stub: rerun equals
    out2 = translate_boxes_to_original(detect_tiles(tiles)).toPandas()
    assert len(out) == len(out2)
    # scale-0.5 boxes were divided by 0.5 → translated coords beyond tile grid OK
    assert (out["bb_width"] > 0).all()


def test_mot_csv_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [
            ("000001", 1, 10.0, 20.0, 30.0, 40.0, 0.9, 1, -1, -1),
            ("000002", 1, 12.0, 22.0, 30.0, 40.0, 0.8, 1, -1, -1),
            ("7", 2, 5.0, 5.0, 10.0, 10.0, 1.0, 1, -1, -1),
        ],
        "frame string, obj_id int, bb_left double, bb_top double, "
        "bb_width double, bb_height double, conf double, mot_x int, mot_y int, mot_z int",
    )
    path = str(tmp_path / "det")
    write_mot_csv(src, path)
    back = read_mot_csv(spark, path, sequence="seq1")
    pdf = back.toPandas().sort_values(["obj_id", "frame"]).reset_index(drop=True)
    assert len(pdf) == 3
    # numeric frame ids re-normalized to 6-digit zero-pad
    assert set(pdf["frame"]) == {"000001", "000002", "000007"}
    assert (pdf["sequence"] == "seq1").all()


def test_mot_csv_malformed_rows_skipped(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text(
        "1,1,10,20,30,40,0.9,1,-1,-1\n"
        "garbage line that is not mot\n"
        "2,1,12,22,30,40,0.8,1,-1,-1\n"
    )
    df = read_mot_csv(spark, str(p))
    assert df.count() == 2


def test_write_table_partitioned_parquet(spark, tmp_path):
    from iceberg_tracking_spark.sources.catalog import iceberg_catalog
    from iceberg_tracking_spark.sources.sinks import write_table

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0)], "seq string, k int, v double"
    )
    path = str(tmp_path / "tbl")
    # No Iceberg catalog on this session — the writer must fall through
    # to partitioned parquet.
    assert iceberg_catalog(spark) is None
    write_table(df, path, partition_by=["seq"])
    import os

    assert sorted(
        d for d in os.listdir(path) if d.startswith("seq=")
    ) == ["seq=a", "seq=b"]
    back = spark.read.parquet(path)
    assert back.count() == 3
    assert set(back.columns) == {"seq", "k", "v"}


def test_compact_parquet_table(spark, tmp_path):
    from iceberg_tracking_spark.sources.sinks import compact_parquet_table

    path = str(tmp_path / "frag")
    # Fragment: 24 tiny files.
    spark.range(0, 2400).withColumnRenamed("id", "k").repartition(24).write.parquet(
        path
    )
    import glob

    assert len(glob.glob(f"{path}/*.parquet")) == 24
    stats = compact_parquet_table(spark, path)
    assert stats["files_before"] == 24
    assert stats["files_after"] < 24
    assert spark.read.parquet(path).count() == 2400


def test_versioned_table_snapshots_and_time_travel(spark, tmp_path):
    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt"))
    v0 = t.write(spark.range(0, 100).withColumnRenamed("id", "k"))
    v1 = t.write(spark.range(100, 150).withColumnRenamed("id", "k"), mode="append")
    assert (v0, v1) == (0, 1)
    assert t.read(spark).count() == 150                 # current
    assert t.read(spark, version=0).count() == 100      # time travel
    # Rollback is metadata-only: old data still intact.
    t.rollback(0)
    assert t.read(spark).count() == 100
    assert t.current_version() == 0
    history = t.history()
    assert [e["version"] for e in history] == [0, 1]
    assert history[1]["mode"] == "append"


def test_versioned_table_compact_and_expire(spark, tmp_path):
    import glob

    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt2"))
    t.write(spark.range(0, 1000).withColumnRenamed("id", "k").repartition(16))
    assert len(glob.glob(f"{t.base}/v=0/*.parquet")) == 16
    v_compacted = t.compact(spark)
    assert len(glob.glob(f"{t.base}/v={v_compacted}/*.parquet")) < 16
    assert t.read(spark).count() == 1000
    expired = t.expire(keep_last=1)
    assert expired == [0]
    # Expired snapshot gone, current still readable.
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.read(spark, version=0)
    assert t.read(spark).count() == 1000


def test_versioned_table_upsert(spark, tmp_path):
    from pyspark.sql import functions as F

    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt3"))
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit("old").alias("v")
    )
    t.write(base)
    changes = spark.createDataFrame(
        [(5, "new"), (6, "new"), (100, "new")], "k long, v string"
    )
    t.upsert(changes, key_cols=["k"])
    cur = t.read(spark).toPandas().set_index("k").sort_index()
    assert len(cur) == 11                       # 10 originals + 1 insert
    assert cur.loc[5, "v"] == "new"             # matched rows replaced
    assert cur.loc[6, "v"] == "new"
    assert cur.loc[100, "v"] == "new"           # unmatched inserted
    assert cur.loc[0, "v"] == "old"             # untouched rows kept
    # Upsert is a commit: the pre-merge snapshot is still readable.
    assert t.read(spark, version=0).count() == 10


def test_versioned_table_changes_rowlevel(spark, tmp_path):
    """Keyless CDC: multiset diff between snapshots → insert/delete."""
    from pyspark.sql import functions as F

    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt_cdc"))
    t.write(spark.range(0, 10).select(F.col("id").alias("k")))
    t.write(spark.range(5, 12).select(F.col("id").alias("k")))
    cdc = t.changes(spark, from_version=0).toPandas()
    ins = sorted(cdc[cdc._change_type == "insert"].k)
    dels = sorted(cdc[cdc._change_type == "delete"].k)
    assert ins == [10, 11]
    assert dels == [0, 1, 2, 3, 4]
    assert set(cdc._commit_version) == {1}


def test_versioned_table_changes_keyed(spark, tmp_path):
    """Keyed CDC emits the Delta-style update_preimage/postimage pair
    for changed keys, and insert/delete for new/dropped keys."""
    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt_cdc2"))
    t.write(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, v string, x long"
        )
    )
    t.write(
        spark.createDataFrame(
            [(2, "b", 20), (3, "C", 30), (4, "d", 40)], "k long, v string, x long"
        )
    )
    cdc = t.changes(spark, 0, 1, key_cols=["k"]).toPandas()
    by_type = {
        ct: sorted(g.k) for ct, g in cdc.groupby("_change_type")
    }
    assert by_type == {
        "insert": [4],
        "delete": [1],
        "update_preimage": [3],
        "update_postimage": [3],
    }
    pre = cdc[(cdc._change_type == "update_preimage")].iloc[0]
    post = cdc[(cdc._change_type == "update_postimage")].iloc[0]
    assert (pre.v, post.v) == ("c", "C")
    # unchanged key 2 emits nothing
    assert 2 not in set(cdc.k)
    assert list(cdc.columns) == ["k", "v", "x", "_change_type", "_commit_version"]


def test_grid_join_correct_under_skew(spark):
    """A hot cell (80% of points in one bucket) must not change results:
    the grid join's AQE skew-split path returns the same pairs as the
    naive O(n^2) check."""
    import numpy as np
    import pandas as pd

    from iceberg_tracking_spark.operators.joins import grid_radius_join_1d

    rng = np.random.default_rng(42)
    hot = rng.uniform(0.0, 0.5, 800)        # one cell at radius=0.5
    spread = rng.uniform(0.5, 50.0, 200)
    vals = np.concatenate([hot, spread])
    pdf = pd.DataFrame({"event_id": np.arange(len(vals)), "value": vals})
    df = spark.createDataFrame(pdf)
    got = (
        grid_radius_join_1d(df, "value", radius=0.5, id_col="event_id")
        .count()
    )
    diffs = np.abs(vals[:, None] - vals[None, :]) <= 0.5
    expected = int((np.triu(diffs, k=1)).sum())
    assert got == expected


def test_connected_components_known_graph(spark):
    from iceberg_tracking_spark.operators.graph import connected_components

    # Chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_remove_nested_invariant_and_precedence(spark):
    from iceberg_tracking_spark.operators.nms import remove_nested

    rows = [
        # big low-conf box containing a small high-conf box -> big loses
        ("s", "1", 1, 0.0, 0.0, 100.0, 100.0, 0.4),
        ("s", "1", 2, 10.0, 10.0, 20.0, 20.0, 0.9),
        # two low-conf nested boxes -> lower score loses
        ("s", "1", 3, 200.0, 200.0, 50.0, 50.0, 0.45),
        ("s", "1", 4, 210.0, 210.0, 20.0, 20.0, 0.30),
        # disjoint box untouched
        ("s", "1", 5, 400.0, 400.0, 10.0, 10.0, 0.2),
        # high-conf containing high-conf -> higher score survives
        ("s", "2", 6, 0.0, 0.0, 100.0, 100.0, 0.95),
        ("s", "2", 7, 5.0, 5.0, 30.0, 30.0, 0.80),
    ]
    det = spark.createDataFrame(
        rows,
        "sequence string, frame string, obj_id int, bb_left double, "
        "bb_top double, bb_width double, bb_height double, conf double",
    )
    kept = remove_nested(det, containment_threshold=0.75, conf_split=0.5)
    ids = {r["obj_id"] for r in kept.collect()}
    assert ids == {2, 3, 5, 6}
    # Invariant: no survivor is nested (>=0.75 containment) in another
    # survivor of the same frame.
    import itertools

    by_frame = {}
    for r in kept.collect():
        by_frame.setdefault(r["frame"], []).append(r)
    for boxes in by_frame.values():
        for p, q in itertools.permutations(boxes, 2):
            xa = max(p["bb_left"], q["bb_left"])
            ya = max(p["bb_top"], q["bb_top"])
            xb = min(p["bb_left"] + p["bb_width"], q["bb_left"] + q["bb_width"])
            yb = min(p["bb_top"] + p["bb_height"], q["bb_top"] + q["bb_height"])
            inter = max(xb - xa, 0) * max(yb - ya, 0)
            smaller = min(
                p["bb_width"] * p["bb_height"], q["bb_width"] * q["bb_height"]
            )
            assert smaller > 0 and inter / smaller < 0.75


def test_generate_embeddings_frame_cache_locality(spark):
    """M4: the frame-clustered embedding pass decodes each frame exactly
    once (range partitioning puts a frame in one partition; sorting
    makes it contiguous; the LRU never evicts mid-frame)."""
    import pandas as pd

    from iceberg_tracking_spark.operators.inference import generate_embeddings

    rows = []
    for seq in ("a", "b"):
        for f in range(40):
            for o in range(5):
                rows.append((seq, f"{f:06d}", f * 10 + o, 1.0 * o, 2.0 * o, 10.0, 10.0, 0.9))
    det = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "sequence", "frame", "obj_id",
                "bb_left", "bb_top", "bb_width", "bb_height", "conf",
            ],
        )
    )
    out = generate_embeddings(det, dim=16).cache()
    assert out.count() == 2 * 40 * 5
    from pyspark.sql import functions as F

    n_misses = out.filter("cache_miss").count()
    assert n_misses == 2 * 40  # one decode per (sequence, frame)
    # Deterministic across runs.
    a = sorted(
        (r["sequence"], r["frame"], r["obj_id"], tuple(r["embedding"]))
        for r in out.collect()
    )
    b = sorted(
        (r["sequence"], r["frame"], r["obj_id"], tuple(r["embedding"]))
        for r in generate_embeddings(det, dim=16).collect()
    )
    assert a == b
    out.unpersist()


def test_greedy_assignment_one_to_one_and_dominance(spark, sf_dir):
    """W7 invariants (docstring-promised): each gt/det id assigned at
    most once per frame, and assignments are greedy-dominant — an
    unassigned pair can only exist because one of its ends was taken by
    a pair with a score at least as high."""
    from iceberg_tracking_spark.plans.registry import QUERIES

    out = QUERIES["q_greedy_match"].fn(spark, sf_dir).toPandas()
    per_frame = out.groupby("frame")
    assert (per_frame["gt_id"].nunique() == per_frame["gt_id"].count()).all()
    assert (per_frame["det_id"].nunique() == per_frame["det_id"].count()).all()
    # Determinism: a second run is identical.
    out2 = QUERIES["q_greedy_match"].fn(spark, sf_dir).toPandas()
    a = out.sort_values(["frame", "gt_id"]).reset_index(drop=True)
    b = out2.sort_values(["frame", "gt_id"]).reset_index(drop=True)
    assert a.equals(b)


def test_approx_count_distinct_relative_error(spark, sf_dir):
    """A2 scale path (docstring-promised): the HLL sketch estimate is
    within its configured relative error of the exact count."""
    from iceberg_tracking_spark.plans.registry import QUERIES
    from iceberg_tracking_spark.sources.tables import load_table

    est = QUERIES["q_approx_count_distinct"].fn(spark, sf_dir).collect()[0]
    exact = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey").distinct().count()
    )
    assert abs(est[0] - exact) / exact < 0.1


def test_multiprobe_lsh_improves_recall(spark, sf_dir):
    """ANN quality: multi-probe (Hamming-1 bucket expansion) must find a
    superset-quality result — recall vs brute-force ground truth is
    monotonically non-decreasing in probe count, and every LSH result
    set stays deduplicated per query."""
    from pyspark.sql import functions as F

    from iceberg_tracking_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucket_topk,
    )
    from iceberg_tracking_spark.sources.tables import load_table

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    pred = F.col("vec_id") % 25 == 0
    q = v.filter(pred).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    truth = {
        (r["qid"], r["nid"]) for r in brute_force_topk(v, q, k=3).collect()
    }

    def recall(probes):
        # bits sized to the corpus: 2^4 = 16 buckets over 500 vectors
        # (~31 per bucket). The default 8 bits would over-partition a
        # corpus this small — bucket count is the corpus-size lever.
        got = lsh_bucket_topk(
            v, dim=64, k=3, query_pred=pred, probes=probes, n_bits=4
        )
        rows = got.collect()
        pairs = {(r["qid"], r["nid"]) for r in rows}
        assert len(pairs) == len(rows)  # no duplicate candidates
        return len(pairs & truth) / len(truth)

    r0, r4, r8 = recall(0), recall(4), recall(8)
    # Candidate widening is monotone (each probe set is a superset of
    # the previous); measured values with the avalanche hyperplanes:
    # 0.133 / 0.533 / 0.533 — probing Hamming-1 buckets quadruples
    # recall, the standard multi-probe trade. Deterministic (fixed
    # planes, fixed fixture), so the floors are stable.
    assert r0 <= r4 <= r8
    assert r0 >= 0.1
    assert r4 >= 0.4


def test_brute_force_topk_zero_vector_matches_duckdb(spark):
    """An all-zero embedding has no direction: every pair it is in gets
    a NULL similarity that ranks last, as DuckDB's x / 0.0 = NULL does
    in the oracle form — not a DIVIDE_BY_ZERO that kills the job. k=2
    of 3 neighbours, so a NULL ranked first would show."""
    import duckdb

    from iceberg_tracking_spark.operators.similarity import (
        brute_force_topk,
        duck_cosine_sql,
    )

    vecs = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])]
    v = spark.createDataFrame(vecs, "vec_id long, e array<double>")
    q = v.select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    got = {tuple(r) for r in brute_force_topk(v, q, k=2).collect()}

    values = ", ".join(f"({i}, {e}::DOUBLE[])" for i, e in vecs)
    want = set(
        duckdb.sql(
            f"""
            WITH v AS (SELECT * FROM (VALUES {values}) t(vec_id, e)),
            sims AS (
                SELECT q.vec_id AS qid, c.vec_id AS nid,
                       round({duck_cosine_sql("q.e", "c.e", 2)}, 6) AS sim
                FROM v q, v c WHERE q.vec_id != c.vec_id
            )
            SELECT qid, nid, sim FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY qid ORDER BY sim DESC NULLS LAST, nid
                ) AS rn FROM sims
            ) WHERE rn <= 2
            """
        ).fetchall()
    )
    assert got == want
    assert {(0, 1, None), (0, 2, None), (1, 3, 0.707107), (1, 2, 0.0)} <= got


def test_exact_rerank_excludes_self_pairs(spark, sf_dir):
    """Re-ranking ALL pairs, the (q, q) self-pairs included, must give
    exactly the brute-force top-k: the self-pair (sim 1.0) is filtered,
    not ranked first."""
    from iceberg_tracking_spark.operators.similarity import (
        brute_force_topk,
        exact_rerank,
    )
    from iceberg_tracking_spark.sources.tables import load_table

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = v.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    cands = q.select("qid").crossJoin(v.select(F.col("vec_id").alias("nid")))
    assert cands.filter(F.col("qid") == F.col("nid")).count() == q.count()
    got = {tuple(r) for r in exact_rerank(cands, v, q, k=3).collect()}
    want = {tuple(r) for r in brute_force_topk(v, q, k=3).collect()}
    assert got == want
    assert len(got) == 3 * q.count()


def test_minhash_hot_band_guard(spark, tmp_path):
    """A degenerate corpus (one giant cluster of identical docs) must
    not produce the quadratic candidate set: the hot band buckets are
    dropped (those docs belong to the exact-dup path), while ordinary
    near-dup pairs elsewhere in the corpus still surface. The DuckDB
    oracle applies the identical cap, so the contract stays exact."""
    import duckdb
    import pandas as pd

    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.plans.queries_llm import _HOT_BAND_CAP

    hot_n = _HOT_BAND_CAP + 36  # one bucket well over the cap
    clone = "the quick brown fox jumps over the lazy dog again and again"
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [(i, clone, "en", "web", len(clone)) for i in range(hot_n)]
    rows += [
        (1000, near_a, "en", "web", len(near_a)),
        (1001, near_b, "en", "web", len(near_b)),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    sf_dir = str(tmp_path / "skewsf")
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir)
    pq.write_table(
        pa.Table.from_pandas(pdf), os.path.join(sf_dir, "documents.parquet")
    )

    q = QUERIES["q_minhash_lsh"]
    got = q.fn(spark, sf_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    # No pair between two clones (their buckets were all over-cap) …
    assert not any(a < hot_n and b < hot_n for a, b in pairs)
    # … but the ordinary near-dup pair survives.
    assert (1000, 1001) in pairs

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    odf = con.execute(q.oracle).fetchdf()
    oracle_pairs = {
        (int(r.doc_a), int(r.doc_b)) for r in odf.itertuples(index=False)
    }
    con.close()
    assert pairs == oracle_pairs


def test_map_rows_fan_out_and_all_empty_batch(spark):
    """`map_rows`: one input row may yield several output rows, placed
    into the schema by position; a batch whose every row yields nothing
    comes back as 0 rows of the declared schema."""
    from iceberg_tracking_spark.operators.multimodal import map_rows

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string").coalesce(1)
    schema = "k long, i int, s string"
    two = map_rows(
        df.where("k = 1"), schema, lambda r: [(r.k, i, r.s * i) for i in (1, 2)]
    )
    assert two.schema.simpleString() == "struct<k:bigint,i:int,s:string>"
    assert sorted(map(tuple, two.collect())) == [(1, 1, "a"), (1, 2, "aa")]
    none = map_rows(df, schema, lambda r: [])
    assert none.schema == two.schema
    assert none.collect() == []


def test_binary_file_source_roundtrip(spark, tmp_path):
    """S8: a real binaryFile scan — bytes on disk come back verbatim,
    one row per file, glob filtering applied — and the rows flow into
    the mapInPandas feature extractor."""
    import hashlib

    from iceberg_tracking_spark.operators.multimodal import (
        extract_media_features,
        media_from_binary_files,
    )
    from iceberg_tracking_spark.sources.binary import (
        ensure_binary_fixture,
        read_binary_files,
    )

    d = ensure_binary_fixture(str(tmp_path / "blobs"), n=5)
    (tmp_path / "blobs" / "ignored.txt").write_text("not matched by glob")
    rows = {r["path"].split("/")[-1]: r for r in read_binary_files(spark, d).collect()}
    assert sorted(rows) == [f"{i:04d}.bin" for i in range(5)]
    for i in range(5):
        expected = hashlib.md5(str(i).encode()).digest() * (i % 7 + 1)
        got = rows[f"{i:04d}.bin"]
        assert bytes(got["content"]) == expected
        assert got["length"] == len(expected)

    feats = extract_media_features(media_from_binary_files(spark, d)).collect()
    assert len(feats) == 5
    assert all(f["n_bytes"] > 0 and f["phash"] for f in feats)


def test_catalog_table_write_path_switch(spark, tmp_path):
    """SURVEY §7.1 interchangeable writer: CatalogTable resolves to the
    parquet VersionedTable when no Iceberg catalog is configured, routes
    to format("iceberg") when one is, and detection reads the live
    session conf."""
    import pytest as _pytest

    from iceberg_tracking_spark.sources.catalog import (
        CatalogTable,
        iceberg_catalog,
    )

    # No Iceberg catalog on the test session → parquet backend, full
    # snapshot semantics via VersionedTable.
    assert iceberg_catalog(spark) is None
    t = CatalogTable(spark, "demo.db.t", str(tmp_path / "ct"))
    assert t.backend == "parquet"
    from pyspark.sql import functions as F

    t.write(spark.range(3).select(F.col("id").alias("k")))
    t.write(spark.range(5).select(F.col("id").alias("k")), mode="append")
    assert t.read().count() == 8
    assert t.read(version=0).count() == 3  # time travel still works

    # Declaring an Iceberg catalog flips detection (runtime conf only).
    spark.conf.set(
        "spark.sql.catalog.demo", "org.apache.iceberg.spark.SparkCatalog"
    )
    try:
        assert iceberg_catalog(spark) == "demo"
        it = CatalogTable(spark, "demo.db.t", str(tmp_path / "ct2"))
        assert it.backend == "iceberg"
        # This container has no Iceberg runtime: the write surfaces
        # Spark's own missing-data-source error (the hook adds no
        # swallowing layer).
        with _pytest.raises(Exception):
            it.write(spark.range(1))
    finally:
        spark.conf.unset("spark.sql.catalog.demo")
    assert iceberg_catalog(spark) is None


def test_ivf_topk_invariants(spark, sf_dir):
    """IVF ANN invariants: ≤ k neighbors per query, no duplicates, no
    self-matches, and widening nprobe is monotone in recall vs the
    exact brute-force truth."""
    from pyspark.sql import functions as F

    from iceberg_tracking_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from iceberg_tracking_spark.sources.tables import load_table

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    pred = F.col("vec_id") % 25 == 0
    q = v.filter(pred).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    truth = {
        (r["qid"], r["nid"]) for r in brute_force_topk(v, q, k=3).collect()
    }

    def run(nprobe):
        rows = ivf_topk(
            v, k=3, query_pred=pred,
            centroid_pred=F.col("vec_id") % 50 == 1, nprobe=nprobe,
        ).collect()
        pairs = {(r["qid"], r["nid"]) for r in rows}
        assert len(pairs) == len(rows)            # no duplicate candidates
        assert all(qid != nid for qid, nid in pairs)
        per_q: dict = {}
        for qid, _ in pairs:
            per_q[qid] = per_q.get(qid, 0) + 1
        assert max(per_q.values()) <= 3
        return len(pairs & truth) / len(truth)

    r1, r2, r4 = run(1), run(2), run(4)
    assert r1 <= r2 <= r4                          # probe widening is monotone
    assert r2 >= 0.3                               # sane recall floor


def test_source_format_matrix_roundtrip(spark, sf_dir, tmp_path):
    """Source-format breadth (S-family): the same relation written as
    parquet, ORC, and JSON-lines reads back value-identical — format is
    an I/O detail, not a semantic one."""
    from pyspark.sql import functions as F

    from iceberg_tracking_spark.sources.tables import load_table

    src = (
        load_table(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .limit(100)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        )
    )
    expected = [tuple(r) for r in src.collect()]
    for fmt in ("parquet", "orc", "json"):
        p = str(tmp_path / f"fmt_{fmt}")
        src.write.format(fmt).save(p)
        back = spark.read.format(fmt).schema(src.schema).load(p)
        got = sorted(tuple(r) for r in back.collect())
        assert got == sorted(expected), f"{fmt} roundtrip diverged"


def test_grid_cell_join_lossless_for_bounded_boxes(spark):
    """grid_cell_join's contract: with cell >= max box extent, the
    prefiltered pair set must contain EVERY pair with IoU > 0 —
    verified against the naive all-pairs join on random boxes."""
    import numpy as np
    import pandas as pd

    from iceberg_tracking_spark.functions.geometry import iou
    from iceberg_tracking_spark.operators.joins import grid_cell_join

    rng = np.random.default_rng(11)
    n = 300
    pdf = pd.DataFrame(
        {
            "id": np.arange(n),
            "frame": rng.integers(0, 5, n),
            "l": rng.uniform(0, 400, n),
            "t": rng.uniform(0, 400, n),
            "w": rng.uniform(5, 60, n),
            "h": rng.uniform(5, 60, n),
        }
    )
    df = spark.createDataFrame(pdf)
    a = df.select(
        F.col("id").alias("a_id"), "frame",
        F.col("l").alias("a_l"), F.col("t").alias("a_t"),
        F.col("w").alias("a_w"), F.col("h").alias("a_h"),
    ).withColumn("_acx", F.col("a_l") + F.col("a_w") / 2).withColumn(
        "_acy", F.col("a_t") + F.col("a_h") / 2
    )
    b = df.select(
        F.col("id").alias("b_id"), "frame",
        F.col("l").alias("b_l"), F.col("t").alias("b_t"),
        F.col("w").alias("b_w"), F.col("h").alias("b_h"),
    ).withColumn("_bcx", F.col("b_l") + F.col("b_w") / 2).withColumn(
        "_bcy", F.col("b_t") + F.col("b_h") / 2
    )
    the_iou = iou(
        F.col("a_l"), F.col("a_t"), F.col("a_w"), F.col("a_h"),
        F.col("b_l"), F.col("b_t"), F.col("b_w"), F.col("b_h"),
    )
    naive = (
        a.join(b, "frame")
        .withColumn("iou", the_iou)
        .filter(F.col("iou") > 0)
        .select("a_id", "b_id")
        .toPandas()
    )
    pre = (
        grid_cell_join(
            a, b, "_acx", "_acy", "_bcx", "_bcy",
            cell_size=60.0, extra_on=[("frame", "frame")],
        )
        .withColumn("iou", the_iou)
        .filter(F.col("iou") > 0)
        .select("a_id", "b_id")
        .toPandas()
    )
    key = lambda d: set(map(tuple, d.values.tolist()))  # noqa: E731
    assert key(naive) == key(pre)
    # And no pair is emitted twice by the 3x3 explode.
    assert len(pre) == len(key(pre))
    # r12 anisotropic cells: flat boxes (h bounded well below w) admit
    # a tighter y-cell — the prefilter must stay lossless and
    # duplicate-free while emitting FEWER candidates than the square
    # grid (the candidate-volume win is the point of the parameter).
    flat = pdf.assign(h=pdf["h"] / 2)  # h in (2.5, 30) -> y-cell 30
    fdf = spark.createDataFrame(flat)
    fa = fdf.select(
        F.col("id").alias("a_id"), "frame",
        F.col("l").alias("a_l"), F.col("t").alias("a_t"),
        F.col("w").alias("a_w"), F.col("h").alias("a_h"),
    ).withColumn("_acx", F.col("a_l") + F.col("a_w") / 2).withColumn(
        "_acy", F.col("a_t") + F.col("a_h") / 2
    )
    fb = fdf.select(
        F.col("id").alias("b_id"), "frame",
        F.col("l").alias("b_l"), F.col("t").alias("b_t"),
        F.col("w").alias("b_w"), F.col("h").alias("b_h"),
    ).withColumn("_bcx", F.col("b_l") + F.col("b_w") / 2).withColumn(
        "_bcy", F.col("b_t") + F.col("b_h") / 2
    )
    naive_flat = (
        fa.join(fb, "frame")
        .withColumn("iou", the_iou)
        .filter(F.col("iou") > 0)
        .select("a_id", "b_id")
        .toPandas()
    )
    square_df = grid_cell_join(
        fa, fb, "_acx", "_acy", "_bcx", "_bcy",
        cell_size=60.0, extra_on=[("frame", "frame")],
    )
    tight_df = grid_cell_join(
        fa, fb, "_acx", "_acy", "_bcx", "_bcy",
        cell_size=60.0, cell_size_y=30.0, extra_on=[("frame", "frame")],
    )
    assert tight_df.count() < square_df.count()
    tight = (
        tight_df.withColumn("iou", the_iou)
        .filter(F.col("iou") > 0)
        .select("a_id", "b_id")
        .toPandas()
    )
    assert key(naive_flat) == key(tight)
    assert len(tight) == len(key(tight))


def test_interval_join_parity_with_naive_between(spark):
    """Bucketized interval join ≡ the naive BETWEEN theta-join, including
    intervals spanning many buckets, empty intervals, and points on the
    closed boundaries."""
    import random

    from iceberg_tracking_spark.operators.joins import interval_join

    rnd = random.Random(7)
    pts = spark.createDataFrame(
        [(k, rnd.randint(0, 1000), i) for i, k in enumerate(rnd.choices("abc", k=200))],
        "key string, p long, pid long",
    )
    ivs = spark.createDataFrame(
        [
            (k, s, s + ln, j)
            for j, (k, s, ln) in enumerate(
                (rnd.choice("abcd"), rnd.randint(0, 950), rnd.choice([0, 3, 40, 400]))
                for _ in range(60)
            )
        ],
        "key string, s long, e long, iid long",
    )
    fast = interval_join(pts, ivs, "key", "p", "s", "e", bucket=50)
    naive = pts.join(ivs, "key").filter("p >= s AND p <= e")
    assert fast.count() == naive.count()
    assert (
        fast.select("pid", "iid").exceptAll(naive.select("pid", "iid")).count() == 0
    )
    assert (
        naive.select("pid", "iid").exceptAll(fast.select("pid", "iid")).count() == 0
    )


def test_interval_join_rejects_column_collisions(spark):
    import pytest as _pytest

    from iceberg_tracking_spark.operators.joins import interval_join

    pts = spark.createDataFrame([("a", 1, 2)], "key string, p long, x long")
    ivs = spark.createDataFrame([("a", 0, 5, 9)], "key string, s long, e long, x long")
    with _pytest.raises(ValueError, match="collide"):
        interval_join(pts, ivs, "key", "p", "s", "e", bucket=10)


def test_versioned_table_delete_where(spark, tmp_path):
    """Row-level DELETE commits a snapshot; CDC shows the deleted rows;
    time travel still reads the pre-delete state."""
    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt_del"))
    t.write(spark.range(0, 10).select(F.col("id").alias("k")))
    v = t.delete_where(spark, "k % 3 = 0")
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == [1, 2, 4, 5, 7, 8]
    # time travel: version 0 still has everything
    assert t.read(spark, version=0).count() == 10
    # CDC sees exactly the deleted multiset
    cdc = t.changes(spark, from_version=0).toPandas()
    dels = sorted(cdc[cdc._change_type == "delete"].k)
    assert dels == [0, 3, 6, 9]
    assert len(cdc[cdc._change_type == "insert"]) == 0
    assert v == 1
    import pytest as _pytest

    empty = VersionedTable(str(tmp_path / "vt_empty"))
    with _pytest.raises(ValueError, match="empty table"):
        empty.delete_where(spark, "k = 1")


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: only rows where the predicate is TRUE are
    removed. Rows where it evaluates to NULL (e.g. `v > 5` with v IS
    NULL) must survive — a bare NOT(pred) filter would silently drop
    them and CDC would report phantom deletes."""
    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt_null_del"))
    t.write(
        spark.createDataFrame(
            [(1, 10.0), (2, None), (3, 3.0), (4, None), (5, 7.0)],
            "k long, v double",
        )
    )
    t.delete_where(spark, "v > 5")
    kept = sorted(r["k"] for r in t.read(spark).collect())
    assert kept == [2, 3, 4], "NULL-predicate rows must NOT be deleted"
    cdc = t.changes(spark, from_version=0).toPandas()
    assert sorted(cdc[cdc._change_type == "delete"].k) == [1, 5]


def test_quality_gate_blocks_bad_writes(spark, tmp_path):
    """checked_write commits only when every expectation passes; a
    failing batch raises with the failing rule names and the table
    version is untouched (no write-then-rollback window)."""
    import pytest as _pytest

    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.sources.quality import (
        QualityGateError,
        checked_write,
        evaluate_expectations,
    )

    t = VersionedTable(str(tmp_path / "vt_gate"))
    good = spark.createDataFrame([(1, 5.0), (2, 6.0)], "k long, v double")
    checks = {
        "no_null_keys": "count_if(k IS NULL) = 0",
        "v_in_band": "min(v) >= 0 AND max(v) <= 100",
        "min_volume": "count(*) >= 2",
    }
    v = checked_write(t, good, checks)
    assert v == 0 and t.read(spark).count() == 2

    bad = spark.createDataFrame([(None, 500.0)], "k long, v double")
    with _pytest.raises(QualityGateError) as ei:
        checked_write(t, bad, checks)
    assert ei.value.failures == ["min_volume", "no_null_keys", "v_in_band"]
    assert t.current_version() == 0  # nothing committed

    # one agg pass semantics + NULL-means-fail on empty input
    empty = spark.createDataFrame([], "k long, v double")
    res = evaluate_expectations(empty, checks)
    assert res == {"no_null_keys": True, "v_in_band": False, "min_volume": False}


def test_remove_orphans_deletes_only_unreferenced_dirs(spark, tmp_path):
    """Orphan cleanup: directories no manifest version references
    (crashed-write debris) are removed; every live snapshot survives
    and re-scans identically afterward."""
    import os

    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt_orphan"))
    t.write(spark.range(0, 5).select(F.col("id").alias("k")))
    t.write(spark.range(5, 9).select(F.col("id").alias("k")))
    # simulate a crashed write: data directory exists, manifest never
    # learned about it
    stray = os.path.join(t.base, "v=99")
    spark.range(100).write.parquet(stray)
    before = sorted(r["k"] for r in t.read(spark).collect())
    # default age cutoff (~3 days) refuses the freshly-written stray —
    # it is indistinguishable from an in-flight writer's target dir,
    # and reclaiming it would corrupt that writer's snapshot-to-be
    assert t.remove_orphans() == [] and os.path.exists(stray)
    removed = t.remove_orphans(older_than_seconds=0)
    assert removed == ["v=99"] and not os.path.exists(stray)
    # both live snapshots re-scan bit-identically
    assert sorted(r["k"] for r in t.read(spark).collect()) == before
    assert t.read(spark, version=0).count() == 5
    # idempotent
    assert t.remove_orphans(older_than_seconds=0) == []


def test_partition_evolution_rewrites_layout_keeps_history(spark, tmp_path):
    """Partition evolution: the current snapshot adopts a new layout as
    a new commit; data is unchanged, the new layout actually prunes,
    and time travel still reads the pre-evolution layout."""
    import os

    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt_evolve"))
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("bucket")
    )
    t.write(df)  # v0: unpartitioned
    v = t.evolve_partitioning(spark, ["bucket"])
    assert v == 1
    got = sorted((r["k"], r["bucket"]) for r in t.read(spark).collect())
    want = sorted((r["k"], r["bucket"]) for r in df.collect())
    assert got == want
    # the new snapshot is physically hive-partitioned (prunable dirs)
    vdir = os.path.join(t.base, "v=1")
    assert any(d.startswith("bucket=") for d in os.listdir(vdir))
    # history keeps the old layout
    assert t.read(spark, version=0).count() == 100
    assert not any(
        d.startswith("bucket=") for d in os.listdir(os.path.join(t.base, "v=0"))
    )
    # optimistic concurrency still guards the rewrite
    import pytest as _pytest

    from iceberg_tracking_spark.sources.catalog import ConcurrentWriteError

    m_stale = t.current_version()
    t.write(df, expected_current=m_stale)  # someone else lands v2
    with _pytest.raises(ConcurrentWriteError):
        t.write(df, expected_current=m_stale)


def test_write_audit_publish_flow(spark, tmp_path):
    """Iceberg-style WAP: stage a snapshot (invisible to readers),
    audit it, publish by manifest flip; a failing audit never goes
    live; abandoned stages are expirable garbage."""
    import pytest as _pytest

    from iceberg_tracking_spark.sources.catalog import VersionedTable
    from iceberg_tracking_spark.sources.quality import QualityGateError

    t = VersionedTable(str(tmp_path / "vt_wap"))
    t.write(
        spark.createDataFrame([(1, 5.0), (2, 7.0)], "k long, v double")
    )
    # stage a good batch: readers still see v0
    staged = t.stage(
        spark.createDataFrame([(1, 5.0), (2, 7.0), (3, 9.0)], "k long, v double")
    )
    assert t.current_version() == 0 and t.read(spark).count() == 2
    # auditors can read the staged snapshot explicitly
    assert t.read(spark, version=staged).count() == 3
    # publish with a passing audit → atomic flip, no data rewrite
    t.publish(staged, spark, checks={"no_null_keys": "count_if(k IS NULL) = 0"})
    assert t.current_version() == staged and t.read(spark).count() == 3
    # stage a bad batch; the publish-time audit blocks the flip
    bad = t.stage(
        spark.createDataFrame([(None, 1.0)], "k long, v double"), mode="append"
    )
    with _pytest.raises(QualityGateError, match="no_null_keys"):
        t.publish(bad, spark, checks={"no_null_keys": "count_if(k IS NULL) = 0"})
    assert t.current_version() == staged  # still the audited snapshot
    # a corrected batch stages and publishes past the abandoned one...
    fixed = t.stage(
        spark.createDataFrame([(4, 2.0)], "k long, v double"), mode="append"
    )
    t.publish(fixed, spark, checks={"no_null_keys": "count_if(k IS NULL) = 0"})
    assert t.read(spark).count() == 4
    # ...and the abandoned stage is ordinary history: expire() reclaims it
    expired = t.expire(keep_last=1)
    assert bad in expired
    assert t.read(spark).count() == 4


def test_manifest_stats_prune_files_and_exact_results(spark, tmp_path):
    """Iceberg-style manifest pruning: a range-clustered write records
    per-file min/max at commit; a range read eliminates non-overlapping
    files at PLANNING time and still returns exactly what a full scan +
    filter returns."""
    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt_stats"))
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    # range-cluster on k so per-file [min, max] are disjoint slices
    t.write(df.repartitionByRange(10, "k"), stats_cols=["k"])
    keep, total = t.prune_files("k", 2_000, 2_999)
    assert total == 10
    assert 1 <= len(keep) <= 3, f"pruning ineffective: {len(keep)}/{total}"
    got = sorted(r["k"] for r in t.read_pruned(spark, "k", 2_000, 2_999).collect())
    want = sorted(
        r["k"] for r in t.read(spark).filter("k BETWEEN 2000 AND 2999").collect()
    )
    assert got == want and len(got) == 1000
    # out-of-domain range: zero files, empty-but-typed result
    keep2, _ = t.prune_files("k", 1_000_000, 2_000_000)
    assert keep2 == []
    empty = t.read_pruned(spark, "k", 1_000_000, 2_000_000)
    assert empty.count() == 0 and set(empty.columns) == {"k", "v"}
    # snapshots written without stats refuse to pretend they can prune
    t.write(df)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no manifest stats"):
        t.prune_files("k", 0, 10)


def test_manifest_stats_prune_partitioned_layout(spark, tmp_path):
    """Pruning composes with hive partitioning: basePath keeps the
    partition column, and file elimination works inside partition
    directories."""
    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt_stats_part"))
    df = spark.range(0, 4_000).select(
        (F.col("id") % 2).cast("string").alias("seq"),
        F.col("id").alias("k"),
    )
    t.write(
        df.repartitionByRange(8, "k"),
        partition_by=["seq"],
        stats_cols=["k"],
    )
    keep, total = t.prune_files("k", 0, 499)
    assert len(keep) < total
    out = t.read_pruned(spark, "k", 0, 499)
    assert set(out.columns) == {"seq", "k"}  # partition col preserved
    assert out.count() == 500
    # identical rows (incl. the dir-inferred partition values) as a
    # full scan + filter through the ordinary read path
    want = t.read(spark).filter("k BETWEEN 0 AND 499")
    assert out.exceptAll(want).count() == 0
    assert want.exceptAll(out).count() == 0


def test_cdc_spans_schema_evolution(spark, tmp_path):
    """changes() across an added column must not error: the old
    snapshot reads the new column as NULL (Iceberg add-column
    semantics), so the change feed reports exactly the rows whose
    visible values differ."""
    from iceberg_tracking_spark.sources.catalog import VersionedTable

    t = VersionedTable(str(tmp_path / "vt_schema_ev"))
    t.write(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    # v1 adds column `w`, changes k=2's v, keeps k=1 untouched
    t.write(
        spark.createDataFrame(
            [(1, 1.0, None), (2, 9.0, "x"), (3, 3.0, "y")],
            "k long, v double, w string",
        )
    )
    cdc = t.changes(spark, from_version=0, key_cols=["k"]).toPandas()
    by_type = cdc.groupby("_change_type").k.apply(list).to_dict()
    assert by_type.get("insert") == [3]
    assert sorted(by_type.get("update_postimage", [])) == [2]
    # k=1: only difference would be w (NULL in both views) → no change row
    assert 1 not in set(cdc.k)
    # row-level (un-keyed) diff across the schema change also works
    row_cdc = t.changes(spark, from_version=0).toPandas()
    assert set(row_cdc.columns) >= {"k", "v", "w", "_change_type"}


def test_binning_edges_and_assignment_invariants(spark):
    """operators/binning.py invariants on an adversarial input (heavy
    ties, duplicates spanning rank-bins): (1) edges are strictly
    increasing after duplicate collapse and number ≤ n_bins-1;
    (2) per-row bins agree with the rank formula they were derived
    from on tie-free data; (3) bin populations differ by ≤ 1 on
    tie-free data; (4) assign ≡ counts (the streamed monitor and the
    per-row assigner can never disagree)."""
    from pyspark.sql import functions as F

    from iceberg_tracking_spark.operators.binning import (
        assign_bin_by_edges,
        bin_counts_by_edges,
        reference_edges,
    )

    # tie-free: values are a shuffled permutation of 0..999
    df = spark.range(1000).select(
        ((F.col("id") * 7919) % 1000).alias("v"), F.col("id").alias("k")
    )
    edges = reference_edges(df, "v", "k", n_bins=10)
    es = [r["edge"] for r in edges.orderBy("edge").collect()]
    assert len(es) == 9 and es == sorted(set(es))
    counts = {
        r["bin"]: r["n"]
        for r in bin_counts_by_edges(df, edges, "v", "k", "n").collect()
    }
    assert sorted(counts) == list(range(10))
    assert max(counts.values()) - min(counts.values()) <= 1
    # per-row assignment is consistent with the aggregated counts
    assigned = assign_bin_by_edges(df.select("v", "k"), edges, "v", out="bin")
    re_counts = {
        r["bin"]: r["cnt"]
        for r in assigned.groupBy("bin").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    assert re_counts == counts

    # heavy ties: one value owns 60% of rows — its rank-bins collapse
    # into ONE occupied bin on both the edge and the assignment side
    tied = spark.range(1000).select(
        F.when(F.col("id") < 600, 5).otherwise(F.col("id")).alias("v"),
        F.col("id").alias("k"),
    )
    t_edges = reference_edges(tied, "v", "k", n_bins=10)
    t_counts = {
        r["bin"]: r["n"]
        for r in bin_counts_by_edges(tied, t_edges, "v", "k", "n").collect()
    }
    # every row with v=5 lands in the same bin (strictly-below rule)
    five_bin = [
        r["bin"]
        for r in assign_bin_by_edges(
            tied.filter(F.col("v") == 5).distinct(), t_edges, "v"
        ).collect()
    ]
    assert len(set(five_bin)) == 1
    assert t_counts[five_bin[0]] >= 600
    assert sum(t_counts.values()) == 1000


def test_discover_sequences_single_and_multi_layout(tmp_path):
    """S6 faithful discovery (reference helpers.py:575-662): a root
    with images/ directly is ONE sequence named after the root; a root
    of subdirectories yields one entry per subdir that has images/,
    skipping those without; path keys follow the reference layout."""
    from iceberg_tracking_spark.sources.mot import discover_sequences

    # multi-sequence: two valid, one invalid (no images/), one file
    multi = tmp_path / "glacier"
    for seq in ["seq_a", "seq_b"]:
        (multi / seq / "images").mkdir(parents=True)
        (multi / seq / "ground_truth").mkdir()
    (multi / "broken").mkdir()  # no images/ -> skipped
    (multi / "notes.txt").write_text("x")  # non-dir -> skipped
    got = discover_sequences(str(multi))
    assert sorted(got) == ["seq_a", "seq_b"]
    e = got["seq_a"]
    assert e["images"].endswith("seq_a/images")
    assert e["ground_truth"].endswith("seq_a/ground_truth/gt.txt")
    assert e["detections"].endswith("seq_a/detections/det.txt")
    assert e["eval"].endswith("seq_a/tracking/eval.txt")
    assert set(e) == {
        "images", "ground_truth", "gt_embeddings", "detections",
        "det_embeddings", "tracking", "eval", "track_embeddings",
    }

    # single-sequence: images/ at the root, named after the root dir
    single = tmp_path / "clear"
    (single / "images").mkdir(parents=True)
    got = discover_sequences(str(single))
    assert list(got) == ["clear"]
    assert got["clear"]["images"].endswith("clear/images")


def test_bh_stepup_planted_pvalues(spark):
    """BH step-up on planted p-values — pins the two subtleties the
    true-null driver fixture (q_benjamini_hochberg) never exercises:
    (a) the rejected set is a RANK PREFIX, including a test whose own
    p exceeds its threshold when a later rank satisfies its own
    (p=0.013 > 2/10*0.05 = 0.010, rescued by rank 3's 0.014 <= 0.015);
    (b) nothing rejected => all-false flags, and everything-tiny =>
    all-true. m = 10, alpha = 0.05."""
    from iceberg_tracking_spark.operators.stats import bh_stepup

    ps = [0.001, 0.013, 0.014, 0.20, 0.25, 0.30, 0.40, 0.60, 0.80, 0.95]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(ps)], "test_id INT, p_value DOUBLE"
    )
    out = bh_stepup(df, "p_value", ["test_id"]).orderBy("k").collect()
    flags = [r["rejected"] for r in out]
    # k* = 3: p_(3)=0.014 <= 3/10*0.05=0.015; ranks 1-3 rejected —
    # including rank 2 (0.013 > 0.010, the step-up rescue)
    assert flags == [True, True, True] + [False] * 7
    assert [r["k"] for r in out] == list(range(1, 11))
    assert abs(out[1]["bh_thresh"] - 0.010) < 1e-12
    # true-null family: nothing rejected
    null_df = spark.createDataFrame(
        [(i, 0.5 + 0.04 * i) for i in range(10)],
        "test_id INT, p_value DOUBLE",
    )
    assert not any(
        r["rejected"] for r in bh_stepup(null_df, "p_value", ["test_id"]).collect()
    )
    # all-signal family: everything rejected
    tiny = spark.createDataFrame(
        [(i, 0.0001 * (i + 1)) for i in range(10)],
        "test_id INT, p_value DOUBLE",
    )
    assert all(
        r["rejected"] for r in bh_stepup(tiny, "p_value", ["test_id"]).collect()
    )


def test_als_step_solves_normal_equations(spark, sf_dir):
    """Oracle parity cannot catch an algebra slip both engines share
    (e.g. a transposed Cramer column) — re-derive each user's normal
    equations (A = Q'Q + lambda*n*I, b = Q'r) independently in numpy
    from the raw interactions and assert A @ p ~= b for the emitted
    factors. Also pins det > 0 (the ridge guarantees SPD) via every
    factor being non-null."""
    import numpy as np

    from iceberg_tracking_spark.plans.queries_features import (
        _ALS_LAMBDA,
        q_als_step,
    )
    from iceberg_tracking_spark.sources.tables import load_table

    out = {r["o_custkey"]: r for r in q_als_step(spark, sf_dir).collect()}
    assert out and all(
        r["p1"] is not None and r["p2"] is not None and r["p3"] is not None
        for r in out.values()
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rows = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select("o_custkey", "l_partkey", "l_quantity")
        .collect()
    )
    acc: dict[int, list] = {}
    for r in rows:
        p = r["l_partkey"]
        f = np.array([(p % 7) - 3, ((p * 31) % 11) - 5, ((p * 17) % 5) - 2], float)
        A, b, n = acc.setdefault(r["o_custkey"], [np.zeros((3, 3)), np.zeros(3), 0])
        A += np.outer(f, f)
        b += f * float(r["l_quantity"])
        acc[r["o_custkey"]][2] = n + 1
    assert set(acc) == set(out)
    for cust, (A, b, n) in acc.items():
        A = A + _ALS_LAMBDA * n * np.eye(3)
        p = np.array([out[cust]["p1"], out[cust]["p2"], out[cust]["p3"]])
        assert out[cust]["n_items"] == n
        resid = np.abs(A @ p - b).max()
        assert resid < 1e-6, f"cust {cust}: |Ap - b| = {resid}"


def test_bh_normal_tail_polynomial_accuracy():
    """The A&S 26.2.17 polynomial q_benjamini_hochberg evaluates on
    both engines must agree with the true normal tail (stdlib erfc)
    within its documented 7.5e-8 bound — x2 for the two-sided p, well
    under the 6dp rounding grid. Checked across the z range the BH
    comparison actually discriminates on."""
    import math

    from iceberg_tracking_spark.plans.queries_advanced import (
        _BH_B,
        _BH_INV_SQRT_2PI,
    )

    for i in range(0, 601):
        x = i / 100.0  # z in [0, 6]
        t = 1.0 / (1.0 + 0.2316419 * x)
        poly = t * (
            _BH_B[0]
            + t * (_BH_B[1] + t * (_BH_B[2] + t * (_BH_B[3] + t * _BH_B[4])))
        )
        p = 2.0 * (_BH_INV_SQRT_2PI * math.exp(-x * x / 2.0)) * poly
        truth = math.erfc(x / math.sqrt(2.0))
        assert abs(p - truth) < 1.5e-7, (x, p, truth)


def test_bh_stepup_null_pvalue_fails_loudly(spark):
    """A NULL p-value must raise, not silently take rank 1 (bucket 0
    under asc-nulls-first) and potentially flip the whole rejected
    prefix — the silent-NULL-key hazard class distributed_cumulative's
    validate_keys guard exists for. Callers with NULL-able tests
    (zero-variance segments) filter before the step-up."""
    import pytest

    from iceberg_tracking_spark.operators.stats import bh_stepup

    df = spark.createDataFrame(
        [(0, 0.01), (1, None), (2, 0.5)], "test_id INT, p_value DOUBLE"
    )
    with pytest.raises(Exception, match="(?i)null|assert"):
        bh_stepup(df, "p_value", ["test_id"]).collect()
    # NaN is the OTHER silent route (0/0 in the caller's z-chain):
    # Spark orders NaN greatest, so without the guard it would take
    # rank m and quietly deflate every threshold — must raise too
    nan_df = spark.createDataFrame(
        [(0, 0.01), (1, float("nan")), (2, 0.5)], "test_id INT, p_value DOUBLE"
    )
    with pytest.raises(Exception, match="(?i)nan|assert"):
        bh_stepup(nan_df, "p_value", ["test_id"]).collect()


def test_minhash_signature_contract_pinned(spark, sf_dir):
    """The FROZEN signature contract, pinned against an independent
    pure-Python replay. Until r8 this test compared minhash_lanes to
    minhash_bands (the two pipelines were deliberate duplicates); the
    unification made that comparison tautological, so the pin is now
    EXTERNAL: lanes = per-shingle md5 hex chunks (two salted digests,
    4×8-hex-char lanes each), min over DISTINCT 3-shingles of the
    lowercased whitespace tokens; band_key = md5 over the concatenated
    lane pair. Any change to the lane/band definition breaks every
    persisted streaming dedup-gate index, so this must fail loudly."""
    import hashlib

    from iceberg_tracking_spark.operators.textdedup import (
        BAND_SIZE,
        N_PERM,
        bands_from_lanes,
        minhash_bands,
        minhash_lanes,
    )
    from iceberg_tracking_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50).localCheckpoint()
    got_lanes = {
        r["doc_id"]: tuple(r[f"m{s}"] for s in range(N_PERM))
        for r in minhash_lanes(docs).collect()
    }
    got_bands = {
        (r["doc_id"], r["band"], r["band_key"])
        for r in minhash_bands(docs).collect()
    }
    # unification sanity: bands ARE the banding of the lanes
    rebuilt = {
        (r["doc_id"], r["band"], r["band_key"])
        for r in bands_from_lanes(minhash_lanes(docs)).collect()
    }
    assert rebuilt == got_bands and len(got_bands) > 0

    # the external replay — stdlib only, no shared Spark expressions
    want_lanes, want_bands = {}, set()
    for row in docs.select("doc_id", "text").collect():
        toks = [t for t in row["text"].lower().split() if t]
        shingles = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        if not shingles:
            continue
        lanes = []
        for s in range(N_PERM):
            salt = "" if s < 4 else "x"
            lanes.append(
                min(
                    hashlib.md5((salt + sh).encode()).hexdigest()[
                        (s % 4) * 8 : (s % 4) * 8 + 8
                    ]
                    for sh in shingles
                )
            )
        want_lanes[row["doc_id"]] = tuple(lanes)
        for b in range(N_PERM // BAND_SIZE):
            key = hashlib.md5(
                "".join(
                    lanes[b * BAND_SIZE + j] for j in range(BAND_SIZE)
                ).encode()
            ).hexdigest()
            want_bands.add((row["doc_id"], b, key))
    assert got_lanes == want_lanes
    assert got_bands == want_bands

    # the capped variant still drops exactly the over-cap buckets
    capped = {
        (r["doc_id"], r["band"], r["band_key"])
        for r in minhash_bands(docs, hot_band_cap=2).collect()
    }
    from collections import Counter

    bucket_n = Counter((b, k) for _, b, k in want_bands)
    want_capped = {
        (d, b, k) for d, b, k in want_bands if bucket_n[(b, k)] <= 2
    }
    assert capped == want_capped


def test_msprt_invariants_and_independent_formula(spark, sf_dir):
    """Always-valid p must be non-increasing in time (the property that
    makes continuous monitoring safe), Lambda positive, p in (0,1] —
    checked on the real stream. And the mixture-SPRT algebra is
    re-derived independently in pure Python for the final day (both
    engines share the relational formula, so oracle parity alone
    cannot catch a shared transcription slip — the q_als_step residual
    rationale)."""
    import math

    from iceberg_tracking_spark.plans.queries_advanced import (
        _MSPRT_TAU,
        q_msprt,
    )
    from iceberg_tracking_spark.sources.tables import load_table

    rows = sorted(
        q_msprt(spark, sf_dir).collect(), key=lambda r: r["day_num"]
    )
    assert rows
    ps = [r["p_always_valid"] for r in rows]
    assert all(0 < p <= 1 for p in ps)
    assert all(a >= b for a, b in zip(ps, ps[1:])), "p must never increase"
    assert all(r["lam"] > 0 for r in rows)

    ev = (
        load_table(spark, sf_dir, "events")
        .filter("ts IS NOT NULL")
        .selectExpr(
            "CAST(floor(unix_millis(ts) / 86400000) AS LONG) AS day_num",
            "user_id % 2 AS variant",
            "CAST(round(value * 100, 0) AS LONG) AS cents",
        )
        .collect()
    )
    last = rows[-1]["day_num"]
    n = [0, 0]
    s = [0, 0]
    q = [0, 0]
    for r in ev:
        if r["day_num"] <= last:
            v = r["variant"]
            n[v] += 1
            s[v] += r["cents"]
            q[v] += r["cents"] * r["cents"]
    m0, m1 = s[0] / n[0], s[1] / n[1]
    s2 = (q[0] + q[1] - n[0] * m0 * m0 - n[1] * m1 * m1) / (n[0] + n[1] - 2)
    vv = s2 * (1.0 / n[0] + 1.0 / n[1])
    delta = m0 - m1
    lam = math.sqrt(vv / (vv + _MSPRT_TAU)) * math.exp(
        delta * delta * _MSPRT_TAU / (2.0 * vv * (vv + _MSPRT_TAU))
    )
    assert rows[-1]["n_a"] == n[0] and rows[-1]["n_b"] == n[1]
    assert abs(rows[-1]["lam"] - lam) < 2e-6, (rows[-1]["lam"], lam)


def test_mann_whitney_matches_pure_python(spark, sf_dir):
    """q_mann_whitney's grid-rank algebra vs an independent pure-Python
    Mann-Whitney (explicit midranks over the pooled sorted sample, the
    textbook tie-corrected normal approximation) — catches algebra
    slips the DuckDB oracle cannot (both engines share the lifted
    2R_A/tie formulas; this check does not)."""
    import math

    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.tables import load_table

    got = {
        r["event_type"]: r
        for r in QUERIES["q_mann_whitney"].fn(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.col("user_id") % 2).alias("v"),
            F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        )
        .collect()
    )
    by_seg: dict = {}
    for r in ev:
        by_seg.setdefault(r["event_type"], []).append((r["c"], r["v"]))
    B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
    for seg, rows in by_seg.items():
        rows.sort()
        n = len(rows)
        # explicit midranks (1-based) over the pooled sorted sample
        ranks, i = {}, 0
        while i < n:
            j = i
            while j < n and rows[j][0] == rows[i][0]:
                j += 1
            mid = (i + 1 + j) / 2  # mean of ranks i+1..j
            ranks[rows[i][0]] = (mid, j - i)
            i = j
        ra = sum(ranks[c][0] for c, v in rows if v == 0)
        na = sum(1 for _, v in rows if v == 0)
        nb = n - na
        u = ra - na * (na + 1) / 2
        ties = sum(t**3 - t for _, t in ranks.values())
        var = na * nb / 12 * ((n + 1) - ties / (n * (n - 1)))
        z = round((u - na * nb / 2) / math.sqrt(var), 6)
        x = abs(z)
        tt = 1.0 / (1.0 + 0.2316419 * x)
        pdf = 0.3989422804014327 * math.exp(-(x * x) / 2.0)
        p = round(
            2.0 * pdf * (tt * (B[0] + tt * (B[1] + tt * (B[2] + tt * (B[3] + tt * B[4]))))),
            6,
        )
        g = got[seg]
        assert (g["n_a"], g["n_b"]) == (na, nb), seg
        assert g["u_a"] == u, seg
        assert g["z_score"] == z, (seg, g["z_score"], z)
        assert g["p_value"] == p, (seg, g["p_value"], p)


def test_acf_matches_numpy(spark, sf_dir):
    """q_acf's integer-moment expansion vs numpy computed the DIRECT
    way — center the present-day series on the global mean and sum the
    float products per lag (the formulation the query deliberately
    avoids for determinism). Agreement to ~1e-9 proves the expansion
    P_k - xbar*(H+T) + m*xbar^2 is the same quantity."""
    import numpy as np

    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.tables import load_table

    got = {
        r["lag"]: (r["n_pairs"], r["acf"])
        for r in QUERIES["q_acf"].fn(spark, sf_dir).collect()
    }
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy((F.floor(F.unix_millis("ts") / 86400000)).alias("d"))
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("x"))
        .collect()
    )
    xs = {r["d"]: float(r["x"]) for r in daily}
    days = sorted(xs)
    arr = np.array([xs[d] for d in days])
    xbar = arr.mean()
    # pairs on PRESENT days only (calendar gaps contribute no pair)
    c = {}
    for k in range(8):
        pairs = [
            (xs[d] - xbar) * (xs[d + k] - xbar) for d in days if d + k in xs
        ]
        c[k] = (len(pairs), sum(pairs) / len(arr))
    assert got[0][1] == 1.0
    for k in range(8):
        assert got[k][0] == c[k][0], k
        assert abs(got[k][1] - c[k][1] / c[0][1]) < 1e-6, k


def test_slope_one_matches_pandas(spark, sf_dir):
    """q_slope_one vs an independent pandas replay of weighted Slope
    One (explicit float deviations dev=sd/cnt and the weighted mean
    SUM(cnt*(dev+r))/SUM(cnt) — the float path the query's integer
    lift avoids). Top-3 per sampled user must agree."""
    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.tables import load_table

    sdf = QUERIES["q_slope_one"].fn(spark, sf_dir)
    got = {(r["u"], r["j"]): (r["support"], r["pred"]) for r in sdf.collect()}
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", F.col("l_quantity").cast("long").alias("q")
    )
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ratings = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .agg(F.sum("q").alias("r"))
        .toPandas()
    )
    # cap replay: first 64 items per user in item order
    ratings = ratings.sort_values(["u", "i"]).groupby("u").head(64)
    rated = {(r.u, r.i) for r in ratings.itertuples()}
    rmap = {(r.u, r.i): r.r for r in ratings.itertuples()}
    by_user: dict = {}
    for r in ratings.itertuples():
        by_user.setdefault(r.u, []).append((r.i, r.r))
    dev: dict = {}
    for items in by_user.values():
        for ia, ra in items:
            for ib, rb in items:
                if ia != ib:
                    c, s = dev.get((ia, ib), (0, 0))
                    dev[(ia, ib)] = (c + 1, s + (ra - rb))
    dev = {k: v for k, v in dev.items() if v[0] >= 2}
    # full (uncapped) rating relation for target users + anti-join
    full = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .agg(F.sum("q").alias("r"))
        .toPandas()
    )
    full_rated = {(r.u, r.i) for r in full.itertuples()}
    want = {}
    for u in sorted({r.u for r in full.itertuples() if r.u % 100 == 1}):
        acc: dict = {}
        for r in full.itertuples():
            if r.u != u:
                continue
            for (ja, ib), (cnt, sd) in dev.items():
                if ib == r.i and (u, ja) not in full_rated:
                    n, d = acc.get(ja, (0.0, 0))
                    acc[ja] = (n + cnt * (sd / cnt + r.r), d + cnt)
        scored = sorted(
            ((n / d, -j, j, d) for j, (n, d) in acc.items()), reverse=True
        )
        for p, _, j, d in scored[:3]:
            want[(u, j)] = (d, round(p, 6))
    assert set(got) == set(want)
    for k in got:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) < 1e-6, k


def test_zipf_fit_matches_numpy_lstsq(spark, sf_dir):
    """q_zipf_fit's micro-grid OLS moments vs numpy.linalg.lstsq run
    directly on the same 6dp-rounded (ln rank, ln count) points — the
    float path the query's integer lift avoids. Catches
    moment-expansion slips the oracle cannot (both engines share the
    expansion)."""
    import math

    import numpy as np

    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.tables import load_table

    got = {
        r["lang"]: (r["n_points"], r["slope"], r["intercept"], r["r2"])
        for r in QUERIES["q_zipf_fit"].fn(spark, sf_dir).collect()
    }
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "lang",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("w"),
        )
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    by_lang: dict = {}
    for r in toks:
        by_lang.setdefault(r["lang"], []).append((-r["c"], r["w"]))
    for lang, rows in by_lang.items():
        rows.sort()
        pts = [
            (round(math.log(rk), 6), round(math.log(-negc), 6))
            for rk, (negc, _) in enumerate(rows[:200], start=1)
        ]
        x = np.array([p[0] for p in pts])
        y = np.array([p[1] for p in pts])
        A = np.vstack([x, np.ones_like(x)]).T
        (slope, intercept), res, _, _ = np.linalg.lstsq(A, y, rcond=None)
        yhat = slope * x + intercept
        ss_res = float(((y - yhat) ** 2).sum())
        ss_tot = float(((y - y.mean()) ** 2).sum())
        r2 = 1.0 - ss_res / ss_tot
        n, g_slope, g_int, g_r2 = got[lang]
        assert n == len(pts), lang
        assert abs(g_slope - slope) < 1e-5, (lang, g_slope, slope)
        assert abs(g_int - intercept) < 1e-5, (lang, g_int, intercept)
        assert abs(g_r2 - r2) < 1e-5, (lang, g_r2, r2)
        # the corpus-health reading on THIS corpus: tokens are drawn
        # ~uniformly from a synthetic vocabulary, so the head is FLAT
        # (slope near 0, r² near 0) — exactly the non-natural-text
        # signature the audit exists to flag (natural text sits near
        # slope -1 with high r²; see the planted-Zipf test below)
        assert -0.6 < g_slope < 0.0, (lang, g_slope)


def test_zipf_fit_detects_planted_zipf_corpus(spark, tmp_path):
    """The positive control for the audit: a corpus PLANTED with exact
    Zipf counts (token i appears floor(2000/i) times) must fit slope
    ≈ -1 with r² ≈ 1 — together with the flat-head reading on the
    uniform synthetic corpus, this pins both decision directions."""
    from iceberg_tracking_spark.plans import QUERIES

    words = []
    for i in range(1, 201):
        words.extend([f"tok{i:03d}"] * (2000 // i))
    text = " ".join(words)
    spark.createDataFrame(
        [(0, text, "zz", "synthetic", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = QUERIES["q_zipf_fit"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0]["lang"] == "zz"
    assert rows[0]["n_points"] == 200
    assert -1.05 < rows[0]["slope"] < -0.95, rows[0]["slope"]
    assert rows[0]["r2"] > 0.99, rows[0]["r2"]


# ------------------------- Spearman / Kruskal-Wallis / permutation / PAV


def test_spearman_planted_monotone(spark):
    """Perfectly monotone cells → rho = 1; anti-monotone → −1; constant
    y → NULL (zero variance guard)."""
    from iceberg_tracking_spark.operators.stats import spearman_from_cells

    rows = []
    for i in range(1, 21):
        rows.append(("up", i, i * 7 + 3, 1))      # strictly increasing
        rows.append(("down", i, 1000 - i * 5, 1))  # strictly decreasing
        rows.append(("flat", i, 42, 1))            # y constant
    cells = spark.createDataFrame(rows, "seg string, x long, yc long, cnt long")
    out = {r["seg"]: r for r in spearman_from_cells(cells).collect()}
    assert out["up"]["rho"] == 1.0
    assert out["down"]["rho"] == -1.0
    assert out["flat"]["rho"] is None
    assert out["up"]["n"] == 20


def test_spearman_ties_match_scipy_formula(spark):
    """Tie-corrected rho on a small planted sample equals the
    textbook Pearson-of-midranks computed by hand in Python."""
    from iceberg_tracking_spark.operators.stats import spearman_from_cells

    xs = [1, 1, 2, 2, 2, 3, 5, 5, 8, 9]
    ys = [4, 7, 4, 9, 9, 11, 2, 15, 15, 20]

    def midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            mid = (i + 1 + j) / 2.0
            for t in range(i, j):
                ranks[order[t]] = mid
            i = j
        return ranks

    rx, ry = midranks(xs), midranks(ys)
    n = len(xs)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = (
        sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)
    ) ** 0.5
    expected = round(num / den, 6)

    from collections import Counter

    cnt = Counter(zip(xs, ys))
    cells = spark.createDataFrame(
        [("s", x, y, c) for (x, y), c in cnt.items()],
        "seg string, x long, yc long, cnt long",
    )
    rho = spearman_from_cells(cells).collect()[0]["rho"]
    assert abs(rho - expected) < 2e-6, (rho, expected)


def test_kruskal_wallis_planted_shift(spark):
    """One group shifted far from the others → large H, tiny p; three
    identical groups → H = 0 (up to ties) and p near 1. Also pins the
    exact df=2 tail p = exp(−H/2)."""
    import math

    from iceberg_tracking_spark.operators.stats import kw3_from_rows

    rows = []
    for i in range(60):
        rows.append(("shifted", i % 3, 1000 + i if i % 3 == 2 else i))
        rows.append(("null3", i % 3, (i * 17) % 40))
    df = spark.createDataFrame(
        rows, "event_type string, grp long, cents long"
    )
    out = {r["event_type"]: r for r in kw3_from_rows(df).collect()}
    sh = out["shifted"]
    assert sh["h_stat"] > 20, sh
    assert sh["p_value"] < 1e-4
    assert abs(sh["p_value"] - round(math.exp(-sh["h_stat"] / 2), 6)) < 1e-9
    assert out["null3"]["p_value"] > 0.05
    assert out["null3"]["n0"] == out["null3"]["n1"] == out["null3"]["n2"] == 20


def test_kruskal_wallis_missing_group_drops_segment(spark):
    from iceberg_tracking_spark.operators.stats import kw3_from_rows

    df = spark.createDataFrame(
        [("only2", 0, 5), ("only2", 1, 9)],
        "event_type string, grp long, cents long",
    )
    assert kw3_from_rows(df).count() == 0


def test_permutation_test_planted_effect(spark):
    """A huge variant-A shift → p at the grid floor 1/20; a true-null
    segment (identical per-user sums) → p = 1. The observed labeling
    is user_id % 2; permutations relabel by seeded hash."""
    from iceberg_tracking_spark.operators.stats import permutation_mean_diff

    rows = []
    for u in range(40):
        # effect: even users (variant A) get 10000, odd get 1
        rows.append(("effect", u, 10000 if u % 2 == 0 else 1, 1))
        # null: everyone identical → every permutation diff is 0 ≥ 0
        rows.append(("null", u, 500, 1))
    ua = spark.createDataFrame(
        rows, "event_type string, user_id long, sc long, nr long"
    )
    out = {r["event_type"]: r for r in permutation_mean_diff(ua, 19).collect()}
    assert out["effect"]["p_value"] == 0.05  # (1+0)/20: no relabel beats it
    assert out["null"]["p_value"] == 1.0
    assert out["effect"]["n_a"] == out["effect"]["n_b"] == 20
    assert abs(out["effect"]["obs_diff"] - (10000 - 1) / 100.0) < 1e-9


def test_isotonic_fit_equals_sequential_pav(spark):
    """The minimax form must equal the classic sequential
    pool-adjacent-violators on planted NON-monotone bins, and the fit
    must be non-decreasing."""
    from iceberg_tracking_spark.operators.stats import isotonic_fit

    bins = [  # (bin, n, s_y) with deliberate violations
        (0, 10, 1),
        (1, 10, 5),
        (2, 10, 3),   # violation vs bin 1
        (3, 10, 9),
        (4, 10, 2),   # deep violation
        (5, 10, 9),
        (6, 10, 10),
    ]

    def sequential_pav(bs):
        # classic pooling: blocks of [sum_y, n, n_bins], merged while
        # the previous block's average >= the current one's (exact
        # cross-multiplied comparison), then each block's average
        # expanded over its bins
        blocks = []
        for _, n, sy in bs:
            blocks.append([sy, n, 1])
            while len(blocks) > 1 and (
                blocks[-2][0] * blocks[-1][1]
                >= blocks[-1][0] * blocks[-2][1]
            ):
                sy2, n2, c2 = blocks.pop()
                blocks[-1][0] += sy2
                blocks[-1][1] += n2
                blocks[-1][2] += c2
        out = []
        for sy, n, c in blocks:
            out.extend([sy / n] * c)
        return out

    expected = sequential_pav(bins)
    df = spark.createDataFrame(bins, "bin long, n long, s_y long")
    got = {
        r["ib"]: r["g"] for r in isotonic_fit(df.localCheckpoint()).collect()
    }
    fit_seq = [got[b] for b, _, _ in bins]
    assert all(
        abs(a - b) < 1e-12 for a, b in zip(fit_seq, expected)
    ), (fit_seq, expected)
    assert all(
        fit_seq[i] <= fit_seq[i + 1] + 1e-12 for i in range(len(fit_seq) - 1)
    )


def test_isotonic_query_monotone_at_sf(spark, sf_dir):
    """The registered query's fitted curve is monotone non-decreasing
    in bin order on real data."""
    from iceberg_tracking_spark.plans.registry import QUERIES

    rows = sorted(
        QUERIES["q_isotonic_calibration"].fn(spark, sf_dir).collect(),
        key=lambda r: r["bin"],
    )
    fits = [r["iso_fit"] for r in rows]
    assert all(fits[i] <= fits[i + 1] + 1e-9 for i in range(len(fits) - 1))


def test_theil_sen_resists_planted_outlier(spark):
    """On y = 3x + noiseless data with ONE wild outlier, the median
    pairwise slope stays 3 exactly while OLS is dragged; also pins the
    even-pair-count middle averaging."""
    from iceberg_tracking_spark.plans.queries_features import (
        theil_sen_from_points,
    )

    rows = [("g", i, i, 3 * i) for i in range(1, 12)]
    rows.append(("g", 99, 12, 100000))  # one wild point
    pt = spark.createDataFrame(
        rows, "p_brand string, p_partkey long, x long, y long"
    )
    out = theil_sen_from_points(pt).collect()[0]
    # 66 clean pairs nail slope 3; 11 outlier pairs are a minority, so
    # the median survives
    assert out["ts_slope_cents"] == 3.0, out
    # OLS on the same points is wrecked (sanity of the contrast)
    import statistics

    xs = [r[2] for r in rows]
    ys = [r[3] for r in rows]
    mx, my = statistics.mean(xs), statistics.mean(ys)
    ols = sum((a - mx) * (b - my) for a, b in zip(xs, ys)) / sum(
        (a - mx) ** 2 for a in xs
    )
    assert ols > 100  # dragged three orders above the true slope


def test_theil_sen_even_pairs_averages_middles(spark):
    """Two x-levels with two y values each → 4 pairs, even count: the
    estimate is the mean of the 2nd and 3rd sorted slopes."""
    from iceberg_tracking_spark.plans.queries_features import (
        theil_sen_from_points,
    )

    # slopes between x=0 and x=2: (10-0)/2=5, (16-0)/2=8, (10-4)/2=3,
    # (16-4)/2=6 → sorted 3,5,6,8 → median = (5+6)/2 = 5.5
    rows = [
        ("g", 1, 0, 0),
        ("g", 2, 0, 4),
        ("g", 3, 2, 10),
        ("g", 4, 2, 16),
    ]
    pt = spark.createDataFrame(
        rows, "p_brand string, p_partkey long, x long, y long"
    )
    out = theil_sen_from_points(pt).collect()[0]
    assert out["n_pairs"] == 4
    assert out["ts_slope_cents"] == 5.5


def test_kendall_tau_matches_pure_python(spark, sf_dir):
    """q_kendall_tau's cell-pair algebra vs an independent pure-Python
    tau-b (explicit O(n²) pair loop over the raw binned rows, the
    textbook concordant/discordant/tie count) — catches algebra slips
    the DuckDB oracle cannot (both engines share the lifted cell
    formulas; this check does not)."""
    import math

    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.tables import load_table

    got = {
        r["returnflag"]: r
        for r in QUERIES["q_kendall_tau"].fn(spark, sf_dir).collect()
    }
    rows = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("seg"),
            F.col("l_quantity").cast("long").alias("x"),
            F.floor(F.col("l_extendedprice") / 5000).cast("long").alias("y"),
        )
        .collect()
    )
    by_seg: dict = {}
    for r in rows:
        by_seg.setdefault(r["seg"], []).append((r["x"], r["y"]))
    assert set(got) == set(by_seg)
    for seg, pts in by_seg.items():
        # cap the O(n²) loop: deterministic prefix is a valid sample
        # only if we recompute the spark side on the same subset — so
        # instead only run segments small enough to brute-force
        if len(pts) > 4000:
            continue
        n = len(pts)
        conc = disc = 0
        for i in range(n):
            for j in range(i + 1, n):
                dx = pts[i][0] - pts[j][0]
                dy = pts[i][1] - pts[j][1]
                if dx * dy > 0:
                    conc += 1
                elif dx * dy < 0:
                    disc += 1
        tx: dict = {}
        ty: dict = {}
        for x, y in pts:
            tx[x] = tx.get(x, 0) + 1
            ty[y] = ty.get(y, 0) + 1
        n0 = n * (n - 1)
        n1 = sum(t * (t - 1) for t in tx.values())
        n2 = sum(t * (t - 1) for t in ty.values())
        g = got[seg]
        assert g["n"] == n
        assert g["concordant"] == conc and g["discordant"] == disc
        if n0 - n1 > 0 and n0 - n2 > 0:
            tau = round(
                2.0 * (conc - disc) / math.sqrt((n0 - n1) * (n0 - n2)), 6
            )
            assert abs(g["tau_b"] - tau) < 2e-6, (seg, g["tau_b"], tau)


def test_kendall_degenerate_segment_emits_null_row(spark):
    """kendall_from_cells' documented contract on degenerate segments
    (r10 ADVICE #1): a segment whose x values are ALL tied fans zero
    pairs in the x1 < x2 self-join — it must still EMIT its row (the
    marginals drive the output) with concordant = discordant = 0 and
    tau_b NULL, not vanish from the result."""
    from iceberg_tracking_spark.operators.stats import kendall_from_cells

    cells = spark.createDataFrame(
        [
            # degenerate in x: one distinct x, two y cells
            ("dx", 5, 1, 3), ("dx", 5, 2, 4),
            # degenerate in y: tau undefined (N0 == N2), row still out
            ("dy", 1, 7, 2), ("dy", 2, 7, 5),
            # healthy monotone segment: tau_b = 1
            ("ok", 1, 1, 2), ("ok", 2, 2, 3),
        ],
        "seg string, x long, yb long, cnt long",
    )
    out = {r["seg"]: r for r in kendall_from_cells(cells).collect()}
    assert set(out) == {"dx", "dy", "ok"}
    assert out["dx"]["n"] == 7
    assert out["dx"]["concordant"] == 0 and out["dx"]["discordant"] == 0
    assert out["dx"]["tau_b"] is None
    # the dy pair has y1 == y2: neither concordant nor discordant
    assert out["dy"]["tau_b"] is None and out["dy"]["concordant"] == 0
    assert out["ok"]["tau_b"] == 1.0


def test_kendall_exact_matches_pure_python(spark):
    """kendall_exact_capped's pair algebra vs the textbook O(n²) loop
    (tie-corrected tau-b on raw values) — cap above n so no sampling,
    making the check independent of the hash order."""
    import math

    from iceberg_tracking_spark.operators.stats import kendall_exact_capped

    pts = [
        ("g", 1, 10), ("g", 1, 12), ("g", 2, 11), ("g", 3, 9),
        ("g", 3, 15), ("g", 5, 15), ("g", 6, 2), ("g", 7, 20),
        ("h", 1, 1), ("h", 2, 2), ("h", 3, 3),
        # degenerate: single distinct x — must emit a NULL-tau row
        ("z", 4, 1), ("z", 4, 2),
    ]
    df = spark.createDataFrame(
        [(s, x, y, f"{i:03d}", i, 0) for i, (s, x, y) in enumerate(pts)],
        "seg string, x long, y long, hk string, k1 long, k2 long",
    )
    got = {r["seg"]: r for r in kendall_exact_capped(df, cap=100).collect()}
    by_seg: dict = {}
    for s, x, y in pts:
        by_seg.setdefault(s, []).append((x, y))
    assert set(got) == set(by_seg)
    for seg, p in by_seg.items():
        n = len(p)
        conc = disc = 0
        for i in range(n):
            for j in range(i + 1, n):
                d = (p[i][0] - p[j][0]) * (p[i][1] - p[j][1])
                conc += d > 0
                disc += d < 0
        g = got[seg]
        assert g["n"] == n
        assert (g["concordant"], g["discordant"]) == (conc, disc)
        tx: dict = {}
        ty: dict = {}
        for x, y in p:
            tx[x] = tx.get(x, 0) + 1
            ty[y] = ty.get(y, 0) + 1
        n0 = n * (n - 1)
        n1 = sum(t * (t - 1) for t in tx.values())
        n2 = sum(t * (t - 1) for t in ty.values())
        if n0 - n1 > 0 and n0 - n2 > 0:
            tau = round(2.0 * (conc - disc) / math.sqrt((n0 - n1) * (n0 - n2)), 6)
            assert abs(g["tau_b"] - tau) < 2e-6
        else:
            assert g["tau_b"] is None


def test_kendall_exact_cap_bounds_sample(spark):
    """With more rows than the cap, exactly `cap` rows per segment
    survive, selected by the hash order (n == cap in the output), and
    the pair fan is cap-bounded regardless of input size."""
    from iceberg_tracking_spark.operators.stats import kendall_exact_capped

    rows = [
        ("g", i % 17, (i * 7) % 101, f"{(i * 2654435761) % 997:04d}_{i}", i, 0)
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "seg string, x long, y long, hk string, k1 long, k2 long"
    )
    out = kendall_exact_capped(df, cap=50).collect()
    assert len(out) == 1 and out[0]["n"] == 50
    assert out[0]["concordant"] + out[0]["discordant"] <= 50 * 49 // 2


def test_mann_kendall_matches_pure_python(spark):
    """mann_kendall_from_cells vs the textbook computation: S from the
    explicit O(n²) pair loop and the full two-margin tie-corrected
    variance (Kendall 1975), z continuity-corrected, p from the same
    A&S polynomial — on a deterministic set with heavy ties in BOTH
    margins."""
    import math

    from iceberg_tracking_spark.operators.stats import (
        INV_SQRT_2PI,
        NORMAL_TAIL_B,
        mann_kendall_from_cells,
    )

    pts = [(i % 7, (i * i + 3 * i) % 5) for i in range(40)]
    cells: dict = {}
    for x, y in pts:
        cells[(x, y)] = cells.get((x, y), 0) + 1
    df = spark.createDataFrame(
        [("g", x, y, c) for (x, y), c in sorted(cells.items())],
        "seg string, x long, y long, cnt long",
    )
    got = mann_kendall_from_cells(df).collect()[0]
    n = len(pts)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            (xa, ya), (xb, yb) = pts[i], pts[j]
            if xa == xb:
                continue
            if xa > xb:  # orient every pair by TIME, not list order
                ya, yb = yb, ya
            s += (yb > ya) - (yb < ya)
    tx: dict = {}
    ty: dict = {}
    for x, y in pts:
        tx[x] = tx.get(x, 0) + 1
        ty[y] = ty.get(y, 0) + 1
    def V(tt):
        return sum(t * (t - 1) * (2 * t + 5) for t in tt.values())
    def A2(tt):
        return sum(t * (t - 1) * (t - 2) for t in tt.values())
    def A3(tt):
        return sum(t * (t - 1) for t in tt.values())
    var = (
        (n * (n - 1) * (2 * n + 5) - V(tx) - V(ty)) / 18.0
        + A2(tx) * A2(ty) / (9.0 * n * (n - 1) * (n - 2))
        + A3(tx) * A3(ty) / (2.0 * n * (n - 1))
    )
    z = round((s - (1 if s > 0 else -1 if s < 0 else 0)) / math.sqrt(var), 6)
    tt_ = 1.0 / (1.0 + 0.2316419 * abs(z))
    pdf = INV_SQRT_2PI * math.exp(-(abs(z) * abs(z)) / 2.0)
    b = NORMAL_TAIL_B
    p = round(
        2.0 * pdf * (tt_ * (b[0] + tt_ * (b[1] + tt_ * (b[2] + tt_ * (b[3] + tt_ * b[4]))))),
        6,
    )
    assert got["n"] == n and got["s_stat"] == s
    assert abs(got["z"] - z) < 2e-6 and abs(got["p_value"] - p) < 2e-6


def test_mann_kendall_planted_trends(spark):
    """Planted monotone series are detected with the right sign; a
    CONSTANT series is fully degenerate (every pair a y-tie, variance
    exactly 0) and emits the documented NULL z/p/trend row — the
    kendall degenerate-segment convention, not a fake 'no trend'."""
    from iceberg_tracking_spark.operators.stats import mann_kendall_from_cells

    rows = []
    for d in range(12):
        rows.append(("up", d, d, 1))
        rows.append(("dn", d, 20 - d, 1))
        rows.append(("flat", d, 7, 1))
        # noisy-null: alternating values, no monotone drift
        rows.append(("null", d, 5 + (d % 2), 1))
    df = spark.createDataFrame(rows, "seg string, x long, y long, cnt long")
    out = {r["seg"]: r for r in mann_kendall_from_cells(df).collect()}
    assert out["up"]["trend"] == "increasing" and out["up"]["s_stat"] == 66
    assert out["dn"]["trend"] == "decreasing" and out["dn"]["s_stat"] == -66
    assert out["flat"]["s_stat"] == 0 and out["flat"]["z"] is None
    assert out["flat"]["p_value"] is None and out["flat"]["trend"] is None
    assert out["null"]["trend"] == "no trend"


def test_cliffs_delta_matches_pure_python_and_mw(spark, sf_dir):
    """q_cliffs_delta vs (a) the explicit pairwise sign loop and (b)
    the identity δ = 2U_A/(n_a·n_b) − 1 against q_mann_whitney's U."""
    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.tables import load_table

    got = {
        r["event_type"]: r
        for r in QUERIES["q_cliffs_delta"].fn(spark, sf_dir).collect()
    }
    mw = {
        r["event_type"]: r
        for r in QUERIES["q_mann_whitney"].fn(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            (F.col("user_id") % 2).alias("v"),
            F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        )
        .collect()
    )
    by_seg: dict = {}
    for r in ev:
        by_seg.setdefault(r["event_type"], []).append((r["v"], r["c"]))
    for seg, rows in by_seg.items():
        a = sorted(c for v, c in rows if v == 0)
        b = sorted(c for v, c in rows if v == 1)
        g = got[seg]
        assert g["n_a"] == len(a) and g["n_b"] == len(b)
        if not a or not b:
            assert g["cliffs_delta"] is None
            continue
        if len(a) * len(b) <= 4_000_000:
            s = sum(
                (x > y) - (x < y) for x in a for y in b
            )
            assert g["cliffs_delta"] == round(s / (len(a) * len(b)), 6)
        # identity with the MW U statistic (held for every segment)
        u = mw[seg]["u_a"]
        ident = round(2.0 * u / (len(a) * len(b)) - 1.0, 6)
        assert abs(g["cliffs_delta"] - ident) < 2e-6


def test_js_divergence_matches_pure_python(spark, sf_dir):
    """q_js_divergence's integer-log identity vs the straight
    definitional JSD (probability vectors, m = (p+q)/2, Σ p·log2(p/m))
    computed in pure Python floats — and the [0, 1] bits bound."""
    import math

    from iceberg_tracking_spark.plans import QUERIES
    from iceberg_tracking_spark.sources.tables import load_table

    got = {
        r["source"]: r
        for r in QUERIES["q_js_divergence"].fn(spark, sf_dir).collect()
    }
    rows = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .count()
        .collect()
    )
    langs = sorted({r["lang"] for r in rows})
    srcs = sorted({r["source"] for r in rows})
    cnt = {(r["source"], r["lang"]): r["count"] for r in rows}
    tot = {ln: sum(cnt.get((s, ln), 0) for s in srcs) for ln in langs}
    n_all = sum(tot.values())
    for s in srcs:
        a = [cnt.get((s, ln), 0) for ln in langs]
        b = [tot[ln] - ai for ln, ai in zip(langs, a)]
        A, B = sum(a), sum(b)
        g = got[s]
        assert g["n_docs"] == A
        if B == 0:
            assert g["jsd_bits"] is None
            continue
        jsd = 0.0
        for ai, bi in zip(a, b):
            p, q = ai / A, bi / B
            m = (p + q) / 2
            if p > 0:
                jsd += 0.5 * p * math.log2(p / m)
            if q > 0:
                jsd += 0.5 * q * math.log2(q / m)
        assert abs(g["jsd_bits"] - jsd) < 2e-6, (s, g["jsd_bits"], jsd)
        assert -1e-9 <= g["jsd_bits"] <= 1.0


def test_mcnemar_matches_pure_python(spark, sf_dir):
    """q_mcnemar vs the textbook continuity-corrected computation from
    an independent pandas pass over the same parquet: per-lang b/c
    discordant counts from the two stated rules, z = (|b-c|-1)/
    sqrt(b+c), p from the A&S polynomial."""
    import math

    import pandas as pd

    from iceberg_tracking_spark.operators.stats import (
        INV_SQRT_2PI,
        NORMAL_TAIL_B,
    )
    from iceberg_tracking_spark.plans.queries_advanced import q_mcnemar

    got = {r["lang"]: r for r in q_mcnemar(spark, sf_dir).collect()}
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")
    pdf["a"] = pdf["n_chars"] >= 200
    pdf["b"] = pdf["text"].str.count(" ") + 1 >= 30
    assert set(got) == set(pdf["lang"].unique())
    checked_nonnull = 0
    for lang, g in pdf.groupby("lang"):
        b = int((g["a"] & ~g["b"]).sum())
        c = int((~g["a"] & g["b"]).sum())
        row = got[lang]
        assert (row["b_only"], row["c_only"], row["n_docs"]) == (b, c, len(g))
        if b + c == 0:
            assert row["z_score"] is None and row["p_value"] is None
            continue
        z = round((abs(b - c) - 1) / math.sqrt(b + c), 6)
        assert row["z_score"] == z
        tt = 1.0 / (1.0 + 0.2316419 * abs(z))
        pdf_v = INV_SQRT_2PI * math.exp(-(z * z) / 2.0)
        b0, b1, b2, b3, b4 = NORMAL_TAIL_B
        poly = tt * (b0 + tt * (b1 + tt * (b2 + tt * (b3 + tt * b4))))
        assert row["p_value"] == round(2.0 * pdf_v * poly, 6)
        checked_nonnull += 1
    assert checked_nonnull > 0  # the corpus genuinely exercises the test


def test_cohens_kappa_matches_pure_python(spark, sf_dir):
    """q_cohens_kappa vs the definitional kappa from an independent
    pandas pass, plus the invariants: kappa = 1 iff perfect agreement,
    and a constant rater yields NULL (p_e = 1) or kappa <= 0."""
    import pandas as pd

    from iceberg_tracking_spark.plans.queries_advanced import q_cohens_kappa

    got = {r["source"]: r for r in q_cohens_kappa(spark, sf_dir).collect()}
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")
    pdf["a"] = pdf["n_chars"] >= 200
    pdf["b"] = pdf["text"].str.count(" ") + 1 >= 30
    assert set(got) == set(pdf["source"].unique())
    for source, g in pdf.groupby("source"):
        n = len(g)
        n11 = int((g["a"] & g["b"]).sum())
        n10 = int((g["a"] & ~g["b"]).sum())
        n01 = int((~g["a"] & g["b"]).sum())
        n00 = int((~g["a"] & ~g["b"]).sum())
        row = got[source]
        assert (row["n11"], row["n10"], row["n01"], row["n00"]) == (
            n11, n10, n01, n00,
        )
        pe_num = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
        denom = n * n - pe_num
        if denom == 0:
            assert row["kappa"] is None
        else:
            want = round(((n11 + n00) * n - pe_num) / denom, 6)
            assert row["kappa"] == want
            assert -1.0 <= row["kappa"] <= 1.0


def test_cohens_kappa_perfect_and_chance(spark):
    """Contract pins on constructed tables: identical raters give
    kappa = 1; independent 50/50 raters give kappa ~ 0; a constant
    rater (p_e = 1 impossible here, but zero-variance) stays defined
    only when denom != 0."""
    from iceberg_tracking_spark.plans import queries_advanced as qa

    # build via the same aggregate path by monkey-free construction:
    # synthesize documents with known rule outcomes. Rule A: n_chars
    # >= 200; rule B: word count >= 30 (words = spaces + 1).
    long_text = " ".join(["w"] * 40)   # 40 words -> B = True
    short_text = " ".join(["w"] * 5)   # 5 words  -> B = False
    rows = []
    # source "agree": A == B on every doc (perfect agreement)
    for i in range(10):
        both = i % 2 == 0
        rows.append(
            (i, long_text if both else short_text, "en", "agree",
             300 if both else 50)
        )
    # source "indep": all four cells equally filled (kappa = 0)
    for i, (a, b) in enumerate(
        [(1, 1), (1, 0), (0, 1), (0, 0)] * 3
    ):
        rows.append(
            (100 + i, long_text if b else short_text, "en", "indep",
             300 if a else 50)
        )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import iceberg_tracking_spark.plans.queries_advanced as mod

    orig = mod._t
    mod._t = lambda spark, sf_dir, name: docs
    try:
        got = {r["source"]: r for r in qa.q_cohens_kappa(spark, "x").collect()}
    finally:
        mod._t = orig
    assert got["agree"]["kappa"] == 1.0
    assert got["indep"]["kappa"] == 0.0


def test_cochran_q_matches_pure_python(spark, sf_dir):
    """q_cochran_q vs the textbook statistic from an independent
    pandas pass: Q = (k-1)(k*sum c_j^2 - S^2)/(k*S - sum R_i^2),
    p = exp(-Q/2) for dof = 2. Also pins the McNemar consistency:
    with k = 2 raters the same algebra reduces to (b-c)^2/(b+c) —
    checked symbolically here on the counts."""
    import math

    import pandas as pd

    from iceberg_tracking_spark.plans.queries_advanced import q_cochran_q

    got = {r["lang"]: r for r in q_cochran_q(spark, sf_dir).collect()}
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")
    words = pdf["text"].str.count(" ") + 1
    no_sp = pdf["text"].str.len() - pdf["text"].str.count(" ")
    pdf["a"] = (pdf["n_chars"] >= 200).astype(int)
    pdf["b"] = (words >= 30).astype(int)
    pdf["c"] = (no_sp >= 5 * words).astype(int)
    assert set(got) == set(pdf["lang"].unique())
    n_tested = 0
    for lang, g in pdf.groupby("lang"):
        c1, c2, c3 = int(g["a"].sum()), int(g["b"].sum()), int(g["c"].sum())
        r_i = g["a"] + g["b"] + g["c"]
        s = c1 + c2 + c3
        sum_r2 = int((r_i * r_i).sum())
        row = got[lang]
        assert (row["c1"], row["c2"], row["c3"], row["n_docs"]) == (
            c1, c2, c3, len(g),
        )
        denom = 3 * s - sum_r2
        if denom <= 0:
            assert row["q_stat"] is None and row["p_value"] is None
            continue
        q = round(2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - s * s) / denom, 6)
        assert row["q_stat"] == q
        assert row["p_value"] == round(math.exp(-q / 2.0), 6)
        assert row["p_value"] is not None and 0.0 <= row["p_value"] <= 1.0
        n_tested += 1
    assert n_tested > 0


def test_friedman_matches_pure_python(spark, sf_dir):
    """q_friedman vs the textbook blocked-rank computation from an
    independent pandas pass (scipy-free): midranks within each
    complete (seg, day) block, tie-corrected Q, p = exp(-Q/2)(1+Q/2)
    for dof 4."""
    import math

    import pandas as pd

    from iceberg_tracking_spark.plans.queries_advanced import q_friedman

    got = {r["seg"]: r for r in q_friedman(spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev["value"].notna()].copy()
    ev["seg"] = ev["user_id"] % 2
    ts = pd.to_datetime(ev["ts"])
    epoch_s = (ts - pd.Timestamp(0)) // pd.Timedelta(seconds=1)
    ev["day"] = epoch_s // 86400
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    obs = (
        ev.groupby(["seg", "day", "event_type"])["cents"].sum().reset_index()
    )
    n_tested = 0
    for seg, g in obs.groupby("seg"):
        complete = g.groupby("day").filter(lambda b: len(b) == 5)
        s_sum: dict = {}
        s2_total = 0
        n_days = complete["day"].nunique()
        for _, block in complete.groupby("day"):
            vals = block["cents"].tolist()
            for et, v in zip(block["event_type"], vals):
                less = sum(1 for x in vals if x < v)
                equal = sum(1 for x in vals if x == v)
                s = 2 * less + equal + 1
                s_sum[et] = s_sum.get(et, 0) + s
                s2_total += s * s
        num4 = sum((sj - 6 * n_days) ** 2 for sj in s_sum.values())
        denom4 = s2_total - n_days * 180
        row = got[seg]
        assert row["n_days"] == n_days
        if denom4 <= 0:
            assert row["q_stat"] is None
            continue
        q = round(4.0 * num4 / denom4, 6)
        assert row["q_stat"] == q
        assert row["p_value"] == round(math.exp(-q / 2.0) * (1.0 + q / 2.0), 6)
        n_tested += 1
    assert n_tested > 0 and len(got) == 2


def test_cusum_prefix_identity_matches_recursion(spark, sf_dir):
    """The distributed CUSUM (prefix-sum + running-min windows) must
    equal the textbook sequential recursion S_t = max(0, S_{t-1} +
    x_t - kappa) exactly — the identity S_t = P_t - t*kappa -
    min_{j<=t}(P_j - j*kappa) is the whole trick, so replay it
    against the real parquet."""
    import pandas as pd

    from iceberg_tracking_spark.plans.queries_timeseries import q_cusum_prefix

    got = {
        (r["seg"], r["day"]): r for r in q_cusum_prefix(spark, sf_dir).collect()
    }
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev["value"].notna()].copy()
    ts = pd.to_datetime(ev["ts"])
    ev["day"] = (ts - pd.Timestamp(0)) // pd.Timedelta(seconds=1) // 86400
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    daily = (
        ev.groupby(["event_type", "day"])["cents"].sum().reset_index()
    )
    n_alarm_rows = 0
    for seg, g in daily.groupby("event_type"):
        g = g.sort_values("day")
        n = len(g)
        sum_c = int(g["cents"].sum())
        # integer recursion scaled by 20N: kappa*20N = 21*sum_c
        s = 0
        for t, (_, row) in enumerate(g.iterrows(), start=1):
            x_scaled = 20 * n * int(row["cents"])
            s = max(0, s + x_scaled - 21 * sum_c)
            r = got[(seg, int(row["day"]))]
            assert r["t_idx"] == t
            assert r["cusum_units"] == round(s / (2000.0 * n), 6), (seg, t)
            want_alarm = s > 20 * sum_c
            assert bool(r["alarm"]) == want_alarm
            n_alarm_rows += want_alarm
    assert len(got) == len(daily)


def test_cusum_planted_shift_alarms(spark):
    """A series flat at mu then shifted +50% must alarm after the
    shift and not before (contract pin on constructed rows)."""
    import datetime

    import iceberg_tracking_spark.plans.queries_timeseries as mod
    from iceberg_tracking_spark.plans.queries_timeseries import q_cusum_prefix

    rows = []
    base = datetime.datetime(2024, 1, 1)
    eid = 0
    for day in range(40):
        # one event per day: 100.00 for 30 days, 150.00 after
        v = 100.0 if day < 30 else 150.0
        rows.append(
            (eid, base + datetime.timedelta(days=day), 1, "shift", v, "")
        )
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = mod.load_table
    mod.load_table = lambda spark, sf_dir, name: df
    try:
        out = {r["t_idx"]: r for r in q_cusum_prefix(spark, "x").collect()}
    finally:
        mod.load_table = orig
    assert not any(out[t]["alarm"] for t in range(1, 31))
    assert out[40]["alarm"]  # sustained +50% shift must trip
    # cusum is nondecreasing across the flat-then-shifted series tail
    assert out[40]["cusum_units"] > out[35]["cusum_units"] > 0
