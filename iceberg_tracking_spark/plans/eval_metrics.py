"""CLEAR + Identity tracking metrics as one DataFrame job (SURVEY §3.3,
§7.2 minimum slice).

Re-expresses the reference's eval pipeline (eval.py:117-508) as a pure
relational program: IoU theta-join + per-GT argmax (J2/X1) → conditional
counts (A8) → lag windows for ID-switch/fragmentation (W8) →
gaps-and-islands for IDTP (A12) → coverage buckets (A9). Zero UDFs,
zero state — every step is Catalyst-native and shuffle-bounded by
(sequence, frame) and (sequence, gt_id) keys.

Reference quirks preserved (SURVEY §7.4 note 3): matching is per-GT
argmax, so one track row may match several GTs in a frame; IDTP is the
longest *contiguous* single-track segment per GT trajectory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geometry import iou


def matched_pairs(
    gt: DataFrame,
    tracks: DataFrame,
    iou_threshold: float = 0.5,
    prefilter_cell: float | tuple[float, float] | None = None,
) -> DataFrame:
    """The greedy per-GT matching shared by every metric job
    (reference eval.py:221-254): IoU theta-join, threshold, per
    (sequence, frame, gt) argmax with a deterministic lowest-track-id
    tie-break. Returns (sequence, frame, gt_id, track_id, iou).

    gt:     (sequence, frame:long, gt_id, l, t, w, h)
    tracks: (sequence, frame:long, track_id, l, t, w, h)
    """
    g = gt.select(
        "sequence", "frame", "gt_id",
        F.col("l").alias("g_l"), F.col("t").alias("g_t"),
        F.col("w").alias("g_w"), F.col("h").alias("g_h"),
    )
    tr = tracks.select(
        "sequence", "frame", "track_id",
        F.col("l").alias("t_l"), F.col("t").alias("t_t"),
        F.col("w").alias("t_w"), F.col("h").alias("t_h"),
    )
    if prefilter_cell is not None:
        from ..operators.joins import grid_cell_join

        g2 = g.withColumn("_gcx", F.col("g_l") + F.col("g_w") / 2).withColumn(
            "_gcy", F.col("g_t") + F.col("g_h") / 2
        )
        t2 = tr.withColumn("_tcx", F.col("t_l") + F.col("t_w") / 2).withColumn(
            "_tcy", F.col("t_t") + F.col("t_h") / 2
        )
        cx, cy = (
            prefilter_cell
            if isinstance(prefilter_cell, tuple)
            else (prefilter_cell, prefilter_cell)
        )
        paired = grid_cell_join(
            g2, t2, "_gcx", "_gcy", "_tcx", "_tcy",
            cell_size=float(cx),
            cell_size_y=float(cy),
            extra_on=[("sequence", "sequence"), ("frame", "frame")],
        )
    else:
        paired = g.join(tr, ["sequence", "frame"])
    pairs = paired.withColumn(
        "iou",
        iou(
            F.col("g_l"), F.col("g_t"), F.col("g_w"), F.col("g_h"),
            F.col("t_l"), F.col("t_t"), F.col("t_w"), F.col("t_h"),
        ),
    ).filter(F.col("iou") >= F.lit(iou_threshold))
    # Best track per (sequence, frame, gt): hash-aggregate argmax
    # (score = (iou, -track_id) struct → deterministic tie-break,
    # map-side combine on the pair explosion — no sort window).
    from ..operators.windows import argmax_agg

    return argmax_agg(
        pairs,
        ["sequence", "frame", "gt_id"],
        F.struct(F.col("iou"), (-F.col("track_id")).alias("_neg_tr")),
        {"track_id": F.col("track_id"), "iou": F.col("iou")},
    )


def identity_metrics(
    gt: DataFrame,
    tracks: DataFrame,
    iou_threshold: float = 0.5,
    matches: DataFrame | None = None,
) -> DataFrame:
    """Reference-faithful Identity metrics (eval.py:355-424): IDTP /
    IDFN / IDFP from the longest-segment passes, then IDR / IDP / IDF1.

    Where `clear_identity_metrics` breaks an identity run on a frame
    GAP as well as a track change (and reports the symmetric
    2·IDTP/(|GT|+|TR|) IDF1), the reference's segment loops iterate the
    MATCHED entries only — a run of the same track_id survives frame
    gaps (eval.py:370-391: `current_length` increments whenever the
    consecutive matched entry repeats the id, with no gap check). This
    job replicates that: per GT, IDTP is the longest run of one
    track_id in the frame-ordered matched list; per track, the dual
    pass over gt_id runs gives IDTP_from_tracks; IDFN = CLR_TP − IDTP
    and IDFP = CLR_TP − IDTP_from_tracks (eval.py:393-418), and the
    ratios use the asymmetric forms (eval.py:420-423).

    One reference quirk needs pinning: `track_to_gt[frame][track]` is a
    dict store, so a track matched by SEVERAL GTs in one frame keeps
    only the last writer in gt-dict iteration order (eval.py:247-248).
    Relationally that order does not exist, so the largest gt_id wins —
    a deterministic stand-in, identical on engine and oracle.

    Returns one row per sequence:
      (sequence, clr_tp, idtp, idfn, idfp, idr, idp, idf1)

    Scale shape: everything after the matching is windows/aggregates
    keyed by (sequence, gt_id) or (sequence, track_id) — shuffle-
    bounded by id cardinality, no global window.
    """
    if matches is None:
        matches = matched_pairs(gt, tracks, iou_threshold)

    def _longest_runs(rel: DataFrame, part: str, run_key: str, out: str) -> DataFrame:
        """Σ over `part` of (max run-length of identical `run_key` in
        the frame-ordered matched list) — gaps do NOT break runs."""
        w = Window.partitionBy("sequence", part).orderBy("frame")
        boundary = (
            F.lag(run_key).over(w).isNull()
            | (F.lag(run_key).over(w) != F.col(run_key))
        )
        w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        runs = (
            rel.select(
                "sequence", part, run_key, "frame",
                F.sum(boundary.cast("int")).over(w_run).alias("_run"),
            )
            .groupBy("sequence", part, "_run")
            .agg(F.count(F.lit(1)).alias("_len"))
        )
        per = runs.groupBy("sequence", part).agg(F.max("_len").alias("_best"))
        return per.groupBy("sequence").agg(F.sum("_best").alias(out))

    idtp_g = _longest_runs(matches, "gt_id", "track_id", "idtp")
    # track-side view: one gt per (frame, track), largest gt_id wins
    # (the pinned dict-order quirk) — hash-aggregate, no window sort
    tr_view = matches.groupBy("sequence", "frame", "track_id").agg(
        F.max("gt_id").alias("gt_id")
    )
    idtp_t = _longest_runs(tr_view, "track_id", "gt_id", "idtp_tracks")
    clr = matches.groupBy("sequence").agg(F.count(F.lit(1)).alias("clr_tp"))
    j = clr.join(idtp_g, "sequence", "left").join(idtp_t, "sequence", "left")
    j = j.select(
        "sequence",
        "clr_tp",
        F.coalesce("idtp", F.lit(0)).alias("idtp"),
        (F.col("clr_tp") - F.coalesce("idtp", F.lit(0))).alias("idfn"),
        (F.col("clr_tp") - F.coalesce("idtp_tracks", F.lit(0))).alias("idfp"),
    )
    return j.select(
        "sequence",
        "clr_tp",
        "idtp",
        "idfn",
        "idfp",
        F.round(
            F.col("idtp").cast("double") / (F.col("idtp") + F.col("idfn")), 6
        ).alias("idr"),
        F.round(
            F.col("idtp").cast("double") / (F.col("idtp") + F.col("idfp")), 6
        ).alias("idp"),
        F.round(
            2.0 * F.col("idtp")
            / (2 * F.col("idtp") + F.col("idfn") + F.col("idfp")),
            6,
        ).alias("idf1"),
    )


def clear_identity_metrics(
    gt: DataFrame,
    tracks: DataFrame,
    iou_threshold: float = 0.5,
    prefilter_cell: float | None = None,
    matches: DataFrame | None = None,
) -> DataFrame:
    """Compute CLEAR + Identity metrics per sequence.

    gt:     (sequence, frame:long, gt_id, l, t, w, h)
    tracks: (sequence, frame:long, track_id, l, t, w, h)
    Returns one row per sequence:
      n_gt, n_det, tp, fn, fp, clr_re, clr_pr, loca,
      idsw, frag, mt, pt, ml, idtp, idf1

    `prefilter_cell`: when the caller can bound box extents below this
    cell size, the per-frame GT×track pairing routes through the
    LOSSLESS grid prefilter (operators/joins.grid_cell_join — centers
    of overlapping boxes are within one cell), replacing the O(n²)
    frame explosion with cell-bounded candidates. None (default) keeps
    the exact all-pairs join for unbounded inputs.
    """
    if matches is None:
        matches = matched_pairs(gt, tracks, iou_threshold, prefilter_cell)

    # The expensive matches relation is consumed ONCE, by a single
    # linear pipeline — no persist/cache to manage (a previous version
    # persisted `matches` for three aggregation branches and leaked the
    # cache in long-lived sessions). The pipeline folds TP/LocA,
    # ID-switch, fragmentation, coverage, and IDTP into run-level
    # algebra (reference eval.py:291-418):
    #
    # 1. One window pass per GT timeline marks run boundaries — a run
    #    breaks on a track change OR a frame gap. Within a run every
    #    row has prev_track == track and frame == prev_frame + 1, so
    #    the reference's row-level lag counts are exactly the boundary
    #    transitions: idsw = adjacent-run pairs with a track change,
    #    frag = adjacent-run pairs with a frame gap.
    # 2. Runs aggregate to (run_len, sum_iou, min/max frame) — the
    #    groupBy reuses the window's (sequence, gt_id) partitioning
    #    (ClusteredDistribution is satisfied by the superset key), so
    #    no extra shuffle.
    # 3. Per-GT and per-sequence rollups derive every metric:
    #    tp = Σ run_len, loca = Σ sum_iou / tp, idtp = Σ max(run_len),
    #    coverage ratio = Σ run_len / n_frames.
    w_gt = Window.partitionBy("sequence", "gt_id").orderBy("frame")
    w_run = w_gt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    boundary = (
        F.lag("track_id").over(w_gt).isNull()
        | (F.lag("track_id").over(w_gt) != F.col("track_id"))
        | (F.col("frame") != F.lag("frame").over(w_gt) + 1)
    )
    run_rows = matches.select(
        "sequence", "gt_id", "frame", "track_id", "iou",
        F.sum(boundary.cast("int")).over(w_run).alias("run_id"),
    )
    runs = run_rows.groupBy("sequence", "gt_id", "run_id").agg(
        F.first("track_id").alias("track_id"),  # constant within a run
        F.count(F.lit(1)).alias("run_len"),
        F.sum("iou").alias("sum_iou"),
        F.min("frame").alias("min_frame"),
        F.max("frame").alias("max_frame"),
    )
    w_seq_runs = Window.partitionBy("sequence", "gt_id").orderBy("run_id")
    run_trans = runs.select(
        "sequence", "gt_id", "run_len", "sum_iou",
        F.when(
            F.lag("track_id").over(w_seq_runs).isNotNull()
            & (F.lag("track_id").over(w_seq_runs) != F.col("track_id")),
            1,
        ).otherwise(0).alias("idsw_flag"),
        F.when(
            F.lag("max_frame").over(w_seq_runs).isNotNull()
            & (F.col("min_frame") > F.lag("max_frame").over(w_seq_runs) + 1),
            1,
        ).otherwise(0).alias("frag_flag"),
    )
    per_gt = run_trans.groupBy("sequence", "gt_id").agg(
        F.sum("run_len").alias("n_matched"),
        F.max("run_len").alias("best_run"),
        F.sum("sum_iou").alias("sum_iou"),
        F.sum("idsw_flag").alias("idsw_gt"),
        F.sum("frag_flag").alias("frag_gt"),
    )

    # MT/PT/ML coverage needs every GT, matched or not (reference
    # eval.py:319-349) — left join from the per-GT frame totals, which
    # also sum to n_gt (no second gt scan).
    gt_frames = gt.groupBy("sequence", "gt_id").agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    per_gt_full = gt_frames.join(
        per_gt, ["sequence", "gt_id"], "left"
    ).withColumn(
        "ratio",
        F.coalesce(F.col("n_matched"), F.lit(0)).cast("double")
        / F.col("n_frames"),
    )
    # A NULL-sequence GT never matches (the pairing joins on sequence)
    # and its row is the gt side of a NULL-key full outer join, so it
    # reports no coverage bucket: ml counts keyed GTs only.
    keyed = F.col("sequence").isNotNull()
    seq_stats = per_gt_full.groupBy("sequence").agg(
        F.sum("n_frames").alias("n_gt"),
        F.sum("n_matched").alias("tp"),
        F.round(F.sum("sum_iou") / F.sum("n_matched"), 6).alias("loca"),
        F.sum("idsw_gt").alias("idsw"),
        F.sum("frag_gt").alias("frag"),
        F.sum(F.when(F.col("ratio") >= 0.8, 1).otherwise(0)).alias("mt"),
        F.sum(
            F.when((F.col("ratio") >= 0.2) & (F.col("ratio") < 0.8), 1).otherwise(0)
        ).alias("pt"),
        F.sum(F.when(keyed & (F.col("ratio") < 0.2), 1).otherwise(0)).alias("ml"),
        F.sum("best_run").alias("idtp"),
    )

    n_det = tracks.groupBy("sequence").agg(F.count(F.lit(1)).alias("n_det"))
    out = seq_stats.join(n_det, "sequence", "outer").na.fill(
        {"tp": 0, "idsw": 0, "frag": 0, "mt": 0, "pt": 0, "ml": 0, "idtp": 0}
    )
    return out.select(
        "sequence",
        "n_gt",
        "n_det",
        "tp",
        (F.col("n_gt") - F.col("tp")).alias("fn"),
        (F.col("n_det") - F.col("tp")).alias("fp"),
        F.round(F.col("tp").cast("double") / F.col("n_gt"), 6).alias("clr_re"),
        F.round(F.col("tp").cast("double") / F.col("n_det"), 6).alias("clr_pr"),
        "loca",
        "idsw",
        "frag",
        "mt",
        "pt",
        "ml",
        "idtp",
        F.round(
            2.0 * F.col("idtp") / (F.col("n_gt") + F.col("n_det")), 6
        ).alias("idf1"),
    )
