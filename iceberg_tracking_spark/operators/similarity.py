"""Vector similarity search operators (LLM-pipeline surface).

Generalizes the reference's appearance-similarity machinery
(reference feature_extraction.py:255-297: cosine over 256-d embedding
vectors) into the four standard search families:

* ``brute_force_topk`` — exact cosine top-k; the small-query-set path
  (broadcast the queries, scan the corpus once). O(|Q|·|C|) but fully
  JVM-side and embarrassingly parallel — right answer when |Q| is
  small or a ground-truth oracle is needed.
* ``signature_lsh`` / ``lsh_bucket_topk`` — sign-random-projection LSH:
  each vector gets a b-bit signature (sign of dot with b fixed
  Rademacher hyperplanes); candidates share a signature bucket. The
  all-pairs comparison never happens — the only shuffle is the
  signature equi-join, so cost is Σ|bucket|² ≪ |C|² and the plan is a
  plain shuffled hash join Catalyst/AQE can optimize (skewed buckets
  split by AQE). This is the 100 TB scale path.
* ``ivf_topk`` — an IVF coarse quantizer: candidates are the members
  of the query's `nprobe` nearest centroids.
* ``pq_adc_topk`` / ``ivfpq_topk`` — product-quantized codes ranked by
  asymmetric (LUT'd) distance, optionally IVF-bounded, with
  ``exact_rerank`` as the exact-cosine refine stage over their
  candidates.

Every function reads fixed columns: the corpus is ``(vec_id, e)`` and
the queries ``(qid, qe)``, both ``e``/``qe`` array<double>. Output is
``(qid, nid, sim)`` (``adist`` for the PQ rankings). Each family is
candidate generation followed by ONE scoring tail: ``_cosine_topk``
rounds the cosine to 6 dp and ``_rank_topk`` keeps the top k per qid,
ties to the lower nid. Rounding before ranking means float
summation-order differences can't flip ranks across engines.

Zero-norm rule: the cosine of a pair in which either vector is all
zeros is NULL (``try_divide``), not a DIVIDE_BY_ZERO error, and a NULL
similarity ranks last — as DuckDB, which returns NULL for x / 0.0,
does in the oracles.

Hyperplanes are DETERMINISTIC (a fixed integer mix of (bit, dim)), so
the same planes are reproducible in any engine — the DuckDB oracle
re-derives them from the same formula via `hyperplane_sql_literals`.
All dot products fold left-to-right in both engines so the sign at the
bucket boundary is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .clustering import sq_dist
from .windows import argmax_agg, top_k_per_group

DEFAULT_BITS = 8


def hyperplane(bit: int, dim: int) -> list[int]:
    """The ±1 Rademacher hyperplane for one signature bit.

    Entry i = the low bit of a splitmix64-style avalanche of
    (bit, i). The planes are computed HERE once and inlined as
    LITERALS on both engines (`hyperplane_sql_literals`), so the mix
    can be arbitrarily strong with zero SQL-expressibility cost.

    Why an avalanche and not a cheap linear mod-4 mix: the previous
    `((i+1)·2654435761 + (bit+1)·40503) mod 4 < 2` formula made every
    plane a cyclic shift of ONE period-4 pattern — exactly 4 distinct
    hyperplanes for ANY (n_bits, dim), so an n-bit signature had at
    most ~16 distinct values and LSH candidate reduction was capped at
    ~1/16th of the corpus regardless of configured bits (measured on a
    1M-vector synthetic corpus; see
    tests/test_scale_patterns.py::test_lsh_candidate_growth). With
    independent planes the bucket count actually tracks 2^n_bits and
    the reduction scales the way the 100 TB design assumes.
    """
    mask = (1 << 64) - 1
    out = []
    for i in range(dim):
        z = ((bit + 1) * 0x9E3779B97F4A7C15 + (i + 1) * 0xBF58476D1CE4E5B9) & mask
        z ^= z >> 30
        z = (z * 0x94D049BB133111EB) & mask
        z ^= z >> 27
        z = (z * 0xFF51AFD7ED558CCD) & mask
        z ^= z >> 31
        out.append(1 if z & 1 else -1)
    return out


def hyperplane_sql_literals(n_bits: int, dim: int) -> list[str]:
    """DuckDB array literals of the same hyperplanes, for oracle SQL."""
    return [
        "[" + ", ".join(f"{v}.0" for v in hyperplane(b, dim)) + "]"
        for b in range(n_bits)
    ]


# ---- DuckDB-side mirrors (oracle SQL fragments) -----------------------
# ONE canonical rendering of the fold-order-stable dot / norm / cosine /
# signature expressions. Every oracle that must be bit-identical to the
# Spark side builds from these — a second hand-written copy would let a
# future edit (fold order, bit count) silently desynchronize the hashes.


def duck_seq_dot_sql(a: str, b: str, dim: int) -> str:
    """DuckDB left-fold dot product, bit-identical to `seq_dot`."""
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


def duck_norm_sql(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({a}, x -> x * x), "
        "(x, y) -> x + y))"
    )


def duck_cosine_sql(a: str, b: str, dim: int) -> str:
    return (
        f"({duck_seq_dot_sql(a, b, dim)} "
        f"/ ({duck_norm_sql(a)} * {duck_norm_sql(b)}))"
    )


def duck_sig_sql(dim: int) -> str:
    """The DEFAULT_BITS-bit sign-LSH signature of column `e` as a DuckDB
    expression (planes from a CTE aliased `p`, columns
    `h0..h{DEFAULT_BITS-1}` via `hyperplane_sql_literals`)."""
    return " + ".join(
        f"(CASE WHEN {duck_seq_dot_sql('e', f'p.h{b}', dim)} > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(DEFAULT_BITS)
    )


def seq_dot(a: Column, b: Column) -> Column:
    """Left-to-right sequential dot product (order-stable across engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    """L2 norm with the same left-to-right fold as `duck_norm_sql`."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """NULL when either norm is 0 (the module's zero-norm rule)."""
    return F.try_divide(seq_dot(a, b), norm(a) * norm(b))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with norms precomputed PER VECTOR instead of per pair.

    On a pair-producing join, `cosine()` re-folds both norms for every
    pair — ~2/3 of the per-pair work. Projecting `norm(e)` below the
    join evaluates it once per row; the value (hence the quotient) is
    bit-identical, so oracles are unaffected. Measured ~1.5-2× on the
    bucket-rerank and brute-force hot paths. NULL when `na` or `nb` is 0.
    """
    return F.try_divide(seq_dot(a, b), na * nb)


def signature_lsh(
    df: DataFrame, vec_col: str, dim: int, n_bits: int = DEFAULT_BITS
) -> DataFrame:
    """Add an integer `sig` column: the b-bit sign-LSH signature.

    `vec_col` must already be a materialized array<double> column (HOF
    lambdas re-evaluate inlined expressions — see queries_llm shingle
    note). Pure Catalyst expressions; no shuffle.
    """
    sig = None
    for b in range(n_bits):
        plane = F.array(*[F.lit(float(v)) for v in hyperplane(b, dim)])
        bit = F.when(seq_dot(F.col(vec_col), plane) > 0, F.lit(1 << b)).otherwise(
            F.lit(0)
        )
        sig = bit if sig is None else sig + bit
    return df.withColumn("sig", sig.cast("long"))


# ------------------------------------------------------ the scoring tail


def _rank_topk(sims: DataFrame, k: int, order: Column) -> DataFrame:
    """Top k rows per qid by `order`, ties to the lower nid."""
    return top_k_per_group(sims, ["qid"], [order, F.col("nid").asc()], k)


def _cosine_topk(
    pairs: DataFrame, k: int, nid: str, qe: str, ne: str, q_nrm: str, n_nrm: str
) -> DataFrame:
    """(qid, nid, sim): the top k of `pairs` by cosine rounded to 6 dp
    (sim DESC NULLS LAST — a zero-norm pair ranks last). `pairs` holds
    one row per candidate (qid, neighbour) pair; the other arguments
    name its neighbour-id, vector and norm columns."""
    sims = pairs.select(
        "qid",
        F.col(nid).alias("nid"),
        F.round(
            cosine_prenormed(F.col(qe), F.col(ne), F.col(q_nrm), F.col(n_nrm)), 6
        ).alias("sim"),
    )
    return _rank_topk(sims, k, F.col("sim").desc_nulls_last())


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus scan + rank window."""
    corpus_n = corpus.withColumn("_nrm", norm(F.col("e")))
    queries_n = queries.withColumn("_qnrm", norm(F.col("qe")))
    pairs = F.broadcast(queries_n).join(corpus_n, F.col("vec_id") != F.col("qid"))
    return _cosine_topk(pairs, k, "vec_id", "qe", "e", "_qnrm", "_nrm")


def lsh_bucket_topk(
    vectors: DataFrame,
    dim: int,
    k: int,
    query_pred: Column,
    n_bits: int = DEFAULT_BITS,
    probes: int = 0,
) -> DataFrame:
    """ANN top-k: candidates restricted to the query's LSH bucket(s).

    Equi-join on `sig` replaces the all-pairs cross join; recall < 1 by
    design (vectors in other buckets are never scored) — the standard
    LSH trade. `probes` > 0 enables multi-probe: each query also
    searches the buckets at Hamming distance 1 obtained by flipping its
    first `probes` signature bits — candidate volume grows ~(probes+1)×
    while the corpus side is still touched only via the equi-join (the
    standard recall lever; index stays single-signature).
    """
    signed = signature_lsh(vectors, "e", dim, n_bits).withColumn(
        "_nrm", norm(F.col("e"))
    )
    q = signed.filter(query_pred).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("_nrm").alias("_qnrm"),
        "sig",
    )
    if probes > 0:
        probe_sigs = F.array(
            F.col("sig"),
            *[
                F.col("sig").bitwiseXOR(F.lit(1 << b))
                for b in range(min(probes, n_bits))
            ],
        )
        q = q.select(
            "qid", "qe", "_qnrm", F.explode(probe_sigs).alias("sig")
        )
    pairs = (
        F.broadcast(q)
        .join(signed, "sig")
        .filter(F.col("vec_id") != F.col("qid"))
    )
    return _cosine_topk(pairs, k, "vec_id", "qe", "e", "_qnrm", "_nrm")


def _ivf(
    vectors: DataFrame,
    query_pred: Column,
    centroid_pred: Column,
    nprobe: int,
    payload: dict[str, str],
) -> tuple[DataFrame, DataFrame]:
    """The IVF coarse quantizer: `(assigned, probes)`.

    * Centroids are data-sampled rows selected by `centroid_pred`
      (deterministic — no RNG, so any engine re-derives the identical
      index; one k-means assignment step away from a trained quantizer).
    * `assigned` (vec_id, cid, payload…): every vector scored against
      the broadcast centroid table (O(N·K), the actual IVF build cost),
      argmax kept — a hash aggregate, not a sort window. Exact cosine
      with the left-to-right fold, so assignments are bit-identical
      cross-engine; centroid ties go to the lower cid.
    * `probes` (qid, payload aliases…, cid): each query's `nprobe`
      best clusters. Probe ranking touches ONLY the query vectors
      (O(|Q|·K)) — same fold-order cosine, so ranks are identical to
      scoring them inside the assignment.

    `payload` maps the vector columns both sides carry (`e`, `_nrm`)
    to their name on the probe side.
    """
    vectors_n = vectors.withColumn("_nrm", norm(F.col("e")))
    cents = vectors_n.filter(centroid_pred).select(
        F.col("vec_id").alias("cid"),
        F.col("e").alias("ce"),
        F.col("_nrm").alias("_cnrm"),
    )

    def scored(df: DataFrame) -> DataFrame:
        return df.crossJoin(F.broadcast(cents)).withColumn(
            "csim",
            cosine_prenormed(F.col("e"), F.col("ce"), F.col("_nrm"), F.col("_cnrm")),
        )

    assigned = argmax_agg(
        scored(vectors_n),
        ["vec_id"],
        F.struct(F.col("csim"), (-F.col("cid")).alias("_neg_cid")),
        {"cid": F.col("cid"), **{c: F.col(c) for c in payload}},
    )
    probes = top_k_per_group(
        scored(vectors_n.filter(query_pred)),
        ["vec_id"],
        [F.col("csim").desc(), F.col("cid").asc()],
        nprobe,
    ).select(
        F.col("vec_id").alias("qid"),
        *[F.col(c).alias(a) for c, a in payload.items()],
        "cid",
    )
    return assigned, probes


def ivf_topk(
    vectors: DataFrame,
    k: int,
    query_pred: Column,
    centroid_pred: Column,
    nprobe: int = 2,
) -> DataFrame:
    """ANN top-k via an IVF (inverted-file) coarse quantizer (`_ivf`) —
    the cluster-partitioned alternative to sign-LSH bucketing.
    Candidates are the members of each query's `nprobe` best clusters
    (equi-join on centroid id), re-ranked by exact cosine. Recall < 1
    by design (the IVF trade).

    The O(N·K) assignment — the index build — runs exactly ONCE: its
    only consumer is the candidate equi-join, and the probe side
    re-scores only the query vectors, so no branch re-touches the full
    corpus. At 100 TB the assignment would additionally be written out
    and reused across query batches (sources/catalog.VersionedTable is
    the write path); within one query the single-consumer plan needs no
    materialization.
    """
    assigned, probes = _ivf(
        vectors, query_pred, centroid_pred, nprobe, {"e": "qe", "_nrm": "_qnrm"}
    )
    pairs = (
        F.broadcast(probes)
        .join(assigned, "cid")
        .filter(F.col("vec_id") != F.col("qid"))
    )
    return _cosine_topk(pairs, k, "vec_id", "qe", "e", "_qnrm", "_nrm")


# --------------------------------------------------- product quantization


def pq_codebook(
    vectors: DataFrame, dim: int, n_sub: int, ksub: int, seed_pred: Column
) -> DataFrame:
    """Deterministic PQ sub-codebooks: (sp, cid, ce) — one ksub-row
    codebook per subspace, sliced from seed vectors (lowest `ksub` ids
    matching `seed_pred`, ordered by id).

    Seed-sliced codebooks keep the construction engine-portable (the
    oracle rebuilds them in SQL); the production path trains each
    subspace with operators/clustering.kmeans and feeds the result in
    through the same (sp, cid, ce) contract. Only ksub rows transit
    the driver — the PQ analog of the k-means centroid contract.
    """
    subdim = dim // n_sub
    spark = vectors.sparkSession
    seeds = vectors.filter(seed_pred).orderBy("vec_id").limit(ksub).collect()
    rows = []
    for cid, r in enumerate(seeds):
        e = [float(x) for x in r["e"]]
        for sp in range(n_sub):
            rows.append((sp, cid, e[sp * subdim : (sp + 1) * subdim]))
    return spark.createDataFrame(rows, "sp INT, cid INT, ce ARRAY<DOUBLE>")


def _subspace_explode(
    df: DataFrame, dim: int, n_sub: int, out_id: str
) -> DataFrame:
    """(out_id, sp, sub): one row per vector and subspace."""
    subdim = dim // n_sub
    slices = F.array(
        *[
            F.struct(
                F.lit(sp).alias("sp"),
                F.slice(F.col("e"), sp * subdim + 1, subdim).alias("sub"),
            )
            for sp in range(n_sub)
        ]
    )
    return df.select(
        F.col("vec_id").alias(out_id), F.explode(slices).alias("_s")
    ).select(out_id, F.col("_s.sp").alias("sp"), F.col("_s.sub").alias("sub"))


def pq_encode(
    vectors: DataFrame, codebook: DataFrame, dim: int, n_sub: int
) -> DataFrame:
    """PQ encoding: (vec_id, sp, code, sub_dist) — nearest sub-centroid
    per subspace (squared-L2 left fold, ties to the lowest code).

    The compression step of IVF-PQ: dim doubles → n_sub small ints
    (~32x for 64-dim float64 → 8 codes). One broadcast join against the
    (n_sub*ksub)-row codebook + a hash argmin; shuffle carries only
    (id, sp) groups — linear, no pairwise work.
    """
    subs = _subspace_explode(vectors, dim, n_sub, "vec_id")
    scored = subs.join(F.broadcast(codebook), "sp").withColumn(
        "_d", sq_dist(F.col("sub"), F.col("ce"))
    )
    return argmax_agg(
        scored,
        ["vec_id", "sp"],
        F.struct((-F.col("_d")).alias("_nd"), (-F.col("cid")).alias("_nc")),
        {"code": F.col("cid"), "sub_dist": F.col("_d")},
    )


def _adc_lut(
    vectors: DataFrame, codebook: DataFrame, dim: int, n_sub: int, query_pred: Column
) -> DataFrame:
    """The ADC lookup table (qid, sp, code, _d): every query
    subvector's squared distance to every sub-centroid. |Q|·n_sub·ksub
    rows — tiny, broadcast by the callers."""
    qsubs = _subspace_explode(vectors.filter(query_pred), dim, n_sub, "qid")
    return qsubs.join(F.broadcast(codebook), "sp").select(
        "qid", "sp", F.col("cid").alias("code"),
        sq_dist(F.col("sub"), F.col("ce")).alias("_d"),
    )


def _adc_topk(joined: DataFrame, k: int) -> DataFrame:
    """(qid, nid, adist): per (qid, vec_id) the LUT'd partial distances
    of `joined` folded IN SUBSPACE ORDER (array_sort + left fold), so
    the total is bit-identical to the oracle's
    `list_reduce(list(d ORDER BY sp))` — a float sum over a
    hash-shuffled group would be order-dependent — then the k smallest
    per query, rounded to 6 dp."""
    folded = joined.groupBy("qid", "vec_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sp", "_d"))),
                lambda s: s["_d"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_adist")
    )
    dists = folded.select(
        "qid", F.col("vec_id").alias("nid"), F.round("_adist", 6).alias("adist")
    )
    return _rank_topk(dists, k, F.col("adist").asc())


def pq_adc_topk(
    vectors: DataFrame,
    codebook: DataFrame,
    dim: int,
    n_sub: int,
    k: int,
    query_pred: Column,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: per query, top-k database
    vectors by the sum of per-subspace query-to-centroid distances
    looked up through the database codes — queries never touch raw
    database vectors, which is the point at 100 TB (codes are the only
    corpus-sized relation).

    Shape: LUT = queries x codebook (tiny, broadcast), joined to the
    code table on (sp, code), folded per (qid, vec_id) by `_adc_topk`.
    """
    codes = pq_encode(vectors, codebook, dim, n_sub)
    lut = _adc_lut(vectors, codebook, dim, n_sub, query_pred)
    joined = codes.join(F.broadcast(lut), ["sp", "code"]).filter(
        F.col("qid") != F.col("vec_id")
    )
    return _adc_topk(joined, k)


def ivfpq_topk(
    vectors: DataFrame,
    codebook: DataFrame,
    dim: int,
    n_sub: int,
    k: int,
    query_pred: Column,
    centroid_pred: Column,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-PQ search (the FAISS IVFADC layout, minus residual encoding):
    an IVF coarse quantizer bounds WHICH vectors each query compares
    against (nprobe clusters), and PQ codes bound WHAT is compared
    (8 small codes instead of raw vectors, ranked by LUT'd asymmetric
    distance). At 100 TB the corpus-sized relations are exactly two —
    the coarse assignment and the code table, both linear and both
    write-once reusable (sources/catalog.VersionedTable) — while every
    per-query structure (probe list, distance LUT) is a broadcast.

    Simplification vs FAISS: codes quantize raw vectors, not residuals
    against the coarse centroid — residuals would break the shared
    codebook contract with `pq_encode`'s oracle; the recall trade is
    the standard IVFFlat-with-PQ-ranking layout.
    """
    assigned, probes = _ivf(vectors, query_pred, centroid_pred, nprobe, {})
    candidates = (
        F.broadcast(probes)
        .join(assigned, "cid")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id")
    )
    codes = pq_encode(vectors, codebook, dim, n_sub)
    lut = _adc_lut(vectors, codebook, dim, n_sub, query_pred)
    joined = candidates.join(codes, "vec_id").join(
        F.broadcast(lut), ["qid", "sp", "code"]
    )
    return _adc_topk(joined, k)


def exact_rerank(
    candidates: DataFrame, corpus: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """Exact-distance refinement of an approximate candidate list —
    the FAISS "refine" stage that makes PQ-coded search usable: the
    coded index (ivfpq_topk / pq_adc_topk with a WIDE k) bounds WHICH
    vectors are touched, then the true cosine ranks that small
    candidate set and keeps the real top-k. ADC distances rank on
    quantized codes, so their @k=small recall collapses whenever
    quantization cells are coarse relative to neighbor gaps (measured:
    recall@3 ~ 0.11 on an 8-dim uniform corpus); re-ranking the ADC
    top-64/top-256 with exact distances recovers 0.497/0.735 at fixed
    nprobe=2 on the same corpus, and widening the probe to nprobe=4
    lifts it to 0.755 (tests/test_scale_patterns.py pins all four —
    the two levers measured separately). Cost at
    scale: |queries| x refine_width exact distances — per-query
    constant, never a corpus scan; the raw vectors of only the
    candidate rows are fetched (an equi-join on the candidate ids).

    `candidates` carries (qid, nid). Output: the brute_force_topk
    contract over the candidate subset.
    """
    ne = corpus.select(
        F.col("vec_id").alias("nid"), "e", norm(F.col("e")).alias("_nrm")
    )
    qe = queries.select("qid", "qe", norm(F.col("qe")).alias("_qnrm"))
    pairs = (
        candidates.select("qid", "nid")
        # self-pair exclusion: part of the brute_force_topk contract —
        # when queries are drawn from the corpus and the upstream
        # index did not filter self, the query would otherwise take
        # rank 1 at sim=1.0 and silently waste one of the k slots
        .filter(F.col("nid") != F.col("qid"))
        .join(ne, "nid")
        .join(F.broadcast(qe), "qid")
    )
    return _cosine_topk(pairs, k, "nid", "qe", "e", "_qnrm", "_nrm")
