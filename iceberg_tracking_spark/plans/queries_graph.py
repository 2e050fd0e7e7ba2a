"""Graph analytics over the synthetic star schema.

The co-occurrence graph (suppliers sharing an order) is the relational
shape behind recommendation graphs, citation graphs, and near-dup
candidate graphs: a self-join inside a grouping key generates edges,
then iterative join+aggregate rounds compute a fixpoint. Connected
components (`operators/graph.py`) covers the dedup direction; this
module adds PageRank — the canonical "iterative algorithm on Spark"
whose naive implementation dies on lineage growth, not data size.

Reference tie-in: the reference's track-graph post-processing
(tracking.py:1037-1133) builds the same candidate-pair relation shape
(pairwise scores within a frame group) before its greedy 1:1 pass.

Scale design (100 TB):
* Edge generation collects each order's supplier set (one scan, one
  order-keyed shuffle, groups bounded by order size — TPC-H orders
  have ≤7 lineitems) and explodes the pair fan map-side, so the pair
  explosion is linear in input, never quadratic in the table, and no
  self-join (with its twice-scanned, twice-shuffled input) runs at
  all (r12; the oracle SQL keeps the self-join formulation as the
  semantic spec).
* Each PageRank iteration is ONE shuffle (edge ⋈ rank join keyed on the
  node id + hash re-aggregate). Contributions use map-side partial
  aggregation; no window, no sort.
* The symmetric edge list is computed once and `localCheckpoint`-ed:
  every iteration re-reads it, and without lineage truncation the plan
  doubles per round (the iterative-Spark trap; same treatment as
  `operators/graph.py:connected_components`). The degree relation is a
  |V|-row aggregate over it whose join strategy AQE decides per round
  (broadcast at test scale, shuffle-hash when |V| outgrows the
  threshold — no forced hint on a with-sf-growing side, the r10
  HITS/AA house rule applied repo-wide in r11).
* A fixed iteration count keeps the oracle exactly mirrorable (the
  DuckDB side unrolls the same three rounds as CTEs, like q_kmeans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query

_DAMPING = 0.85
_ITERS = 3


def _supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected supplier pairs co-occurring in an order.

    Returned symmetrized (both directions), so a single groupBy over
    `src` computes degrees and neighbor sums without a second union.

    Built join-free (r12, guide §2.4 "remove shuffles outright"):
    collect each order's distinct supplier SET (one scan, one
    order-keyed shuffle whose groups are bounded by order size, ≤7
    lineitems in TPC-H shape), then explode the set against itself
    map-side — exactly the pair multiset the within-order self-join
    on `!=` produced, without scanning lineitem twice or building a
    join at all. (History: r4 moved distinct-after-union to a single
    pass over the join's doubled pair stream; r12 removes the join —
    the self-join's two identical scan+Exchange subtrees got NO
    ReusedExchange at runtime because one side sat under a
    BroadcastExchange, re-proven in the executed plan this round.
    Measured at sf0.1, warm min: 2.74 s self-join → 1.16 s set-explode
    for the symmetric distinct relation; pair multiset verified
    identical with exceptAll in both directions.)
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    sets = li.groupBy("l_orderkey").agg(F.collect_set("l_suppkey").alias("ss"))
    return (
        sets.select(F.explode("ss").alias("src"), "ss")
        .select("src", F.explode("ss").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


_EDGE_SQL = """
        SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_suppkey < b.l_suppkey
"""

# One unrolled PageRank round: rank_{i+1} from rank_i over sym_edges,
# teleport mass from the node count `n`.
_PR_STEP = """
    {next} AS (
        SELECT s.dst AS node,
               (1 - {d}) / (SELECT n FROM nn)
               + {d} * sum(r.rank / d.deg_src) AS rank
        FROM sym s
        JOIN deg d ON d.src = s.src
        JOIN {prev} r ON r.node = s.src
        GROUP BY s.dst
    )
"""


def _oracle() -> str:
    steps = ",\n".join(
        _PR_STEP.format(next=f"r{i + 1}", prev=f"r{i}", d=_DAMPING)
        for i in range(_ITERS)
    )
    return f"""
    WITH pairs AS ({_EDGE_SQL}),
    sym AS (
        SELECT src, dst FROM pairs
        UNION ALL SELECT dst AS src, src AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS deg_src FROM sym GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
    {steps}
    SELECT node AS supp_key, round(rank, 9) AS pagerank
    FROM r{_ITERS}
    """


@query("q_pagerank", oracle=_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier co-occurrence graph, 3 unrolled
    iterations from a uniform start.

    rank' (v) = (1−d)/N + d · Σ_{u→v} rank(u)/deg(u), d = 0.85.

    Every node in the edge list has degree ≥ 1 (isolated suppliers are
    out of the graph), so there is no dangling-mass term and total rank
    is conserved — which also makes the result independent of join or
    partition order up to float summation, handled by round(9).

    The join attaches rank/deg to the CONTRIBUTING end (`src`) of each
    symmetrized edge and aggregates on the receiving end (`dst`) — with
    a symmetric edge list that is exactly Σ over neighbors, in one
    equi-join plus one hash aggregate per round.

    Constant-factor shape (r5 verdict task #5, re-measured r6; hint
    policy aligned r11): ONE materialization — the symmetric edge
    list — then the degree relation (|V| rows after map-side combine)
    joins into every unrolled round with the strategy AQE DECIDES
    (broadcast at test scale, shuffle-hash beyond the threshold) —
    the r10 HITS/Adamic-Adar house rule: |V| is supplier-count-sized,
    which GROWS with sf (10k·sf rows — ~1 GB of keys at the 100-TB
    sf), so a forced broadcast hint on it is exactly the
    unbounded-side hint that rule bans. Measured min-of-3 at sf0.1,
    same session: 4.08 s hint-free vs 4.54 s forced — AQE picks the
    same broadcast at test scale from runtime shuffle stats, for
    free. The earlier shape findings stand: one checkpoint beats two
    (the ~|V|²-row annotated-edge checkpoint cost more than the
    per-round joins it saved, 5.03 s vs 3.46 s r6) and beats a
    window-count degree annotation (3.76 s r6, and the sort
    concentrates hot partitions under skewed hub degrees at 100 TB).
    Per-round rank checkpoints remain pointless at this unroll depth;
    lineage truncation only pays for deep/unbounded iteration
    (operators/graph.py).
    """
    sym = _supplier_edges(spark, sf_dir).localCheckpoint()
    # deg is |V| rows and feeds EVERY unrolled round through a
    # broadcast — without materialization each round recomputes the
    # |E|-row degree aggregate (the r12 plan dump shows the deg
    # subtree three times; runtime exchange reuse does not fire under
    # a BroadcastExchange). The checkpoint job replaces the former
    # bare deg.count() job (same aggregate, now materialized), so the
    # fn() job count is unchanged and the count() below reads the
    # cached |V|-row RDD. This is NOT the r6-rejected edges
    # checkpoint (that one materialized the |E|-row annotated edge
    # relation; deg is supplier-count-sized).
    deg = sym.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint()
    edges = sym.join(deg, "src").select("src", "dst", "deg")
    n = deg.count()  # node count: k-row metadata scalar, not data-sized

    ranks = deg.select("src", F.lit(1.0 / n).alias("rank"))
    for _ in range(_ITERS):
        contrib = edges.join(ranks, "src").select(
            F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c")
        )
        ranks = (
            contrib.groupBy("node")
            .agg(
                (
                    F.lit((1 - _DAMPING) / n) + F.lit(_DAMPING) * F.sum("c")
                ).alias("rank")
            )
            .select(F.col("node").alias("src"), "rank")
        )
    return ranks.select(
        F.col("src").alias("supp_key"), F.round("rank", 9).alias("pagerank")
    )


@query(
    "q_degree_centrality",
    oracle=f"""
    WITH pairs AS ({_EDGE_SQL}),
    sym AS (
        SELECT src, dst FROM pairs
        UNION ALL SELECT dst AS src, src AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg)
    SELECT src AS supp_key,
           deg AS degree,
           round(deg * 1.0 / ((SELECT n FROM nn) - 1), 6) AS centrality
    FROM deg
    """,
)
def q_degree_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree centrality per supplier: deg(v) / (N−1) on the same
    co-occurrence graph. One hash aggregate over the symmetrized edge
    list; the N scalar is a metadata count, not a data-sized collect."""
    sym = _supplier_edges(spark, sf_dir)
    deg = sym.groupBy("src").agg(F.count("*").alias("degree"))
    n = deg.count()
    return deg.select(
        F.col("src").alias("supp_key"),
        "degree",
        F.round(F.col("degree") / F.lit(float(n - 1)), 6).alias("centrality"),
    )


_TOPK = 8  # partners kept per node in the k-NN backbone

# Top-K co-occurrence backbone: keep each supplier's 8 strongest
# partners (shared-order count desc, id asc), then de-duplicate the
# directed picks into (src < dst) half-edges.
_BACKBONE_SQL = f"""
        cooc AS (
            SELECT a.l_suppkey AS s, b.l_suppkey AS d, count(*) AS n
            FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
            JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
              ON a.l_orderkey = b.l_orderkey
            WHERE a.l_suppkey <> b.l_suppkey
            GROUP BY a.l_suppkey, b.l_suppkey
        ),
        picks AS (
            SELECT s, d FROM (
                SELECT s, d,
                       row_number() OVER (PARTITION BY s
                                          ORDER BY n DESC, d ASC) AS rn
                FROM cooc
            ) WHERE rn <= {_TOPK}
        ),
        pairs AS (
            SELECT DISTINCT least(s, d) AS src, greatest(s, d) AS dst
            FROM picks
        )
"""


def _backbone_picks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED top-K picks (s → d: s keeps d among its 8 strongest
    partners) — the endorsement relation behind the backbone;
    out-degree ≤ _TOPK by construction. localCheckpoint-ed."""
    # Join-free co-occurrence counts (r12 — the _supplier_edges
    # set-explode move): collect_set per order IS the distinct
    # (l_orderkey, l_suppkey) relation the old shape materialized
    # twice on the two self-join sides; the ordered pair fan explodes
    # map-side, bounded by order size. Measured at sf0.1, warm min:
    # 3.15 s → 1.96 s for the cooc aggregate, identical multiset.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    sets = li.groupBy("l_orderkey").agg(F.collect_set("l_suppkey").alias("ss"))
    cooc = (
        sets.select(F.explode("ss").alias("s"), "ss")
        .select("s", F.explode("ss").alias("d"))
        .where(F.col("s") != F.col("d"))
        .groupBy("s", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("s").orderBy(F.col("n").desc(), F.col("d").asc())
    return (
        cooc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK)
        .select("s", "d")
        .localCheckpoint()
    )


def _backbone_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K co-occurrence backbone as (src < dst) half-edges,
    localCheckpoint-ed (consumers re-join it several times)."""
    picks = _backbone_picks(spark, sf_dir).select(
        F.least("s", "d").alias("src"), F.greatest("s", "d").alias("dst")
    )
    return picks.distinct().localCheckpoint()


@query(
    "q_triangle_count",
    oracle=f"""
    WITH {_BACKBONE_SQL},
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.src = e1.dst
        JOIN pairs e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    per_node AS (
        SELECT node, count(*) AS triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )
    SELECT node AS supp_key, triangles FROM per_node
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation count on the top-K co-occurrence
    BACKBONE graph (clustering-coefficient numerator — the
    community-density signal next to PageRank's centrality).

    Why a backbone and not the raw co-occurrence graph: co-occurrence
    saturates — at sf0.1 the full graph is already COMPLETE (C(1000,2)
    edges), and triangle counts on a near-complete graph are Θ(n³) no
    matter the algorithm (this query OOM'd a 1 GB driver before the
    backbone was introduced). Keeping each node's top-8 partners
    (shared-order count desc, id asc — the k-NN graph every near-dup /
    recommendation pipeline actually analyzes) bounds degree ≤ 2K by
    construction, so wedge work is O(|V|·K²) at ANY scale — the
    difference between a plan that survives 100× and one that cannot
    terminate.

    Triangle core: classic ordered-wedge enumeration — with every edge
    stored once as (src < dst), a triangle {{a<b<c}} is found EXACTLY
    once as the wedge a→b→c closed by edge a→c: two equi-joins on the
    half-edge list, no double counting to divide away.
    """
    edges = _backbone_edges(spark, sf_dir)
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select("b"))
        .union(tri.select("c"))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
        .select(F.col("node").alias("supp_key"), "triangles")
    )


@query(
    "q_clustering_coeff",
    oracle=f"""
    WITH {_BACKBONE_SQL},
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.src = e1.dst
        JOIN pairs e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    tri_per_node AS (
        SELECT node, count(*) AS triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    ),
    deg AS (
        SELECT node, count(*) AS degree FROM (
            SELECT src AS node FROM pairs
            UNION ALL SELECT dst FROM pairs
        ) GROUP BY node
    )
    SELECT d.node AS supp_key,
           round(coalesce(t.triangles, 0) * 2.0
                 / (d.degree * (d.degree - 1)), 6) AS clustering_coeff
    FROM deg d LEFT JOIN tri_per_node t ON t.node = d.node
    WHERE d.degree >= 2
    """,
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the top-K backbone:
    cc(v) = triangles(v) / C(deg(v), 2) — how much of a node's
    neighborhood is itself connected (community tightness, the
    companion signal to q_triangle_count's raw counts). Same
    degree-bounded backbone, so the wedge work stays O(|V|·K²) at any
    scale; the division is per-node arithmetic on two small aggregates.
    """
    edges = _backbone_edges(spark, sf_dir)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    tri_nodes = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select("b"))
        .union(tri.select("c"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    deg = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri_nodes, "node", "left")
        .select(
            F.col("node").alias("supp_key"),
            F.round(
                F.coalesce(F.col("triangles"), F.lit(0)) * 2.0
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )


# ------------------------------------------------------ BFS shortest path

_BFS_SRC = 1   # source part key (TPC-H part keys start at 1)
_BFS_HOPS = 3  # unrolled relaxation rounds → exact dist ≤ 3

_ADJ_SQL = """
        SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_linenumber + 1 = b.l_linenumber
        WHERE a.l_partkey <> b.l_partkey
"""

# One unrolled BFS relaxation: known distances ∪ (known ⋈ edges)+1,
# re-minimized per node.
_BFS_STEP = """
    {next} AS (
        SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT e.d AS node, p.dist + 1 AS dist
            FROM {prev} p JOIN e ON e.s = p.node
        ) GROUP BY node
    )
"""


def _bfs_oracle() -> str:
    steps = ",\n".join(
        _BFS_STEP.format(next=f"d{i + 1}", prev=f"d{i}")
        for i in range(_BFS_HOPS)
    )
    return f"""
    WITH e0 AS ({_ADJ_SQL}),
    e AS (SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0),
    d0 AS (SELECT CAST({_BFS_SRC} AS BIGINT) AS node, 0 AS dist),
    {steps}
    SELECT node, dist FROM d{_BFS_HOPS}
    """


@query("q_shortest_path", oracle=_bfs_oracle())
def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS shortest path (hop count), 3 unrolled
    relaxation rounds — the graph primitive behind influence radius,
    dependency closure, and link-distance features. The graph is the
    part "sequence adjacency" relation: parts filling CONSECUTIVE
    linenumbers of one order are linked (|Δlinenumber| = 1 keeps the
    per-order edge fan linear, ~6 edges per order — unlike the dense
    all-pairs co-occurrence graph, where 3 hops reach everything and
    the result is degenerate). Distances here spread 23 / ~570 / ~2000
    nodes at hops 1/2/3 on sf0.01.

    Each round is textbook distributed Bellman-Ford restricted to unit
    weights: dist' = min(dist, min over incoming edges of dist+1) —
    ONE equi-join + ONE hash min-aggregate; the frontier relation is
    bounded by |V|, and at this unroll depth the distance relation is
    tiny, so every join broadcasts it against the checkpointed edge
    list. The oracle unrolls the identical three rounds as CTEs
    (same pattern as q_pagerank / q_kmeans). Deeper/unbounded BFS
    belongs to the iterate-with-lineage-truncation family
    (operators/graph.py:connected_components).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    # Join-free adjacency, multiplicity-aware (r13, guide §2.4 — the
    # r12 revert done right): collect each order's FULL (linenumber,
    # partkey) row multiset in one order-keyed shuffle and explode the
    # ln/ln+1 pairs map-side. The r12 attempt paired SORT-ADJACENT
    # rows and lost cross-duplicate pairs (the synthetic lineitem has
    # duplicate (l_orderkey, l_linenumber) rows — 11,785 groups at
    # sf0.01); the a×b explode below pairs EVERY row at linenumber k
    # with EVERY row at k+1, which is exactly the self-join's pair
    # multiset (the downstream `distinct` only needs the pair SET, and
    # even the multiset matches). Order groups are ≤7 rows in TPC-H
    # shape, so the map-side fan is k² of a small constant — linear in
    # input, while the old self-join scanned and shuffled lineitem
    # twice with no runtime ReusedExchange. NULL order keys are dropped
    # first: the self-join never pairs them, while groupBy would gather
    # them into one group and link their rows.
    per_order = (
        li.where(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.collect_list(F.struct("l_linenumber", "l_partkey")).alias("rows"))
    )
    directed = (
        per_order.select(F.explode("rows").alias("a"), "rows")
        .select("a", F.explode("rows").alias("b"))
        .where(
            (F.col("b.l_linenumber") == F.col("a.l_linenumber") + 1)
            & (F.col("a.l_partkey") != F.col("b.l_partkey"))
        )
        .select(
            F.col("a.l_partkey").alias("s"),
            F.col("b.l_partkey").alias("d"),
        )
    )
    sym = (
        directed.unionAll(
            directed.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
        .distinct()
        .localCheckpoint()  # consumed once per unrolled round
    )
    dist = spark.createDataFrame(
        [(_BFS_SRC, 0)], "node long, dist int"
    )
    for _ in range(_BFS_HOPS):
        # The distance relation is |V|-bounded (≪ |E|) but |V| GROWS
        # with sf, so the join strategy is AQE's call (the r10
        # HITS/AA house rule — no forced hint on an unbounded side):
        # broadcast at test scale from runtime shuffle stats,
        # shuffle-hash once |V| outgrows the threshold. Measured
        # min-of-3 at sf0.1, same session: 3.10 s hint-free vs
        # 3.12 s with the old forced broadcast.
        relaxed = dist.join(sym, dist.node == sym.s).select(
            F.col("d").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist


# ---------------------------------------------- Adamic-Adar link prediction

_AA_SCALE = 1_000_000_000  # 1e-9 weight grid → exact integer sums
_AA_TOPK = 100


@query(
    "q_adamic_adar",
    oracle=f"""
    WITH {_BACKBONE_SQL},
    sym AS (
        SELECT src AS a, dst AS b FROM pairs
        UNION ALL
        SELECT dst, src FROM pairs
    ),
    deg AS (SELECT a AS node, count(*) AS degree FROM sym GROUP BY 1),
    wt AS (
        SELECT node,
               CAST(round({_AA_SCALE}.0 / ln(CAST(degree AS DOUBLE)))
                    AS BIGINT) AS wq
        FROM deg WHERE degree >= 2
    ),
    wedge AS (
        SELECT e1.b AS u, e2.b AS v, e1.a AS w
        FROM sym e1 JOIN sym e2 ON e1.a = e2.a AND e1.b < e2.b
    ),
    cand AS (
        SELECT u, v, count(*) AS n_common,
               CAST(sum(wt.wq) AS BIGINT) AS aa_scaled
        FROM wedge JOIN wt ON wt.node = wedge.w
        WHERE NOT EXISTS (
            SELECT 1 FROM pairs p WHERE p.src = wedge.u AND p.dst = wedge.v
        )
        GROUP BY 1, 2
    )
    SELECT u, v, n_common,
           round(aa_scaled / {_AA_SCALE}.0, 6) AS aa_score
    FROM cand
    ORDER BY aa_scaled DESC, u, v
    LIMIT {_AA_TOPK}
    """,
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the top-K backbone — the classic
    common-neighbor score AA(u,v) = Σ_{{w∈N(u)∩N(v)}} 1/ln(deg w)
    (Adamic & Adar 2003), ranking NON-edges most likely to form: the
    recommendation primitive next to q_item_similarity (which scores
    by co-counts; AA discounts promiscuous hubs). Top-100 candidate
    pairs by score, existing edges anti-joined away.

    Determinism with a transcendental inside a SUM: each common
    neighbor contributes 1/ln(deg) — a float — and float sums are
    order-dependent. House fix: the per-NODE weight is quantized ONCE
    onto the integer 1e-9 grid (wq = round(1e9/ln(deg)), deg an exact
    integer; libm's ≤1-ulp ln() spread is ~1e-8 on that grid — 10^7×
    below the rounding step, the q_unigram_logprob argument), then
    AA lifts to an exact BIGINT sum of wq. Ranking ties break on the
    exact integer (aa_scaled DESC, u, v) — a total order; deg(w) ≥ 2
    for every wedge center by construction (u ≠ v are both neighbors),
    so ln() never sees 1.

    Scale: wedges enumerate per-CENTER neighbor pairs, so work is
    Σ_w deg(w)² on the BACKBONE (edges ≤ K·|V| by construction — the
    q_triangle_count boundedness argument); candidates are only pairs
    with ≥1 common neighbor, never all-pairs; the weight table is a
    |V|-row relation whose join strategy AQE decides (broadcast at
    test scale, shuffle-hash beyond the threshold — no forced hint on
    an unbounded side); top-k is TakeOrdered (per-partition heads, no
    global sort materialization).
    """
    return adamic_adar_topk(_backbone_edges(spark, sf_dir), _AA_TOPK)


def adamic_adar_topk(edges: DataFrame, topk: int) -> DataFrame:
    """Top-k Adamic-Adar candidates from a (src < dst) half-edge
    relation — see q_adamic_adar for semantics and determinism."""
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionAll(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        # three consumers: degree table + both wedge sides
        .localCheckpoint()
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("degree"))
    wt = deg.filter(F.col("degree") >= 2).select(
        F.col("a").alias("node"),
        F.round(
            F.lit(float(_AA_SCALE)) / F.log(F.col("degree").cast("double"))
        )
        .cast("long")
        .alias("wq"),
    )
    e1 = sym.alias("e1")
    e2 = sym.alias("e2")
    wedge = e1.join(
        e2,
        (F.col("e1.a") == F.col("e2.a")) & (F.col("e1.b") < F.col("e2.b")),
    ).select(
        F.col("e1.b").alias("u"),
        F.col("e2.b").alias("v"),
        F.col("e1.a").alias("w"),
    )
    cand = (
        # wt is |V|-row: AQE decides the join strategy (broadcast at
        # test scale, shuffle-hash when |V| outgrows the threshold)
        wedge.join(wt, F.col("w") == F.col("node"))
        .join(
            edges,
            (F.col("u") == F.col("src")) & (F.col("v") == F.col("dst")),
            "left_anti",
        )
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("wq").alias("aa_scaled"),
        )
    )
    return (
        cand.orderBy(F.col("aa_scaled").desc(), "u", "v")
        .limit(topk)
        .select(
            "u",
            "v",
            "n_common",
            F.round(F.col("aa_scaled") / float(_AA_SCALE), 6).alias(
                "aa_score"
            ),
        )
    )


# --------------------------------------------------- HITS hubs/authorities


@query(
    "q_hits",
    oracle=f"""
    WITH {_BACKBONE_SQL},
    h1 AS (SELECT s AS node, count(*) AS h FROM picks GROUP BY 1),
    a1 AS (
        SELECT p.d AS node, CAST(sum(h1.h) AS BIGINT) AS a
        FROM picks p JOIN h1 ON h1.node = p.s GROUP BY 1
    ),
    h2 AS (
        SELECT p.s AS node, CAST(sum(a1.a) AS BIGINT) AS h
        FROM picks p JOIN a1 ON a1.node = p.d GROUP BY 1
    ),
    a2 AS (
        SELECT p.d AS node, CAST(sum(h2.h) AS BIGINT) AS a
        FROM picks p JOIN h2 ON h2.node = p.s GROUP BY 1
    )
    SELECT coalesce(h2.node, a2.node) AS supp_key,
           coalesce(h2.h, 0) AS hub_score,
           coalesce(a2.a, 0) AS auth_score
    FROM h2 FULL OUTER JOIN a2 ON a2.node = h2.node
    """,
)
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999), two mutual-
    reinforcement iterations on the DIRECTED top-K endorsement graph
    (s → d: s keeps d among its strongest partners — direction is
    real information the symmetrized backbone erases: being PICKED is
    endorsement, picking is curation). Completes the centrality family
    beside q_pagerank (random-walk) and q_degree_centrality (local).

    Exact by construction: HITS normalization is a per-iteration
    SCALAR, so rankings are invariant to skipping it — and unnormalized
    HITS from a0 = 1 is pure integer matrix algebra: hub¹ = out-degree,
    auth¹(v) = Σ_{{u→v}} hub¹(u), hub²(u) = Σ_{{u→v}} auth¹(v),
    auth²(v) = Σ_{{u→v}} hub²(u) — every score an exact BIGINT, no
    floats anywhere (the one iterative-algorithm query with NOTHING to
    round). Values stay ≤ K²·|V|·K per level — far inside int64.

    Scale: each half-step is ONE equi-join + hash aggregate on the
    picks relation (out-degree ≤ K = {_TOPK} by construction, edges ≤
    K·|V|); the score vectors are |V|-row relations. Fixed iteration
    count, lineage truncated at the checkpointed picks — the
    q_pagerank treatment without the float-mass bookkeeping.
    """
    return hits_two_iters(_backbone_picks(spark, sf_dir))


def hits_two_iters(picks: DataFrame) -> DataFrame:
    """Two unnormalized HITS iterations over a directed (s, d) pick
    relation — see q_hits for semantics and exactness."""
    # The score vectors are |V|-row relations: no forced broadcast
    # hints here (the q_slope_one rationale — a forced hint on an
    # unbounded-cardinality side is a latent driver OOM at extreme
    # scale). AQE picks broadcast at test scale and shuffle-hash
    # beyond the threshold.
    h1 = picks.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("h")
    )
    a1 = (
        picks.join(h1, picks.s == h1.node)
        .groupBy(F.col("d").alias("anode"))
        .agg(F.sum("h").alias("a"))
    )
    h2 = (
        picks.join(a1, picks.d == F.col("anode"))
        .groupBy(F.col("s").alias("hnode"))
        .agg(F.sum("a").alias("h2"))
    )
    a2 = (
        picks.join(h2, picks.s == F.col("hnode"))
        .groupBy(F.col("d").alias("anode2"))
        .agg(F.sum("h2").alias("a2"))
    )
    return h2.join(
        a2, F.col("hnode") == F.col("anode2"), "full_outer"
    ).select(
        F.coalesce(F.col("hnode"), F.col("anode2")).alias("supp_key"),
        F.coalesce(F.col("h2"), F.lit(0)).alias("hub_score"),
        F.coalesce(F.col("a2"), F.lit(0)).alias("auth_score"),
    )


# ------------------------------------------------------ label propagation

_LPA_ROUNDS = 2


def _lpa_round_sql(prev: str, nxt: str) -> str:
    """One synchronous LPA round as SQL: count neighbor labels, argmax
    with (count DESC, label ASC) total order."""
    return f"""
    {nxt} AS (
        SELECT node, lab FROM (
            SELECT s.b AS node, p.lab, count(*) AS c,
                   row_number() OVER (
                       PARTITION BY s.b ORDER BY count(*) DESC, p.lab ASC
                   ) AS rn
            FROM sym s JOIN {prev} p ON p.node = s.a
            GROUP BY s.b, p.lab
        ) WHERE rn = 1
    )
    """


def _lpa_oracle() -> str:
    steps = ",".join(
        _lpa_round_sql(f"l{i}", f"l{i + 1}") for i in range(_LPA_ROUNDS)
    )
    return f"""
    WITH {_BACKBONE_SQL},
    sym AS (
        SELECT src AS a, dst AS b FROM pairs
        UNION ALL
        SELECT dst, src FROM pairs
    ),
    l0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
    {steps}
    SELECT node AS supp_key, lab AS community FROM l{_LPA_ROUNDS}
    """


@query("q_label_propagation", oracle=_lpa_oracle())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007), 2 unrolled
    rounds on the backbone — the lightweight community detector that
    completes the graph family: centrality (PageRank/HITS/degree),
    density (triangles/clustering coefficient), reachability
    (BFS/connected components), and now COMMUNITIES. Each node adopts
    the most frequent label among its NEIGHBORS, ties to the smallest
    label; labels start as node ids.

    Determinism: LPA's notorious nondeterminism comes from asynchronous
    updates and random tie-breaks — this is the SYNCHRONOUS variant
    (all nodes update from the same previous-round snapshot, the only
    form expressible as pure relational rounds) with a (count DESC,
    label ASC) total-order argmax, so every engine and partitioning
    yields the same labeling. All counts are exact integers; there is
    nothing to round.

    Scale: each round is ONE equi-join (edge ⋈ labels on the
    contributing end) + one hash aggregate + a hash-partitioned argmax
    window — the q_pagerank per-round shape with an argmax instead of
    a float sum; the label relation is |V| rows. Fixed unroll keeps
    the oracle CTE-mirrorable; deep iteration would ride
    localCheckpoint like operators/graph.py's connected components.
    """
    return label_propagation_rounds(
        _backbone_edges(spark, sf_dir), _LPA_ROUNDS
    )


def label_propagation_rounds(edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous LPA over (src < dst) half-edges — see
    q_label_propagation for semantics and determinism."""
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionAll(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .localCheckpoint()  # re-joined every round
    )
    labels = sym.select(F.col("a").alias("node"), F.col("a").alias("lab")).distinct()
    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("lab").asc()
    )
    for _ in range(rounds):
        labels = (
            sym.join(labels, sym.a == labels.node)
            .groupBy(F.col("b").alias("nnode"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.col("nnode").alias("node"), "lab", "c")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lab")
        )
    return labels.select(
        F.col("node").alias("supp_key"), F.col("lab").alias("community")
    )
