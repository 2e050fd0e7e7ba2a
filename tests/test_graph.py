"""Invariant tests for the graph-analytics queries.

The oracle comparison proves value equality against DuckDB; these pin
the mathematical properties that survive any refactor of the plan:
PageRank is a probability distribution (mass conservation) and degree
centrality is bounded by the simple-graph degree limit.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from iceberg_tracking_spark.plans import QUERIES
from iceberg_tracking_spark.plans.queries_graph import (
    _BFS_SRC,
    _supplier_edges,
    q_degree_centrality,
    q_pagerank,
    q_shortest_path,
)

from .oracle_harness import compare


def test_pagerank_mass_conserved(spark, sf_dir):
    """Σ rank = 1: no dangling nodes (every node in a symmetrized edge
    list has out-degree ≥ 1), so each iteration redistributes all mass."""
    pr = q_pagerank(spark, sf_dir)
    total = pr.agg(F.sum("pagerank")).first()[0]
    assert abs(total - 1.0) < 1e-6
    assert pr.filter(F.col("pagerank") <= 0).count() == 0


def test_pagerank_teleport_floor(spark, sf_dir):
    """Every node keeps at least the teleport mass (1-d)/N."""
    pr = q_pagerank(spark, sf_dir)
    n = pr.count()
    floor = (1 - 0.85) / n
    assert pr.filter(F.col("pagerank") < floor * 0.999999).count() == 0


def test_degree_centrality_bounds(spark, sf_dir):
    """0 < centrality ≤ 1 on a simple graph (deg ≤ N−1), and the edge
    list is symmetric so degree equals the true neighbor count."""
    dc = q_degree_centrality(spark, sf_dir)
    assert dc.filter((F.col("centrality") <= 0) | (F.col("centrality") > 1)).count() == 0


def test_supplier_edges_symmetric_no_self_loops(spark, sf_dir):
    edges = _supplier_edges(spark, sf_dir)
    assert edges.filter(F.col("src") == F.col("dst")).count() == 0
    # symmetry: reversing the edge list yields the same relation
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    assert edges.exceptAll(rev).count() == 0


def test_triangle_count_matches_handrolled(spark, sf_dir):
    """Total triangle participation = 3 × number of distinct triangles,
    and the ordered-wedge enumeration counts each triangle once."""
    from iceberg_tracking_spark.plans.queries_graph import q_triangle_count

    tc = q_triangle_count(spark, sf_dir)
    total = tc.agg(F.sum("triangles")).first()[0]
    assert total % 3 == 0
    assert tc.filter(F.col("triangles") <= 0).count() == 0


def test_adamic_adar_planted_star(spark):
    """Two planted squares: u–w1–v plus u–w2–v (w1,w2 shared neighbors)
    → AA(u,v) = 2/ln(2) with n_common = 2; a hub with many neighbors
    contributes LESS per wedge than a selective node."""
    import math

    from iceberg_tracking_spark.plans.queries_graph import adamic_adar_topk

    # nodes: 1,2 share neighbors 10,11 (deg 2 each). 3,4 share ONLY the
    # hub 20, which also neighbors 5..9 (deg 7) → discounted weight.
    edges = [(1, 10), (2, 10), (1, 11), (2, 11), (3, 20), (4, 20)] + [
        (n, 20) for n in (5, 6, 7, 8, 9)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {(r["u"], r["v"]): r for r in adamic_adar_topk(df, 100).collect()}
    pair = out[(1, 2)]
    assert pair["n_common"] == 2
    expected = round(round(1e9 / math.log(2)) * 2 / 1e9, 6)
    assert abs(pair["aa_score"] - expected) < 1e-9
    # hub-mediated pair: single common neighbor of degree 7
    hub_pair = out[(3, 4)]
    assert hub_pair["n_common"] == 1
    assert hub_pair["aa_score"] < pair["aa_score"]
    # existing edges never appear as candidates
    assert (1, 10) not in out and (3, 20) not in out


def test_adamic_adar_excludes_existing_edges(spark):
    """A triangle has every pair already connected → no candidates."""
    from iceberg_tracking_spark.plans.queries_graph import adamic_adar_topk

    tri = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    assert adamic_adar_topk(tri, 10).count() == 0


def test_hits_planted_authority(spark):
    """Everyone picks node 99 → 99 is the top authority; the node that
    picks ONLY high-authority targets is the top hub. Scores are exact
    integers matching the hand-unrolled recursion."""
    from iceberg_tracking_spark.plans.queries_graph import hits_two_iters

    # 1..5 each pick 99; 6 picks 99 and 1; 99 picks 1
    picks = [(u, 99) for u in range(1, 6)] + [(6, 99), (6, 1), (99, 1)]
    df = spark.createDataFrame(picks, "s long, d long")
    out = {r["supp_key"]: r for r in hits_two_iters(df).collect()}
    # hand recursion: h1 = outdeg → 1..5:1, 6:2, 99:1
    # a1(99) = h1(1..6 sum) = 1+1+1+1+1+2 = 7 ; a1(1) = h1(6)+h1(99) = 3
    # h2(u) = Σ a1(picked): 1..5 → 7; 6 → 7+3 = 10; 99 → 3
    # a2(99) = Σ h2(1..6) = 5*7 + 10 = 45 ; a2(1) = h2(6)+h2(99) = 13
    assert out[99]["auth_score"] == 45
    assert out[1]["auth_score"] == 13
    assert out[6]["hub_score"] == 10
    assert out[5]["hub_score"] == 7
    assert out[99]["hub_score"] == 3
    top_auth = max(out.values(), key=lambda r: r["auth_score"])
    assert top_auth["supp_key"] == 99


def test_label_propagation_two_cliques_one_bridge(spark):
    """Two 4-cliques joined by one bridge edge → after 2 synchronous
    rounds each clique converges to its minimum node id; the bridge
    does not merge them (each side's internal majority dominates)."""
    from itertools import combinations

    from iceberg_tracking_spark.plans.queries_graph import (
        label_propagation_rounds,
    )

    c1 = list(combinations([1, 2, 3, 4], 2))
    c2 = list(combinations([10, 11, 12, 13], 2))
    bridge = [(4, 10)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in c1 + c2 + bridge], "src long, dst long"
    )
    out = {
        r["supp_key"]: r["community"]
        for r in label_propagation_rounds(edges, 2).collect()
    }
    assert {out[n] for n in (1, 2, 3)} == {1}
    assert {out[n] for n in (11, 12, 13)} == {10}
    # the bridge endpoints join their own cliques, not each other's
    assert out[4] == 1 and out[10] == 10


def test_shortest_path_null_order_keys_follow_join(spark, sf_dir, tmp_path):
    """NULL l_orderkey rows never pair in the oracle's self-join. Two
    planted NULL-key rows with consecutive linenumbers would link the
    source part to a new part if NULL keys formed a group."""
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    planted = li.slice(0, 2)
    for name, values in (
        ("l_orderkey", [None, None]),
        ("l_linenumber", [1, 2]),
        ("l_partkey", [_BFS_SRC, 10**9]),
    ):
        i = planted.schema.get_field_index(name)
        planted = planted.set_column(
            i, planted.schema.field(i), pa.array(values, planted.schema.field(i).type)
        )
    pq.write_table(pa.concat_tables([li, planted]), tmp_path / "lineitem.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{tmp_path}/lineitem.parquet')"
    )
    want = con.execute(QUERIES["q_shortest_path"].oracle).df()
    con.close()
    assert 10**9 not in set(want["node"])
    assert compare(q_shortest_path(spark, str(tmp_path)), want) == []
