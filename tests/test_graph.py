"""Integer PageRank over the customer↔supplier trade graph
(operators/graph.py) — pinned against an independent pure-Python
implementation of the same integer recurrence, so a regression in
either the SQL unrolling or the edge derivation is caught without
reference to the DuckDB oracle."""

from __future__ import annotations

import os
from collections import defaultdict

import pytest

from teleco_etl_pipeline_spark.operators.graph import (
    _D_DEN,
    _D_NUM,
    _ITERS,
    _SCALE,
    _TOPK,
    q_trade_graph_pagerank,
)


def _python_pagerank(edges, iters, scale, d_num, d_den, topk):
    """The identical integer recurrence, driver-side, dict-based."""
    nodes = sorted({s for s, _ in edges})
    n = len(nodes)
    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    base = ((d_den - d_num) * scale) // (d_den * n)
    rank = {v: scale // n for v in nodes}
    for _ in range(iters):
        contrib = {v: rank[v] // outdeg[v] for v in nodes}
        inbox = defaultdict(int)
        for s, d in edges:
            inbox[d] += contrib[s]
        rank = {v: base + (d_num * tot) // d_den for v, tot in inbox.items()}
    ranked = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:topk]
    return [(v, r) for v, r in ranked]


def test_pagerank_matches_pure_python(spark, sf_dir):
    if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
        pytest.skip("harness testdata absent")
    got = [(r["node"], r["rank_units"]) for r in q_trade_graph_pagerank(spark, sf_dir).collect()]

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        .collect()
    )
    edges = []
    for r in pairs:
        c, s = f"C{r['o_custkey']}", f"S{r['l_suppkey']}"
        edges.append((c, s))
        edges.append((s, c))
    want = _python_pagerank(edges, _ITERS, _SCALE, _D_NUM, _D_DEN, _TOPK)

    assert got == want
    # sanity: ranks strictly positive, sorted desc, ties by node asc
    assert all(r > 0 for _, r in got)
    assert got == sorted(got, key=lambda kv: (-kv[1], kv[0]))


def test_pagerank_mass_only_shrinks(spark, sf_dir):
    """Floor division drops mass — total rank must stay ≤ scale, which
    is the overflow-safety invariant the docstring's 2^63 bound rests
    on."""
    if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
        pytest.skip("harness testdata absent")
    df = q_trade_graph_pagerank(spark, sf_dir)
    total_topk = sum(r["rank_units"] for r in df.collect())
    assert 0 < total_topk <= _SCALE


def test_lpa_two_cliques(spark):
    # Two 4-cliques joined by one bridge edge: synchronous LPA with
    # min-label tie-break converges to one community per clique
    # (labels 1 and 5) in two rounds.
    from pyspark.sql import functions as F

    from teleco_etl_pipeline_spark.operators.graph import (
        _LPA_ITERS,
        _lpa_body,  # noqa: F401 — oracle twin exercised via registry
    )
    import itertools

    c1, c2 = [1, 2, 3, 4], [5, 6, 7, 8]
    edges = (
        [(a, b) for a, b in itertools.combinations(c1, 2)]
        + [(a, b) for a, b in itertools.combinations(c2, 2)]
        + [(4, 5)]
    )
    e = spark.createDataFrame(edges, ["u", "v"])
    und = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    from pyspark.sql import Window

    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lab"))
    for _ in range(_LPA_ITERS):
        votes = (
            und.join(labels, und["b"] == labels["node"])
            .groupBy(und["a"].alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("node", "lab")
        )
    got = {r["node"]: r["lab"] for r in labels.collect()}
    assert all(got[n] == 1 for n in c1)
    assert all(got[n] in (1, 5) for n in c2)
    # the two cliques do not merge into one community
    assert len({got[n] for n in c1} | {got[n] for n in c2}) == 2


def test_lpa_query_shape(spark, sf_dir):
    from teleco_etl_pipeline_spark.plans.registry import all_queries

    out = all_queries()["part_lpa_communities"].build(spark, sf_dir).collect()
    assert 1 <= len(out) <= 10
    sizes = [r.n_members for r in out]
    assert sizes == sorted(sizes, reverse=True)
    assert all(r.n_members >= 1 for r in out)


def test_link_prediction_path_graph(spark):
    # Exact fixture through the wedge/anti-join core: path 1-2-3-4.
    # Non-adjacent (1,3) and (2,4) each share exactly one neighbor;
    # adjacent pairs and the 2-hop-distant (1,4) (no common
    # neighbor) never appear.
    from teleco_etl_pipeline_spark.operators.graph import (
        common_neighbor_scores,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "u int, v int")
    out = common_neighbor_scores(edges, topk=15).collect()
    got = {(r.part_a, r.part_b): r.common_neighbors for r in out}
    assert got == {(1, 3): 1, (2, 4): 1}


def test_link_prediction_star_plus_triangle(spark):
    # Star center 0 with leaves 1..4 plus edge (1,2): every leaf
    # pair shares exactly the hub, so all C(4,2) leaf pairs score 1
    # EXCEPT the adjacent (1,2), which the anti-join must remove
    # despite its hub wedge; the hub pairs (0,i) are all adjacent
    # and must never appear.
    from teleco_etl_pipeline_spark.operators.graph import (
        common_neighbor_scores,
    )

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2)], "u int, v int"
    )
    out = common_neighbor_scores(edges, topk=15).collect()
    got = {(r.part_a, r.part_b): r.common_neighbors for r in out}
    assert got == {
        (1, 3): 1,
        (1, 4): 1,
        (2, 3): 1,
        (2, 4): 1,
        (3, 4): 1,
    }


def test_link_prediction_query_shape(spark, sf_dir):
    # The registered query (volume-scaled edge cut) on real testdata:
    # ordering, bounds, and key invariants.
    from teleco_etl_pipeline_spark.plans.registry import all_queries

    out = all_queries()["part_link_prediction"].build(spark, sf_dir).collect()
    assert 1 <= len(out) <= 15
    scores = [r.common_neighbors for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(s >= 1 for s in scores)
    assert all(r.part_a < r.part_b for r in out)


def test_link_prediction_ra_exact_fixtures(spark):
    # Path 1-2-3-4: (1,3) shares center 2 (deg 2) and (2,4) center 3
    # (deg 2) -> ra = 10^6 div 2 = 500000. Star 0-{1,2,3,4} + edge
    # (1,2): every non-adjacent leaf pair shares only the deg-4 hub
    # -> ra = 250000; wedges through deg-2 centers 1/2 land on the
    # adjacent pair (0,2)/(0,1) and must be anti-joined away.
    from teleco_etl_pipeline_spark.operators.graph import (
        resource_allocation_scores,
    )

    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "u int, v int")
    got = {
        (r.part_a, r.part_b): (r.common_neighbors, r.ra_score_ppm)
        for r in resource_allocation_scores(path, topk=15).collect()
    }
    assert got == {(1, 3): (1, 500000), (2, 4): (1, 500000)}

    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2)], "u int, v int"
    )
    got = {
        (r.part_a, r.part_b): (r.common_neighbors, r.ra_score_ppm)
        for r in resource_allocation_scores(star, topk=15).collect()
    }
    assert got == {
        (1, 3): (1, 250000),
        (1, 4): (1, 250000),
        (2, 3): (1, 250000),
        (2, 4): (1, 250000),
        (3, 4): (1, 250000),
    }


def test_personalized_pagerank_matches_python_mirror(spark):
    """The PPR superstep core on an exact path fixture 1-2-3-4
    (undirected), seed=1, against a pure-Python mirror of the
    integer recurrence — every intermediate must be the identical
    truncated integer."""
    from pyspark.sql import functions as F

    from teleco_etl_pipeline_spark.operators.graph import (
        _D_DEN,
        _D_NUM,
        _SCALE,
        personalized_pagerank_units,
    )

    und = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3)]
    outdeg = {}
    for s, _d in und:
        outdeg[s] = outdeg.get(s, 0) + 1
    wedges = spark.createDataFrame(
        [(s, d, outdeg[s]) for s, d in und], "src long, dst long, outdeg long"
    )
    seed, iters = 1, 3
    got = {
        r.node: r.rank_units
        for r in personalized_pagerank_units(
            spark, wedges, seed, iters
        ).collect()
    }

    base = ((_D_DEN - _D_NUM) * _SCALE) // _D_DEN
    rank = {seed: _SCALE}
    for _ in range(iters):
        contrib: dict[int, int] = {}
        for s, d in und:
            if s in rank:
                contrib[d] = contrib.get(d, 0) + rank[s] // outdeg[s]
        nxt = {d: (_D_NUM * c) // _D_DEN for d, c in contrib.items()}
        nxt[seed] = nxt.get(seed, 0) + base
        rank = nxt
    assert got == rank
    # PPR semantics on the path: the seed's direct neighbor holds
    # more mass than the far nodes (NOTE: monotone decay along the
    # whole path only holds in the limit — at finite iteration
    # counts mass travels in parity waves, so 3 vs 4 is not ordered
    # at iters=3), and the seed holds at least the reset mass.
    assert got[2] > got[3] and got[2] > got[4]
    assert got[1] >= base


def test_assortativity_star_graph_is_minus_one(spark, tmp_path):
    """A pure hub-and-spoke bipartite graph (one customer, five
    suppliers) has edge-wise degree correlation exactly −1 — the
    closed form pins the whole moment algebra."""
    import datetime as dt

    from pyspark.sql import Row

    from teleco_etl_pipeline_spark.plans.registry import all_queries

    orders = [
        Row(
            o_orderkey=i,
            o_custkey=1,
            o_orderstatus="O",
            o_totalprice=1.0,
            o_orderdate=dt.date(2024, 1, 1),
            o_orderpriority="1-URGENT",
            o_clerk="c",
            o_shippriority=0,
            o_comment="",
        )
        for i in range(5)
    ]
    lines = [
        Row(
            l_orderkey=i,
            l_partkey=1,
            l_suppkey=i + 1,
            l_linenumber=1,
            l_quantity=1.0,
            l_extendedprice=1.0,
            l_discount=0.0,
            l_tax=0.0,
            l_returnflag="N",
            l_linestatus="O",
            l_shipdate=dt.datetime(2024, 1, 2),
        )
        for i in range(5)
    ]
    spark.createDataFrame(orders).write.mode("overwrite").parquet(
        f"{tmp_path}/orders.parquet"
    )
    spark.createDataFrame(lines).write.mode("overwrite").parquet(
        f"{tmp_path}/lineitem.parquet"
    )
    (r,) = (
        all_queries()["trade_graph_assortativity"]
        .build(spark, str(tmp_path))
        .collect()
    )
    assert (r.n_nodes, r.n_directed_edges) == (6, 10)
    assert abs(r.assortativity - (-1.0)) < 1e-6


def test_assortativity_bounded_on_testdata(spark, sf_dir):
    from teleco_etl_pipeline_spark.plans.registry import all_queries

    (r,) = (
        all_queries()["trade_graph_assortativity"].build(spark, sf_dir).collect()
    )
    assert -1.0 - 1e-9 <= r.assortativity <= 1.0 + 1e-9
    assert r.n_directed_edges % 2 == 0  # both orientations present


def test_bfs_broadcast_gates_size_rows_at_16_bytes(spark, sf_dir, monkeypatch):
    """The 32 MiB broadcast cap reproduces the tuned 2M-row gate only
    at 16 bytes per row; BFS's node-only frontier and visited frames
    must not claim 8 and double it."""
    from teleco_etl_pipeline_spark.operators import graph

    widths = []
    real = graph._fits_broadcast

    def recording(n_rows, row_bytes):
        widths.append(row_bytes)
        return real(n_rows, row_bytes)

    monkeypatch.setattr(graph, "_fits_broadcast", recording)
    graph.q_trade_graph_bfs_levels(spark, sf_dir)
    assert widths and set(widths) == {16}
