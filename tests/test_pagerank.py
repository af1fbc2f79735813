"""PageRank operator: integer-arithmetic parity vs a pure-Python
reference, dangling-node guard, and damping/teleport bookkeeping."""

from __future__ import annotations

import pytest

from creatorops_lakehouse_spark.operators.pagerank import (
    INIT_UNITS,
    pagerank,
    pagerank_oracle_sql,
)


def _py_pagerank(edges, iters=6, damping=(85, 100), seeds=None):
    """Reference implementation of the exact same integer arithmetic.

    The node universe is the out-edge set; a node with no in-edges holds
    exactly its teleport mass each iteration (and keeps contributing).
    ``edges`` rows are (src, dst) or (src, dst, w); ``seeds`` restricts
    teleport mass to the given node set (personalized)."""
    d_num, d_den = damping
    teleport = (INIT_UNITS * (d_den - d_num)) // d_den
    edges = [(e[0], e[1], e[2] if len(e) > 2 else 1) for e in edges]
    outw: dict[int, int] = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    tele = {
        n: teleport if seeds is None or n in seeds else 0 for n in outw
    }
    units = {n: INIT_UNITS for n in outw}
    for _ in range(iters):
        acc: dict[int, int] = {}
        for s, d, w in edges:
            acc[d] = acc.get(d, 0) + (units[s] * w) // outw[s]
        units = {
            n: tele[n] + ((d_num * acc[n]) // d_den if n in acc else 0)
            for n in outw
        }
    return units


@pytest.fixture(scope="module")
def small_graph():
    # 5-node directed graph, every node has an out-edge (no dangling):
    # a hub (0) plus a cycle, with a multi-edge to exercise multiplicity.
    return [
        (0, 1),
        (0, 2),
        (0, 3),
        (1, 0),
        (2, 0),
        (3, 4),
        (4, 0),
        (4, 0),  # parallel edge: outdeg counts multiplicity
        (4, 1),
    ]


def test_matches_python_reference(spark, small_graph):
    edges = spark.createDataFrame(small_graph, ["src", "dst"])
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank(edges, iters=6).collect()
    }
    assert got == _py_pagerank(small_graph, iters=6)


def test_no_inflow_node_keeps_teleport_mass(spark):
    # node 3 has out-edges but NO in-edges: it must stay in the result
    # with exactly the teleport mass, and its outgoing contribution must
    # keep flowing in every iteration (regression: the dst-aggregate
    # alone silently dropped it after iteration 1).
    edges = [(1, 2), (2, 1), (3, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank(df, iters=4).collect()
    }
    want = _py_pagerank(edges, iters=4)
    assert got == want
    assert 3 in got
    teleport = (INIT_UNITS * 15) // 100
    assert got[3] == teleport
    # node 3's contribution keeps flowing: without it, node 1 would hold
    # only teleport + damped(r(2)); with it there's an extra damped
    # teleport-unit inflow every iteration
    without_3 = _py_pagerank([(1, 2), (2, 1)], iters=4)
    assert got[1] > without_3[1]


def test_dangling_node_raises(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])  # 3 dangles
    with pytest.raises(ValueError, match="dangling"):
        pagerank(edges, iters=2)


def test_oracle_sql_matches_spark(spark, small_graph):
    duckdb = pytest.importorskip("duckdb")
    edges = spark.createDataFrame(small_graph, ["src", "dst"])
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank(edges, iters=4).collect()
    }
    values = ", ".join(f"({s}, {d})" for s, d in small_graph)
    sql = pagerank_oracle_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)", iters=4
    )
    want = dict(duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_ignore_mode_keeps_out_edge_node_set(spark):
    """dangling='ignore' over a graph with one dst-only node (4): the
    output node set is the out-edge universe, as in the DuckDB oracle."""
    duckdb = pytest.importorskip("duckdb")
    graph = [(1, 2), (2, 1), (2, 3), (3, 1), (3, 4)]
    edges = spark.createDataFrame(graph, ["src", "dst"])
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank(edges, iters=4, dangling="ignore").collect()
    }
    values = ", ".join(f"({s}, {d})" for s, d in graph)
    sql = pagerank_oracle_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)", iters=4
    )
    assert got == dict(duckdb.connect().execute(sql).fetchall())
    assert set(got) == {1, 2, 3}


def test_weighted_matches_python_reference(spark):
    wedges = [(1, 2, 3), (1, 3, 1), (2, 1, 2), (3, 1, 5), (3, 2, 1)]
    df = spark.createDataFrame(wedges, ["src", "dst", "w"])
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank(df, iters=5, weight="w").collect()
    }
    assert got == _py_pagerank(wedges, iters=5)
    # weights matter: node 2 (heavy inflow from 1's w=3 edge) must differ
    # from the unweighted run
    unweighted = _py_pagerank([(s, d) for s, d, _ in wedges], iters=5)
    assert got != unweighted


def test_weighted_oracle_sql_matches_spark(spark):
    duckdb = pytest.importorskip("duckdb")
    wedges = [(1, 2, 3), (1, 3, 1), (2, 1, 2), (3, 1, 5), (3, 2, 1)]
    df = spark.createDataFrame(wedges, ["src", "dst", "w"])
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank(df, iters=4, weight="w").collect()
    }
    values = ", ".join(f"({s}, {d}, {w})" for s, d, w in wedges)
    sql = pagerank_oracle_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst, w)",
        iters=4,
        weighted=True,
    )
    assert got == dict(duckdb.connect().execute(sql).fetchall())


def test_personalized_teleports_only_to_seeds(spark, small_graph):
    edges = spark.createDataFrame(small_graph, ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["node"])
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank(edges, iters=5, seeds=seeds).collect()
    }
    assert got == _py_pagerank(small_graph, iters=5, seeds={0})
    # proximity ordering: the seed and its direct predecessors dominate
    assert got[0] == max(got.values())
    duckdb = pytest.importorskip("duckdb")
    values = ", ".join(f"({s}, {d})" for s, d in small_graph)
    sql = pagerank_oracle_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)",
        iters=5,
        seeds_sql="SELECT 0 AS node",
    )
    assert got == dict(duckdb.connect().execute(sql).fetchall())


def test_mass_roughly_conserved(spark, small_graph):
    # Integer floor-divisions only LOSE dust mass; total stays within
    # iters * (1 unit per edge + 1 per node) of N * INIT_UNITS and never grows.
    edges = spark.createDataFrame(small_graph, ["src", "dst"])
    total = sum(
        r["rank_units"]
        for r in pagerank(edges, iters=6).collect()
    )
    n_nodes = len({s for s, _ in small_graph})
    assert total <= n_nodes * INIT_UNITS
    assert total >= int(n_nodes * INIT_UNITS * 0.999)


def test_nonpositive_weight_raises(spark):
    edges = spark.createDataFrame([(1, 2, 1), (2, 1, 0)], ["src", "dst", "w"])
    with pytest.raises(ValueError, match="non-positive or NULL weight"):
        pagerank(edges, iters=2, weight="w")


def test_unknown_seed_raises(spark, small_graph):
    edges = spark.createDataFrame(small_graph, ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (999,)], ["node"])  # 999 not a node
    with pytest.raises(ValueError, match="seed node"):
        pagerank(edges, iters=2, seeds=seeds)


def _py_pagerank_redistribute(edges, iters=4, damping=(85, 100)):
    """Reference for dangling='redistribute': node universe src ∪ dst,
    per-iteration uniform integer re-spread of the dangling mass."""
    d_num, d_den = damping
    teleport = (INIT_UNITS * (d_den - d_num)) // d_den
    edges = [(e[0], e[1], e[2] if len(e) > 2 else 1) for e in edges]
    outw: dict[int, int] = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    nodes = {s for s, _, _ in edges} | {d for _, d, _ in edges}
    dang = nodes - set(outw)
    n = len(nodes)
    units = {v: INIT_UNITS for v in nodes}
    for _ in range(iters):
        share = sum(units[v] for v in dang) // n
        acc: dict[int, int] = {}
        for s, d, w in edges:
            acc[d] = acc.get(d, 0) + (units[s] * w) // outw[s]
        units = {
            v: teleport + (d_num * (acc.get(v, 0) + share)) // d_den
            for v in nodes
        }
    return units


@pytest.fixture(scope="module")
def dangling_graph():
    # 1 and 2 feed sinks 4 and 5 (no out-edges) — classic directed graph
    # with dangling mass; 3 only receives from the cycle.
    return [(1, 2), (2, 1), (1, 4), (2, 5), (1, 3), (3, 1)]


def test_redistribute_matches_python_reference(spark, dangling_graph):
    edges = spark.createDataFrame(dangling_graph, ["src", "dst"])
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank(edges, iters=4, dangling="redistribute").collect()
    }
    assert got == _py_pagerank_redistribute(dangling_graph, iters=4)
    # sinks hold rank (they receive inflow) but the system mass stays
    # bounded: no node should exceed the hub's rank
    assert set(got) == {1, 2, 3, 4, 5}


def test_redistribute_oracle_sql_matches_spark(spark, dangling_graph):
    duckdb = pytest.importorskip("duckdb")
    edges = spark.createDataFrame(dangling_graph, ["src", "dst"])
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank(edges, iters=4, dangling="redistribute").collect()
    }
    values = ", ".join(f"({s}, {d})" for s, d in dangling_graph)
    sql = pagerank_oracle_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)",
        iters=4,
        dangling="redistribute",
    )
    assert got == dict(duckdb.connect().execute(sql).fetchall())


def test_damping_guard_raises(spark, small_graph):
    edges = spark.createDataFrame(small_graph, ["src", "dst"])
    for bad in [(101, 100), (-1, 100), (85, 0), (85, -10)]:
        with pytest.raises(ValueError, match="damping"):
            pagerank(edges, iters=1, damping=bad)


def test_redistribute_with_seeds_raises(spark, dangling_graph):
    edges = spark.createDataFrame(dangling_graph, ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    with pytest.raises(ValueError, match="redistribute"):
        pagerank(edges, iters=1, dangling="redistribute", seeds=seeds)


def test_unit_scale_oracle_bit_equality(spark, small_graph):
    """unit_scale downshift (VERDICT r6 item 6): at BOTH the default 10^9
    scale and a 10^6 downshifted scale, the Spark operator is bit-identical
    to the unrolled-CTE DuckDB oracle run at the same scale — the int64
    headroom knob changes resolution, never determinism."""
    import duckdb

    edges = spark.createDataFrame(small_graph, ["src", "dst"])
    values = ", ".join(f"({s}, {d})" for s, d in small_graph)
    edges_sql = f"SELECT * FROM (VALUES {values}) AS t(src, dst)"
    for scale in (10**9, 10**6):
        got = {
            r["node"]: r["rank_units"]
            for r in pagerank(edges, iters=6, unit_scale=scale).collect()
        }
        sql = pagerank_oracle_sql(edges_sql, iters=6, unit_scale=scale)
        want = dict(duckdb.connect().execute(sql).fetchall())
        assert got == want, f"scale={scale}"
    # downshifted ranks are ~1000x the coarser resolution of the default,
    # preserving relative order on this graph
    hi = pagerank(edges, iters=6, unit_scale=10**9)
    lo = pagerank(edges, iters=6, unit_scale=10**6)
    hi_order = [r["node"] for r in hi.orderBy("rank_units", "node").collect()]
    lo_order = [r["node"] for r in lo.orderBy("rank_units", "node").collect()]
    assert hi_order == lo_order


def test_unit_scale_too_small_raises(spark, small_graph):
    edges = spark.createDataFrame(small_graph, ["src", "dst"])
    with pytest.raises(ValueError, match="unit_scale"):
        pagerank(edges, unit_scale=100)
