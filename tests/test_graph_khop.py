"""k-hop reachability operator: frontier-size correctness on a known
graph, identical whichever join path the planner takes around the
operator's broadcast hints."""

from __future__ import annotations

import pytest

from creatorops_lakehouse_spark.operators.graph import khop_frontier_sizes


@pytest.fixture(scope="module")
def chain_graph(spark):
    # two chains from 0 plus a cycle edge back: frontiers 1->{1,10},
    # 2->{2,11}, 3->{3} (12 unreachable is absent; 0 revisit excluded)
    edges = [(0, 1), (0, 10), (1, 2), (10, 11), (2, 3), (11, 0), (3, 1)]
    return spark.createDataFrame(edges, ["src", "dst"])


# aqe: True/False force spark.sql.adaptive.enabled, None keeps the
# session default. The frontier/visited broadcasts are hints; with AQE
# on, the distinct and the edge scan may still be re-planned at run time,
# and the frontier sizes must not depend on that.
@pytest.mark.parametrize("aqe", [True, False, None])
def test_khop_paths_identical(spark, chain_graph, aqe):
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    if aqe is not None:
        spark.conf.set(key, str(aqe).lower())
    try:
        seed = spark.createDataFrame([(0,)], ["node"])
        got = {
            (r.hop, r.n_new_nodes)
            for r in khop_frontier_sizes(chain_graph, seed, hops=3).collect()
        }
    finally:
        spark.conf.set(key, before)
    assert got == {(1, 2), (2, 2), (3, 1)}
