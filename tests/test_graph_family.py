"""Graph operator family: no hidden eager actions at build time, and the
eight ``graph_*`` registry queries hash-equal to their DuckDB oracles.

Building an operator's DataFrame should run no Spark job unless the
operator has a real data dependency (pagerank's partition sizing count
and validation passes, the per-iteration lineage cuts of pagerank and
label propagation). The budgets below are the measured counts on these
fixtures, so a new hidden ``count()`` fails here instead of surfacing as
a bench regression.
"""

from __future__ import annotations

import os
import sys
import uuid

import pytest

from creatorops_lakehouse_spark.operators.cache import release_scoped_caches
from creatorops_lakehouse_spark.operators.graph import (
    khop_frontier_sizes,
    label_propagation,
    triangle_count,
)
from creatorops_lakehouse_spark.operators.pagerank import pagerank

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))

from check_oracle import TABLES, normalize  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

_GROUP_KEYS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def _jobs_at_build(spark, build) -> int:
    """Spark jobs submitted while ``build()`` constructs (not runs) a plan.

    Scoped caches are released first: a still-unbuilt persisted plan that
    the operator happens to read would add its own materialization jobs."""
    release_scoped_caches()
    sc = spark.sparkContext
    group = f"graph-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "graph operator build", False)
    try:
        build()
    finally:
        for k in _GROUP_KEYS:
            sc.setLocalProperty(k, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


# star with one rim edge: 7 nodes, 7 undirected edges
_STAR = [(0, i) for i in range(1, 7)] + [(1, 2)]


@pytest.mark.parametrize(
    "operator, budget",
    [
        ("triangle_count", 0),
        ("khop_frontier_sizes", 0),
        ("label_propagation", 14),
        ("pagerank", 15),
    ],
)
def test_build_job_budget(spark, operator, budget):
    und = spark.createDataFrame(_STAR, ["a", "b"])
    sym = spark.createDataFrame(
        _STAR + [(b, a) for a, b in _STAR], ["src", "dst"]
    )
    seed = spark.createDataFrame([(0,)], ["node"])
    build = {
        "triangle_count": lambda: triangle_count(und),
        "khop_frontier_sizes": lambda: khop_frontier_sizes(sym, seed, hops=3),
        "label_propagation": lambda: label_propagation(sym, iterations=3),
        "pagerank": lambda: pagerank(sym, iters=3),
    }[operator]
    assert _jobs_at_build(spark, build) <= budget


def test_graph_queries_match_oracle(spark):
    duckdb = pytest.importorskip("duckdb")
    from creatorops_lakehouse_spark.queries import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    names = sorted(n for n in queries if n.startswith("graph_"))
    assert len(names) == 8 and set(names) <= set(oracles)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    mismatched = [
        name
        for name in names
        if normalize(queries[name](spark, SF_DIR).toPandas())
        != normalize(con.execute(oracles[name]).df())
    ]
    assert mismatched == []
