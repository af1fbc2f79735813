"""Graph-analytics queries over the trade graph implied by the driver
tables.

The customer–supplier trade graph (an edge wherever a customer's order has
a lineitem from a supplier) is the natural graph hiding in the TPC-H-ish
schema. PageRank over its symmetrized form ranks the most central
counterparties; because the operator runs fixed-iteration integer
arithmetic (operators/pagerank.py), the full iterative computation is
hash-checked against a DuckDB oracle that unrolls the identical steps —
not just "close to" parity.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from creatorops_lakehouse_spark.operators.pagerank import (
    pagerank,
    pagerank_oracle_sql,
)
from creatorops_lakehouse_spark.queries import load, query

# Distinct customer->supplier trade edges, symmetrized so every node has
# out-edges (no dangling mass). Node ids: customer = 2k, supplier = 2k+1.
_EDGES_SQL = """
    SELECT src, dst FROM (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    UNION ALL
    SELECT dst AS src, src AS dst FROM (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
"""

_ITERS = 6


def _trade_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct directed trade edges, sticky-persisted per corpus: both
    graph queries (PageRank, k-hop) walk the same edge list, so the
    join+distinct build runs once per session per sf_dir — the same
    build-once/probe-many scope as the shingle tables and IVF index."""
    from creatorops_lakehouse_spark.operators.cache import sticky_persist

    def build() -> DataFrame:
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
        )

    return sticky_persist(f"trade_directed:{sf_dir}", build)


@query(
    "graph_pagerank_trade",
    oracle=f"""
    WITH pr AS ({pagerank_oracle_sql(_EDGES_SQL, iters=_ITERS)})
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           node // 2 AS node_key,
           rank_units
    FROM pr
    ORDER BY rank_units DESC, node_type, node_key
    LIMIT 20
    """,
)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of the symmetrized customer–supplier trade
    graph: 6 integer-arithmetic power iterations, top-20 nodes.

    The distinct-edge build shuffles the fact join once; each iteration
    is one join + one aggregate over the persisted degree-annotated edge
    list (lineage cut per step). Suppliers dominate the top ranks — there
    are ~15x fewer of them, so the symmetrized random walk concentrates
    there, which is the expected bipartite behavior."""
    # Sticky-persisted distinct directed edges (shared with k-hop);
    # persisting BEFORE symmetrizing matters — the union reads the table
    # twice, and without the persist the join+distinct would run twice.
    directed = _trade_directed(spark, sf_dir)
    edges = directed.unionAll(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Symmetrized by construction -> no dangling nodes; skip the extra
    # pass.
    ranks = pagerank(edges, iters=_ITERS, check_dangling=False)
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.expr("node div 2").alias("node_key"),
            "rank_units",
        )
        .orderBy(F.desc("rank_units"), F.asc("node_type"), F.asc("node_key"))
        .limit(20)
    )


_DIRECTED_EDGES_SQL = """
    SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
"""


@query(
    "graph_pagerank_directed",
    oracle=f"""
    WITH pr AS ({pagerank_oracle_sql(_DIRECTED_EDGES_SQL, iters=_ITERS,
                                     dangling="redistribute")})
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           node // 2 AS node_key,
           rank_units
    FROM pr
    ORDER BY rank_units DESC, node_type, node_key
    LIMIT 20
    """,
)
def graph_pagerank_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the DIRECTED customer→supplier trade graph with
    uniform dangling-mass redistribution (VERDICT r5 item 4): every
    supplier is a sink (no out-edges), so each iteration the rank mass
    sitting on suppliers is re-spread uniformly over the whole node
    universe before damping — the standard random-surfer treatment for
    real directed graphs, in the same bit-exact integer arithmetic as
    the symmetrized query, hash-checked against the unrolled-CTE oracle
    extended with per-step dangling-mass scalar CTEs."""
    directed = _trade_directed(spark, sf_dir)
    ranks = pagerank(directed, iters=_ITERS, dangling="redistribute")
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.expr("node div 2").alias("node_key"),
            "rank_units",
        )
        .orderBy(F.desc("rank_units"), F.asc("node_type"), F.asc("node_key"))
        .limit(20)
    )


@query(
    "graph_triangles_copurchase",
    oracle="""
    WITH lp AS (
        SELECT DISTINCT l.l_orderkey, l.l_partkey
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    ),
    e AS (
        SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM lp x JOIN lp y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
        ) GROUP BY 1
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM e x JOIN e y ON y.a = x.b JOIN e z ON z.a = x.a AND z.b = y.b
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           CAST(CASE WHEN (SELECT SUM(d * (d - 1) // 2) FROM deg) = 0 THEN 0
                ELSE (3 * tri.n_triangles * 1000000)
                     // (SELECT SUM(d * (d - 1) // 2) FROM deg) END AS BIGINT)
               AS clustering_ppm
    FROM tri
    """,
)
def graph_triangles_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the 1997
    part co-purchase graph (parts sharing an order are adjacent; the
    year slice keeps the wedge mass bench-scale — the full-history graph
    at sf0.1 has 148M wedges and runs fine, just not in a 100-query
    bench loop).

    The operator (operators/graph.py::triangle_count) uses degree
    orientation so the wedge join is bounded O(m^1.5) under ANY degree
    skew; the DuckDB oracle runs the naive a<b<c three-way join — same
    count, different join geometry, which is exactly the point: the
    orientation is a physical optimization with a provably identical
    answer.
    """
    from creatorops_lakehouse_spark.operators.graph import triangle_count

    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    # repartition by the SELF-JOIN key before the (l_orderkey, l_partkey)
    # distinct (r14, guide §2.4 — operations keyed the same way share one
    # exchange): hashpartitioning(l_orderkey) satisfies the distinct's
    # (l_orderkey, l_partkey) clustering AND the wedge self-join's
    # l_orderkey clustering, so the plan drops the per-side re-exchange
    # the (l_orderkey, l_partkey)-keyed distinct forced before the join
    # (Exchange+Sort per side on top of the distinct's own Exchange).
    lp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_partkey")
        .repartition(F.col("l_orderkey"))
        .distinct()
    )
    x = lp.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("a"))
    y = lp.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("b"))
    edges = (
        x.join(y, "o")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return triangle_count(edges)


@query(
    "graph_khop_reach",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    seed AS (
        SELECT MIN(s_suppkey) * 2 + 1 AS node FROM supplier
    ),
    h1 AS (
        SELECT DISTINCT e.dst AS node
        FROM e JOIN seed s ON e.src = s.node
        WHERE e.dst NOT IN (SELECT node FROM seed)
    ),
    h2 AS (
        SELECT DISTINCT e.dst AS node
        FROM e JOIN h1 ON e.src = h1.node
        WHERE e.dst NOT IN (SELECT node FROM seed)
          AND e.dst NOT IN (SELECT node FROM h1)
    ),
    h3 AS (
        SELECT DISTINCT e.dst AS node
        FROM e JOIN h2 ON e.src = h2.node
        WHERE e.dst NOT IN (SELECT node FROM seed)
          AND e.dst NOT IN (SELECT node FROM h1)
          AND e.dst NOT IN (SELECT node FROM h2)
    )
    SELECT hop, n_new_nodes FROM (
        SELECT 1 AS hop, COUNT(*) AS n_new_nodes FROM h1
        UNION ALL SELECT 2, COUNT(*) FROM h2
        UNION ALL SELECT 3, COUNT(*) FROM h3
    ) ORDER BY hop
    """,
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop reachability (path query class): frontier sizes of a BFS
    from the lowest-keyed supplier over the symmetrized trade graph,
    3 hops.

    Classic frontier expansion (operators/graph.py::khop_frontier_sizes):
    each hop is one equi-join of the (persisted, degree-bounded) edge
    list against the current frontier, anti-joined against the visited
    set. The visited/frontier sets always broadcast (the trade graph has
    ~16k nodes), so the edge list is never shuffled for those joins. The
    hop-3 frontier of a dense bipartite graph collapses to near zero
    (almost everything is within 2 hops of a supplier) — the query pins
    that structural fact exactly.
    """
    from creatorops_lakehouse_spark.operators.graph import khop_frontier_sizes

    directed = _trade_directed(spark, sf_dir)
    edges = directed.unionAll(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).coalesce(8)
    s = load(spark, sf_dir, "supplier")
    seed = s.agg((F.min("s_suppkey") * 2 + 1).alias("node"))
    return khop_frontier_sizes(edges, seed, hops=3)


_WEDGES_SQL = """
    SELECT src, dst, w FROM (
        SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst,
               COUNT(*) AS w
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    )
    UNION ALL
    SELECT dst, src, w FROM (
        SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst,
               COUNT(*) AS w
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    )
"""


def _trade_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed trade edges weighted by lineitem count, sticky-persisted
    (same build-once scope as the distinct edge list)."""
    from creatorops_lakehouse_spark.operators.cache import sticky_persist

    def build() -> DataFrame:
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("w"))
        )

    return sticky_persist(f"trade_weighted:{sf_dir}", build)


@query(
    "graph_pagerank_weighted_trade",
    oracle=f"""
    WITH pr AS ({pagerank_oracle_sql(_WEDGES_SQL, iters=4, weighted=True)})
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           node // 2 AS node_key,
           rank_units
    FROM pr
    ORDER BY rank_units DESC, node_type, node_key
    LIMIT 20
    """,
)
def graph_pagerank_weighted_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PageRank over the symmetrized trade graph: contribution
    splits by trade VOLUME (lineitem count per counterparty pair) instead
    of uniformly per edge — units * w div sum_w(u), still bit-exact
    integer arithmetic against the weighted unrolled-CTE oracle. Promotes
    the weight knob from operator-tier (pytest-only) to a driver-gate
    oracle row. 4 iterations; heavy counterparties concentrate rank mass
    vs the unweighted query."""
    directed = _trade_weighted(spark, sf_dir)
    edges = directed.unionAll(
        directed.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    ranks = pagerank(edges, iters=4, weight="w", check_dangling=False)
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.expr("node div 2").alias("node_key"),
            "rank_units",
        )
        .orderBy(F.desc("rank_units"), F.asc("node_type"), F.asc("node_key"))
        .limit(20)
    )


@query(
    "graph_pagerank_personalized",
    oracle=f"""
    WITH pr AS ({pagerank_oracle_sql(
        _EDGES_SQL, iters=4,
        seeds_sql="SELECT s_suppkey * 2 + 1 AS node FROM supplier "
                  "WHERE s_suppkey < 5")})
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           node // 2 AS node_key,
           rank_units
    FROM pr
    WHERE rank_units > 0
    ORDER BY rank_units DESC, node_type, node_key
    LIMIT 20
    """,
)
def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (random walk with restart) seeded at the five
    lowest-keyed suppliers: teleport mass lands only on the seed set, so
    ranks measure PROXIMITY to those suppliers — the recommendation /
    related-entities primitive. Zero-rank nodes are filtered (nodes
    unreachable from the seeds hold exactly 0 in integer arithmetic).
    Promotes the seeds knob from operator-tier to a driver-gate oracle
    row; same symmetrized edge list (sticky) as the global query."""
    directed = _trade_directed(spark, sf_dir)
    edges = directed.unionAll(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    s = load(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 5)
    seeds = s.select((F.col("s_suppkey") * 2 + 1).alias("node"))
    ranks = pagerank(edges, iters=4, seeds=seeds, check_dangling=False)
    return (
        ranks.filter(F.col("rank_units") > 0)
        .select(
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.expr("node div 2").alias("node_key"),
            "rank_units",
        )
        .orderBy(F.desc("rank_units"), F.asc("node_type"), F.asc("node_key"))
        .limit(20)
    )


@query(
    "graph_degree_histogram",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM e GROUP BY 1),
    b AS (
        SELECT node,
               CAST(FLOOR(LOG2(d)) AS INTEGER) AS degree_band,
               d
        FROM deg
    )
    SELECT degree_band,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree,
           CAST(SUM(d) AS BIGINT) AS total_degree
    FROM b GROUP BY 1
    """,
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the symmetrized trade graph in log2 bands —
    the first diagnostic before choosing graph-algorithm strategies
    (skew decides broadcast vs salting vs degree orientation; a heavy
    tail here is why triangle counting orients by degree). One aggregate
    over the sticky edge list; band boundaries are exact (FLOOR(LOG2) of
    integer degrees agrees across engines — degrees are exact integers
    and log2 of an int is exact at band boundaries because powers of two
    are exactly representable)."""
    directed = _trade_directed(spark, sf_dir)
    edges = directed.unionAll(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    return (
        deg.withColumn(
            "degree_band", F.floor(F.log2("d")).cast("int")
        )
        .groupBy("degree_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("d").cast("long").alias("min_degree"),
            F.max("d").cast("long").alias("max_degree"),
            F.sum("d").cast("long").alias("total_degree"),
        )
    )


_LPA_ITERS = 3


def _lpa_oracle() -> str:
    """Unrolled-CTE oracle for _LPA_ITERS synchronous label-propagation
    supersteps over the symmetrized trade graph — the same exact integer
    voting and (count DESC, label ASC) argmax the operator runs."""
    parts = [
        """
    WITH de AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    e AS (SELECT src, dst FROM de UNION ALL SELECT dst AS src, src AS dst FROM de),
    n AS (SELECT DISTINCT src AS node FROM e),
    l0 AS (SELECT node, node AS label FROM n)"""
    ]
    for i in range(1, _LPA_ITERS + 1):
        parts.append(
            f""",
    v{i} AS (
        SELECT e.src AS node, l.label, COUNT(*) AS c
        FROM e JOIN l{i - 1} l ON e.dst = l.node
        GROUP BY 1, 2
    ),
    w{i} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, label ASC) AS rn
            FROM v{i}
        ) WHERE rn = 1
    ),
    l{i} AS (
        SELECT p.node, COALESCE(w{i}.label, p.label) AS label
        FROM l{i - 1} p LEFT JOIN w{i} USING (node)
    )"""
        )
    parts.append(
        f"""
    SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
    FROM l{_LPA_ITERS}"""
    )
    return "".join(parts)


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by deterministic synchronous label propagation
    over the symmetrized trade graph — frequency voting (not min-label),
    so dense counterparty groups keep their own label against bridge
    edges; the full iterative computation hash-matches a DuckDB oracle
    that unrolls the identical supersteps (same discipline as the
    PageRank family). Fixed ``_LPA_ITERS`` synchronous rounds with the
    (count DESC, label ASC) argmax — see
    operators/graph.py::label_propagation for the determinism contract
    and the sync-LPA oscillation caveat that caps the round count."""
    from creatorops_lakehouse_spark.operators.graph import label_propagation

    directed = _trade_directed(spark, sf_dir)
    edges = directed.unionByName(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # ~16k nodes: the operator broadcasts the per-superstep labels
    out = label_propagation(edges, iterations=_LPA_ITERS)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    )
