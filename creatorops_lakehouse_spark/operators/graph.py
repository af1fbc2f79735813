"""Graph combinatorics: exact triangle counting with degree orientation.

Naive triangle counting joins the edge list with itself on shared
endpoints — on a graph with a hub of degree d that wedge join
materializes d^2 rows for that hub alone, the classic quadratic blowup.
The standard fix (degree orientation): direct every undirected edge from
its lower-(degree, id) endpoint to the higher one. The resulting DAG has
out-degree O(sqrt(m)) for ANY graph, so the wedge join is bounded by
m^1.5 total work regardless of skew — the difference between a day and a
minute on a social graph.

Count invariance: each triangle {a, b, c} has exactly one node with two
out-edges under a total order (the minimum), so counting (u -> v, u -> w,
v -> w oriented) wedges closed by an oriented edge counts every triangle
exactly once. The result is therefore identical to the naive a<b<c
formulation a SQL oracle runs — same number, different join geometry.

Join strategy, one per operator (A/B'd at sf0.1 against AQE-only and
against a size-decided hint):

- ``triangle_count`` carries no hints: AQE picks every join from runtime
  shuffle statistics, which matched the hinted plans' walls.
- ``khop_frontier_sizes`` and ``label_propagation`` always broadcast
  their node-sized side (frontier/visited sets, labels). AQE alone lost
  16% on LPA: it converts to a broadcast only after the edge side has
  already been shuffled, every superstep.

Precondition for the broadcasting operators: the node set fits a
broadcast relation. A broadcast is collected to the driver and rebuilt
as a hash relation (typically 5-10x its ~16 B/row raw width), so 2M
nodes is a few hundred MB per build. Every graph built here is far
below that: the largest is tools/lpa_rehearsal.py's 1M nodes, and the
registry's trade graph has ~16k. A web-scale graph needs a shuffle-join
variant, not a size switch in this one.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from creatorops_lakehouse_spark.operators.cache import scoped_persist


def triangle_count(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """Exact triangle count + global clustering coefficient over an
    undirected simple edge list (one row per edge, ``a < b``, no
    self-loops / duplicates — caller guarantees, e.g. via distinct()).

    Returns one row: (n_nodes, n_edges, n_wedges, n_triangles,
    clustering_ppm) with clustering_ppm = 3 * triangles * 10^6 div
    wedges (exact integer; 0 when the graph has no wedges).

    Join strategy: none forced. The degree-annotate and closing-edge
    joins are left to AQE, which sizes them from the persisted edge and
    degree tables at run time — so building the plan runs no job.
    """
    e = scoped_persist(edges.select(F.col(a).alias("a"), F.col(b).alias("b")))
    # total degree per node (edges stored once per unordered pair)
    deg = scoped_persist(
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    # orient: lower (deg, id) -> higher (deg, id); total order via tiebreak
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ann = e.join(da, "a").join(db, "b")
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = scoped_persist(
        ann.select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    # wedges at the oriented source: pairs of out-neighbors; closing edge
    # is oriented too (consistent total order), so one equi-join finishes
    o1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    o2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = o1.join(o2, "u").filter(F.col("v") < F.col("w"))
    # the closing edge may be oriented v->w or w->v depending on degrees
    closer = oriented.select(
        F.least("src", "dst").alias("v"), F.greatest("src", "dst").alias("w")
    )
    tri = wedges.join(closer, ["v", "w"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    stats = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges")).crossJoin(
        deg.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias("n_wedges"),
        )
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr(
            "CASE WHEN n_wedges = 0 THEN 0"
            " ELSE (3 * n_triangles * 1000000) div n_wedges END"
        )
        .cast("long")
        .alias("clustering_ppm"),
    )


def khop_frontier_sizes(
    edges: DataFrame,
    seed: DataFrame,
    hops: int = 3,
) -> DataFrame:
    """BFS frontier sizes from a seed set: ``(hop, n_new_nodes)`` for
    hops 1..``hops`` over a directed edge list ``(src, dst)``.

    Each hop is one equi-join of the edge list against the current
    frontier, anti-joined against the visited set. The frontier and
    visited sets always broadcast (module docstring precondition), so the
    edge scan is never shuffled for either join.
    """
    e = scoped_persist(edges.select("src", "dst"))
    frontier = seed.select("node")
    visited = frontier
    rows = []
    for hop in range(1, hops + 1):
        frontier = scoped_persist(
            e.join(F.broadcast(frontier.withColumnRenamed("node", "src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(F.broadcast(visited), "node", "left_anti")
        )
        # no distinct: the frontier is distinct by construction and
        # anti-joined against visited, so the union is duplicate-free —
        # the old distinct() was a provable no-op costing one exchange
        # per hop
        visited = scoped_persist(visited.unionAll(frontier))
        rows.append(
            frontier.agg(F.count(F.lit(1)).cast("long").alias("n_new_nodes"))
            .select(F.lit(hop).cast("int").alias("hop"), "n_new_nodes")
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("hop")


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic synchronous label propagation (community detection).

    Seed: every node labels itself with its own id. Each superstep, a
    node adopts the label carried by the MOST of its in-neighbors, ties
    broken toward the SMALLEST label; isolated-this-step nodes keep their
    label. Unlike min-label propagation (connected components —
    operators/dedup.py::connected_components), frequency voting lets
    dense groups keep their own label against a bridge edge, which is
    what makes LPA a community detector rather than a component finder.

    Determinism contract (what makes the unrolled-CTE oracle possible):
    synchronous updates (all nodes step on the PREVIOUS labeling), exact
    integer counts, and the (count DESC, label ASC) argmax — no random
    visit order, unlike classic async LPA.

    Scale shape: per superstep, one join (edges ⋈ labels on dst) + one
    (node, label) count + one max_by argmax — shuffles on node ids, no
    global window, no driver data. ``iterations`` is
    fixed and small (communities stabilize in a few sync rounds; more
    rounds oscillate two-colorings on bipartite graphs — the classic
    sync-LPA caveat, same reason Delta/GraphFrames cap LPA iterations).
    Lineage truncates per superstep (localCheckpoint) like pagerank's
    superstep loop. Returns (node, label).

    Join strategy: the labels table is one row per node — tiny next to
    the edge list — so it is always BROADCAST into the per-superstep vote
    join and the fold-back join (module docstring precondition): the edge
    list is never re-shuffled per superstep (only the (node, label) vote
    rows move, with map-side partial counts).

    Fold-back note (r14 A/B, measured and kept as-is): a node appears in
    the winner table exactly when it has ≥ 1 out-edge, so the
    per-superstep ``labels ⋈ winner`` left-join is provably equivalent to
    ``winner ∪ keep_self`` (keep_self = no-out-edge nodes' immutable
    self-labels, computable once). The union form was built and A/B'd:
    identical job count (16/run), 1× walls 2.93 s (join) vs 3.08-3.23 s
    (union) back-to-back, 10× walls even (3.41 vs 3.42) — the fold join
    is narrow on the broadcast path, so there is nothing to save at any
    measured scale. The join form stays; the equivalence is pinned by
    tests/test_graph_lpa.py::test_no_out_edge_node_keeps_seed_label.
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("label"))

    for _ in range(iterations):
        votes = (
            edges.join(F.broadcast(labels.withColumnRenamed("node", dst)), dst)
            .select(F.col(src).alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # r14 A/B (VERDICT item 2, measured and REJECTED): fusing the two
        # vote exchanges into one via repartition("node") before the
        # (node, label) count — hashpartitioning(node) satisfies both
        # aggregates' clustering — ran 3.287 s @ calib 0.65 vs 3.085 s @
        # calib 0.838 for this two-exchange form (REPS=5, back-to-back):
        # the repartition ships RAW vote rows with no map-side combine,
        # and the exchange it saves only carries the already-combined
        # (node, label, c) rows. Map-side combining wins; keep two.
        # argmax by (count DESC, label ASC) = MIN of struct(-c, label):
        # struct comparison is lexicographic, -c is always numeric (a
        # count), and the label field compares with its own type's order
        # — so node/label ids may be longs OR strings (unary negation of
        # the label, the previous form, only worked for numeric ids)
        winner = votes.groupBy("node").agg(
            F.min(F.struct((-F.col("c")).alias("negc"), F.col("label"))).alias(
                "w"
            )
        ).select("node", F.col("w.label").alias("new_label"))
        labels = (
            labels.join(F.broadcast(winner), "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint(eager=False)
        )
    return labels
