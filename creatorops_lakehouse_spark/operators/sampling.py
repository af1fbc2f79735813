"""Deterministic, engine-portable sampling and dataset splitting.

Training-data pipelines need splits that are (a) reproducible across runs,
(b) stable under corpus growth (a doc's split never changes when other docs
arrive), and (c) auditable outside the engine. Spark's ``randomSplit`` is
none of these — it is partition-order-dependent. The portable primitive is
a cryptographic content hash of the row KEY: sha2 is bit-identical in every
engine (unlike xxhash64/murmur3 whose seeds/variants differ), so the same
row lands in the same split in Spark, DuckDB, or a Python audit script.

All pure Column expressions — one projection, no shuffle, no UDFs. At
100 TB a split assignment is free (fused into whatever scan reads the
corpus); the per-group sampler costs one window shuffle on the group key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

#: bucket space for split thresholds: 10^4 → 0.01% granularity
N_BUCKETS = 10_000


def hash_bucket(key: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Deterministic bucket in [0, n_buckets): first 32 bits of
    sha256(key-as-string), mod n_buckets.

    DuckDB equivalent (exact):
    ``CAST('0x' || substr(sha256(CAST(key AS VARCHAR)), 1, 8) AS BIGINT)
    % n_buckets``.
    """
    return (
        F.conv(F.substring(F.sha2(key.cast("string"), 256), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    )


def split_column(
    key: Column, splits: dict[str, float], n_buckets: int = N_BUCKETS
) -> Column:
    """Named-split assignment from cumulative hash-bucket thresholds.

    ``splits`` maps name → fraction (must sum to ≤ 1; any remainder falls
    into the last split). Assignment is per-row independent: adding or
    removing other rows never moves a row across splits.
    """
    total = sum(splits.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    bucket = hash_bucket(key, n_buckets)
    expr = None
    cum = 0.0
    names = list(splits)
    for name in names[:-1]:
        cum += splits[name]
        cond = bucket < int(round(cum * n_buckets))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def stratified_split(
    df: DataFrame, key_col: str, splits: dict[str, float]
) -> DataFrame:
    """Attach a ``split`` column (see :func:`split_column`)."""
    return df.withColumn("split", split_column(F.col(key_col), splits))


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, n_buckets: int = N_BUCKETS
) -> DataFrame:
    """Keep a stable ~``fraction`` subset: rows whose hash bucket falls
    below fraction × n_buckets. Repeatable across engines and runs."""
    return df.filter(hash_bucket(F.col(key_col), n_buckets) < int(round(fraction * n_buckets)))


def per_group_sample(
    df: DataFrame, group_col: str, key_col: str, k: int
) -> DataFrame:
    """Deterministic k rows per group: rank by (hash bucket, key) inside
    each group and keep the first k — a reproducible stand-in for
    per-group reservoir sampling (balanced eval-set curation). One window
    shuffle on the group key."""
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key_col)).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def epoch_order(
    df: DataFrame,
    key_col: str,
    epoch: int,
    n_buckets: int = 1 << 32,
    n_range_buckets: int = 64,
) -> DataFrame:
    """Deterministic per-epoch training order: attach ``epoch_pos``, the
    row's position under the epoch-keyed hash permutation
    sha256(epoch || key).

    Training loops need a different document order every epoch that is
    nevertheless REPRODUCIBLE (resume from a checkpoint mid-epoch, re-run
    an ablation bit-for-bit) and cheap at 100 TB. Sorting by a salted
    cryptographic hash gives both: the order is uniform-pseudorandom per
    epoch and identical across engines/runs.

    ``epoch_pos`` is the dense 0-based rank under (hash-bucket, key) —
    the key tiebreak makes the permutation total even on bucket
    collisions. The rank is the two-phase distributed prefix sum (same
    shape as operators/packing.py): hash buckets are sliced into
    ``n_range_buckets`` contiguous ranges, phase 1 aggregates per-range
    row counts (≤ n_range_buckets scalar rows to the driver), phase 2
    ranks WITHIN each range under a partitioned window and adds the
    broadcast exclusive range offset. Range order == hash order, so the
    result is bit-identical to a global ORDER BY — without ever moving
    all rows to one partition (the single-partition ``Window.orderBy``
    this replaces was flagged as the one scale-killer at 100 TB).
    """
    width = max(1, -(-n_buckets // n_range_buckets))  # ceil division
    eb = hash_bucket(
        F.concat(F.lit(f"e{epoch}:"), F.col(key_col).cast("string")),
        n_buckets,
    )
    from creatorops_lakehouse_spark.operators.cache import scoped_persist

    # Persisted: the per-range count aggregate and the ranking window are
    # two consumers of the same hashed projection.
    bucketed = scoped_persist(
        df.withColumn("_eb", eb).withColumn("_rb", F.expr(f"_eb div {width}"))
    )
    counts = {
        r._rb: r.c
        for r in bucketed.groupBy("_rb").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    running, offsets = 0, []
    for b in sorted(counts):
        offsets.append((b, running))
        running += counts[b]
    off_df = df.sparkSession.createDataFrame(offsets, "_rb long, _boff long")
    w = Window.partitionBy("_rb").orderBy(F.col("_eb").asc(), F.col(key_col).asc())
    return (
        bucketed.join(F.broadcast(off_df), on="_rb")
        .withColumn(
            "epoch_pos",
            (F.col("_boff") + F.row_number().over(w) - 1).cast("long"),
        )
        .drop("_rb", "_eb", "_boff")
    )


def epoch_orders(
    df: DataFrame,
    key_col: str,
    epochs: list[int],
    n_buckets: int = 1 << 32,
    n_range_buckets: int = 64,
) -> DataFrame:
    """Every epoch's :func:`epoch_order` permutation in ONE two-phase
    pass: (epoch, key_col, epoch_pos) for each listed epoch.

    Running epoch_order per epoch costs one per-range counts collect and
    one ranking-window job chain EACH; the permutations are independent,
    so unioning the epochs up front collapses that to one collect
    ((epoch, range) scalar rows) and one (epoch, range)-partitioned
    window — the same salted-hash arithmetic per epoch, hence per-epoch
    output bit-identical to epoch_order's. ``df`` must not already carry
    an ``epoch`` column."""
    # fail loud (ADVICE r13): an existing `epoch` column would make the
    # crossJoin/join silently ambiguous instead of erroring usefully
    if "epoch" in df.columns:
        raise ValueError("epoch_orders: df already has 'epoch'")
    if not epochs:
        raise ValueError("epoch_orders: empty epoch list")
    width = max(1, -(-n_buckets // n_range_buckets))
    spark = df.sparkSession
    ep = F.broadcast(
        spark.createDataFrame([(int(e),) for e in epochs], "epoch long")
    )
    eb = hash_bucket(
        F.concat(
            F.lit("e"),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col(key_col).cast("string"),
        ),
        n_buckets,
    )
    from creatorops_lakehouse_spark.operators.cache import scoped_persist

    bucketed = scoped_persist(
        df.crossJoin(ep)
        .withColumn("_eb", eb)
        .withColumn("_rb", F.expr(f"_eb div {width}"))
    )
    counts = {
        (r.epoch, r._rb): r.c
        for r in bucketed.groupBy("epoch", "_rb")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    offsets = []
    for e in sorted({k[0] for k in counts}):
        running = 0
        for ee, rb in sorted(k for k in counts if k[0] == e):
            offsets.append((ee, rb, running))
            running += counts[(ee, rb)]
    off_df = spark.createDataFrame(offsets, "epoch long, _rb long, _boff long")
    w = Window.partitionBy("epoch", "_rb").orderBy(
        F.col("_eb").asc(), F.col(key_col).asc()
    )
    return (
        bucketed.join(F.broadcast(off_df), on=["epoch", "_rb"])
        .withColumn(
            "epoch_pos",
            (F.col("_boff") + F.row_number().over(w) - 1).cast("long"),
        )
        .drop("_rb", "_eb", "_boff")
    )


def distributed_global_rank(
    df: DataFrame, order_cols: list[Column], rank_col: str = "_rank"
) -> tuple[DataFrame, int]:
    """Exact 1-based global row_number under a total order WITHOUT a
    single-partition window: repartitionByRange on the order key (range
    partitioner — partition i's keys all precede partition i+1's), then
    per-partition counts to the driver, broadcast exclusive offsets, and
    a partitioned window adds the local rank. Returns (ranked_df,
    n_rows). ``order_cols`` must be a TOTAL order (unique composite key)
    so no tie straddles a range boundary.

    The global-sort cousin of epoch_order's two-phase hash prefix sum:
    use THIS when the rank must follow a value order (ranked extracts,
    ntile/percent_rank), the hash variant when any uniform permutation
    will do."""
    from creatorops_lakehouse_spark.operators.cache import scoped_persist

    parts = scoped_persist(
        df.repartitionByRange(*order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    counts = {
        r._pid: r.c
        for r in parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    running, offsets = 0, []
    for p in sorted(counts):
        offsets.append((p, running))
        running += counts[p]
    off_df = df.sparkSession.createDataFrame(offsets, "_pid int, _poff long")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    ranked = (
        parts.join(F.broadcast(off_df), on="_pid")
        .withColumn(rank_col, (F.col("_poff") + F.row_number().over(w)).cast("long"))
        .drop("_pid", "_poff")
    )
    return ranked, running


def distributed_global_ranks(
    df: DataFrame,
    key_col: str,
    measures: dict[str, Column],
    rank_suffix: str = "_rank",
) -> tuple[DataFrame, int]:
    """Exact 1-based global row_numbers for SEVERAL (value asc, key asc)
    total orders in ONE range shuffle + ONE counts-collect + ONE window —
    the multi-measure fusion of :func:`distributed_global_rank` (guide §2
    shared exchanges / §1 fewer passes; the same trick
    operators/sessionize.py::keyed_running_sum_bucketed landed for running
    sums). Chaining per-measure rank calls costs one range shuffle, one
    driver counts round-trip and one window EACH, with the rows growing
    wider every round; the orders are independent, so melting to
    ``(dim, value, key)`` — three narrow ints per (row, measure) — pays
    one of each for all measures.

    ``measures`` maps name → a LONG-castable Column whose ascending order
    (with ``key_col`` as unique tiebreak) defines that measure's rank.
    Callers with non-long order keys pass an order-preserving long image
    (``unix_micros`` for timestamps, ``unix_date`` for dates).

    Rank identity with the chained form: each dim's melted rows are the
    same row set under the same (value, key) total order;
    ``repartitionByRange`` on (dim, value, key) keeps range order ==
    global order within each dim, the per-(dim, partition) counts
    reconstruct exact exclusive offsets, and a (partition, dim) window
    adds the local rank — bit-identical ranks to running
    :func:`distributed_global_rank` once per measure.

    Returns ``(wide_df, n_rows)``: ``wide_df`` has ``key_col``, one
    ``<name><rank_suffix>`` long per measure, and one ``<name>_value``
    (the measure's long image, so callers need not join the base table
    back). The pivot is one conditional aggregate keyed on ``key_col``.
    """
    from creatorops_lakehouse_spark.operators.cache import scoped_persist

    names = list(measures)
    melted = df.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_d"),
                        measures[n].cast("long").alias("_v"),
                    )
                    for i, n in enumerate(names)
                ]
            )
        ).alias("_m"),
    ).select(key_col, "_m._d", "_m._v")
    parts = scoped_persist(
        melted.repartitionByRange(
            F.col("_d").asc(), F.col("_v").asc(), F.col(key_col).asc()
        ).withColumn("_pid", F.spark_partition_id())
    )
    counts = {
        (r._d, r._pid): r.c
        for r in parts.groupBy("_d", "_pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    offsets = []
    n_rows = 0
    for d in range(len(names)):
        running = 0
        for dd, pid in sorted(k for k in counts if k[0] == d):
            offsets.append((dd, pid, running))
            running += counts[(dd, pid)]
        n_rows = running  # identical per dim: each melts the same rows
    off_df = df.sparkSession.createDataFrame(
        offsets, "_d int, _pid int, _poff long"
    )
    w = Window.partitionBy("_pid", "_d").orderBy(
        F.col("_v").asc(), F.col(key_col).asc()
    )
    ranked = parts.join(F.broadcast(off_df), on=["_d", "_pid"]).withColumn(
        "_rk", (F.col("_poff") + F.row_number().over(w)).cast("long")
    )
    wide = ranked.groupBy(key_col).agg(
        *[
            F.max(F.when(F.col("_d") == i, F.col("_rk"))).alias(
                f"{n}{rank_suffix}"
            )
            for i, n in enumerate(names)
        ],
        *[
            F.max(F.when(F.col("_d") == i, F.col("_v"))).alias(f"{n}_value")
            for i, n in enumerate(names)
        ],
    )
    return wide, n_rows


def ntile_from_rank(rank_col: str, n: int, k: int) -> Column:
    """Spark/SQL NTILE(k) reproduced arithmetically from an exact global
    rank: the first ``n mod k`` tiles hold ``n div k + 1`` rows, the rest
    ``n div k`` — the uneven-split rule both Spark and DuckDB implement.
    Lets ntile ride :func:`distributed_global_rank` instead of a
    single-partition window."""
    q, r = divmod(n, k)
    return F.expr(
        f"CAST(CASE WHEN {rank_col} <= {r * (q + 1)} THEN "
        f"({rank_col} - 1) div {q + 1} "
        f"ELSE {r} + ({rank_col} - 1 - {r * (q + 1)}) div {max(q, 1)} "
        f"END + 1 AS INT)"
    )
