"""Lakehouse table layer: partitioned Parquet with Delta-ready semantics.

The reference writes Delta tables (format("delta"), ingest_local.py:57,
transform_local.py:190-204; DDL in sql/ddl/*.sql). delta-spark is not
available in this environment, so the table layer is format-pluggable with
partitioned Parquet as the default — every write goes through TableSpec so
swapping ``format="delta"`` (and enabling the Delta session extension in
session.py) is a one-line production change. Write modes mirror the
reference exactly: Bronze append-only (S3), Silver/Gold overwrite (S4/S5).

Scale notes (100 TB):
- Partition columns mirror the reference layout (§1.4): Bronze by
  p_ingest_date, Silver events by p_event_date, rejects by p_ingest_date,
  daily gold KPIs by p_event_date — daily queries prune to one partition.
- ``overwrite`` uses dynamic partition overwrite so an incremental run
  (D7) replaces only the partitions it recomputed, not the whole table —
  at 100 TB a static overwrite of silver would rewrite everything.
- Writers avoid small files by coalescing per-partition output via AQE;
  periodic compaction (reference: OPTIMIZE/ZORDER weekly,
  runbooks/silver-transform.md:138) is ``compact_table``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from creatorops_lakehouse_spark.schemas import BRONZE_SCHEMA, REJECT_SCHEMA, SILVER_EVENT_SCHEMA


@dataclass(frozen=True)
class TableSpec:
    name: str
    path: str
    partition_by: tuple[str, ...] = ()
    format: str = "parquet"
    properties: dict[str, str] = field(default_factory=dict)
    #: declared read schema (``read_schema``); None infers it from the files
    schema: StructType | None = None


def read_schema(schema: StructType, partition_by: tuple[str, ...] = ()) -> StructType:
    """The schema a file read of a table written with ``schema`` returns:
    partition columns last, every column nullable (as Spark reads files)."""
    fields = [f for f in schema.fields if f.name not in partition_by]
    fields += [schema[c] for c in partition_by]
    return StructType([StructField(f.name, f.dataType) for f in fields])


def read_table(spark: SparkSession, spec: TableSpec) -> DataFrame:
    """Read a table; a declared ``spec.schema`` skips the Spark job that
    infers the schema from the Parquet footers."""
    reader = spark.read.format(spec.format)
    if spec.schema is not None:
        reader = reader.schema(spec.schema)
    return reader.load(spec.path)


def write_table(
    df: DataFrame,
    spec: TableSpec,
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """Write a table in the reference's mode semantics.

    mode="append"    → Bronze-style immutable append (S3).
    mode="overwrite" → Silver/Gold-style refresh (S4/S5); with ``dynamic``
    and a partitioned spec, only the partitions present in ``df`` are
    replaced (partitionOverwriteMode=dynamic) — the scalable form of the
    reference's full overwrite.
    """
    writer = df.write.format(spec.format).mode(mode)
    if spec.partition_by:
        writer = writer.partitionBy(*spec.partition_by)
        if mode == "overwrite" and dynamic:
            writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.save(spec.path)


def compact_table(
    spark: SparkSession, spec: TableSpec, target_partitions: int | None = None
) -> None:
    """Small-file compaction — the Parquet stand-in for Delta OPTIMIZE
    (reference guidance: sql/ddl/01_bronze.sql:25-26, weekly cadence).

    Rewrites each table partition into ``target_partitions`` files. On Delta
    this becomes ``OPTIMIZE ... [ZORDER BY ...]`` instead.
    """
    df = read_table(spark, spec)
    if target_partitions:
        df = df.repartition(target_partitions, *spec.partition_by) if spec.partition_by else df.repartition(target_partitions)
    write_table(df, spec, mode="overwrite", dynamic=False)


def lakehouse_specs(root: str) -> dict[str, TableSpec]:
    """The medallion table set, mirroring the reference layout (§1.4/§1.5).
    Bronze, silver and rejects declare their read schemas; gold tables, which
    an empty KPI leaves as a directory with no files, infer theirs."""
    return {
        "bronze_events_raw": TableSpec(
            "bronze.creatorops_events_raw", f"{root}/bronze/creatorops_events_raw",
            ("p_ingest_date",), schema=read_schema(BRONZE_SCHEMA, ("p_ingest_date",)),
        ),
        "silver_events": TableSpec(
            "silver.creatorops_events", f"{root}/silver/creatorops_events",
            ("p_event_date",), schema=read_schema(SILVER_EVENT_SCHEMA, ("p_event_date",)),
        ),
        "silver_rejects": TableSpec(
            "silver.creatorops_events_rejects", f"{root}/silver/creatorops_rejects",
            ("p_ingest_date",), schema=read_schema(REJECT_SCHEMA, ("p_ingest_date",)),
        ),
        "gold_writing_velocity": TableSpec(
            "gold.kpi_writing_velocity_daily", f"{root}/gold/kpi_writing_velocity_daily",
            ("p_event_date",),
        ),
        "gold_revision_churn": TableSpec(
            "gold.kpi_revision_churn_daily", f"{root}/gold/kpi_revision_churn_daily",
            ("p_event_date",),
        ),
        "gold_engagement_bands": TableSpec(
            "gold.kpi_engagement_bands_daily", f"{root}/gold/kpi_engagement_bands_daily",
            ("p_event_date",),
        ),
        "gold_dropoff_rate": TableSpec(
            "gold.kpi_dropoff_rate_daily", f"{root}/gold/kpi_dropoff_rate_daily",
            ("p_event_date",),
        ),
        "gold_stage_bottlenecks": TableSpec(
            "gold.kpi_stage_bottlenecks", f"{root}/gold/kpi_stage_bottlenecks",
        ),
    }


def write_bucketed(
    df: DataFrame,
    spark: SparkSession,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (CLUSTERED BY ... INTO n BUCKETS).

    Bucketing pre-shuffles data by the join/agg key at WRITE time: two
    tables bucketed the same way join with ZERO exchanges — the decisive
    optimization for repeated large-fact joins at 100 TB (pay the shuffle
    once, reuse it every query). Requires saveAsTable (bucket metadata
    lives in the catalog, not the files).
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def sort_for_skipping(df: DataFrame, cols: list[str], target_files: int) -> DataFrame:
    """Range-partition + sort by ``cols`` before writing — the parquet
    min/max data-skipping stand-in for Delta ZORDER (reference guidance:
    sql/ddl/02_silver_events.sql:62). Files become disjoint key ranges, so
    point/range queries on ``cols`` prune most files from the scan."""
    from pyspark.sql import functions as F

    return df.repartitionByRange(target_files, *[F.col(c) for c in cols]).sortWithinPartitions(
        *cols
    )


def zorder_key(cols: list[str], bits: int = 21) -> "F.Column":
    """Bit-interleaved Z-order key over numeric columns — the real ZORDER
    curve, not the lexicographic stand-in.

    ``sort_for_skipping`` gives perfect min/max pruning on the LEADING
    sort column but none on the rest (every file spans the full range of
    column 2). Interleaving the bits of rank-normalized columns makes
    files cluster in hypercubes, so parquet footer min/max prunes on
    EVERY participating column at once — what Delta's OPTIMIZE ZORDER BY
    does, computed here as one pure-expression projection.

    Each column is linearly scaled to [0, 2^bits) using its min/max from
    a one-row broadcast aggregate (the sanctioned scalar cross join; the
    expression resolves the ``_zmin_j``/``_zmax_j`` scalars against the
    cross-joined frame), then bits are interleaved LSB-first.
    ``bits * len(cols)`` must stay <= 63;
    21 bits x 3 cols fills a BIGINT. The scaling runs in DOUBLE with a
    clamp — integer cross-multiplication ``(x - lo) * (2^bits - 1)``
    would overflow int64 for any column whose range exceeds ~4.4e12
    (epoch-micros spans, hash-derived ids) and Spark's non-ANSI
    arithmetic would wrap it into garbage keys silently. A double is
    exact up to 2^53 and off by at most 1 ulp past that — a one-bucket
    wobble at cell edges, irrelevant to clustering quality. Linear
    scaling (not exact rank) is deliberate: it needs only one tiny
    aggregate, and skewed values cost curve balance, not correctness —
    heavy skew callers can pre-transform (e.g. log) the column.
    """
    from pyspark.sql import functions as F

    if bits * len(cols) > 63:
        raise ValueError(f"bits*cols = {bits * len(cols)} exceeds BIGINT range")
    top = (1 << bits) - 1
    terms = []
    for j, c in enumerate(cols):
        lo, hi = f"_zmin_{j}", f"_zmax_{j}"
        scaled = (
            f"CASE WHEN {hi} = {lo} THEN 0 ELSE "
            f"LEAST({top}, GREATEST(0, CAST("
            f"(CAST({c} AS DOUBLE) - CAST({lo} AS DOUBLE))"
            f" / (CAST({hi} AS DOUBLE) - CAST({lo} AS DOUBLE)) * {top}"
            f" AS BIGINT))) END"
        )
        terms.append(
            " + ".join(
                # full parens: SQL << binds looser than +, so an unwrapped
                # `a << p + b << q` would parse as `a << (p + b) << q`
                f"(((({scaled}) >> {i}) & 1) << {i * len(cols) + j})"
                for i in range(bits)
            )
        )
    return F.expr(" + ".join(f"({t})" for t in terms)).alias("_zkey")


def zorder_for_skipping(
    df: DataFrame, cols: list[str], target_files: int, bits: int = 21
) -> DataFrame:
    """Range-partition + sort by the interleaved Z-key before writing, so
    every file's footer min/max is tight on ALL ``cols``. One extra tiny
    aggregate (per-column min/max) + the same single range shuffle as
    ``sort_for_skipping``."""
    from pyspark.sql import functions as F

    aggs = []
    for j, c in enumerate(cols):
        aggs.append(F.min(F.col(c).cast("long")).alias(f"_zmin_{j}"))
        aggs.append(F.max(F.col(c).cast("long")).alias(f"_zmax_{j}"))
    bounds = df.agg(*aggs)
    keyed = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_zkey", zorder_key(cols, bits)
    )
    return (
        keyed.repartitionByRange(target_files, F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey", *[f"_zmin_{j}" for j in range(len(cols))],
              *[f"_zmax_{j}" for j in range(len(cols))])
    )


def upsert_table(
    spark: SparkSession,
    spec: TableSpec,
    updates: DataFrame,
    keys: list[str],
) -> None:
    """MERGE-style upsert for the parquet table layer: matched rows are
    replaced by ``updates``, unmatched existing rows are kept.

    This is the documented silver upsert pattern
    (runbooks/silver-transform.md:114-122: MERGE on event_id / WHEN NOT
    MATCHED INSERT) realized without Delta: existing ⟕ anti-join on keys
    ∪ updates, written back with dynamic partition overwrite so only the
    partitions touched by ``updates`` rewrite. On Delta this becomes a real
    ``MERGE INTO`` (with the partition keys in the match condition to prune
    the rewrite — SURVEY.md §7.4 scale note).
    """
    import pyspark.sql.functions as F

    try:
        existing = read_table(spark, spec)
    except Exception:  # first write — table does not exist yet
        write_table(updates, spec, mode="overwrite", dynamic=False)
        return
    if spec.partition_by:
        # restrict the kept side to the partitions being rewritten; rows in
        # untouched partitions stay on disk (dynamic overwrite skips them)
        parts = updates.select(*spec.partition_by).distinct()
        existing = existing.join(F.broadcast(parts), on=list(spec.partition_by))
        kept = existing.join(updates.select(*keys).distinct(), on=keys, how="left_anti")
        merged = kept.unionByName(updates)
        write_table(merged, spec, mode="overwrite", dynamic=True)
        return
    # Unpartitioned: the merged plan lazily READS spec.path, so overwriting
    # that same path in the same action would delete the inputs mid-scan
    # (dynamic-overwrite staging only protects partitioned writes).
    # Materialize to a staging dir, rewrite the table from the staged copy,
    # then drop the staging dir.
    kept = existing.join(updates.select(*keys).distinct(), on=keys, how="left_anti")
    merged = kept.unionByName(updates)
    staging = spec.path.rstrip("/") + "__staging"
    merged.write.format(spec.format).mode("overwrite").save(staging)
    spark.read.format(spec.format).load(staging).write.format(spec.format).mode(
        "overwrite"
    ).save(spec.path)
    jvm = spark._jvm
    staging_path = jvm.org.apache.hadoop.fs.Path(staging)
    fs = staging_path.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(staging_path, True)
