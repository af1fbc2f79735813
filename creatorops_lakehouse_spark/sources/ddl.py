"""Executable DDL for the medallion catalog (S6 parity).

The reference ships declarative Delta DDL (sql/ddl/01_bronze.sql,
02_silver_events.sql, 03_silver_rejects.sql) that its jobs never execute
(they write by path). Here the same catalog surface is generated from the
single source of truth — the StructTypes in schemas.py, as the table
specs declare them — and actually executed: external tables over the
lakehouse paths, partitioned as in §1.4, so spark.sql('SELECT ... FROM silver.creatorops_events') works
against the tables the pipeline writes. USING parquet locally; the Delta
swap changes only the USING clause (format-pluggable like tables.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from creatorops_lakehouse_spark.sources.tables import TableSpec, lakehouse_specs


def create_table_ddl(spec: TableSpec) -> str:
    """CREATE TABLE ... USING <format> PARTITIONED BY ... LOCATION ... over
    ``spec.schema``, whose partition columns already come last."""
    cols = ",\n".join(
        f"  {f.name} {f.dataType.simpleString().upper()}" for f in spec.schema.fields
    )
    parts = (
        f"\nPARTITIONED BY ({', '.join(spec.partition_by)})" if spec.partition_by else ""
    )
    return (
        f"CREATE TABLE IF NOT EXISTS {spec.name} (\n{cols}\n)"
        f"\nUSING {spec.format}{parts}"
        f"\nLOCATION '{spec.path}'"
    )


def register_catalog(spark: SparkSession, root: str) -> list[str]:
    """Create the bronze/silver schemas + external tables over a lakehouse
    root. Returns the executed DDL statements. Call after the pipeline has
    written (external tables need existing data for schema-on-location), or
    rely on the explicit column lists here. MSCK repairs partition info."""
    specs = lakehouse_specs(root)
    executed: list[str] = []
    for db in ("bronze", "silver"):
        stmt = f"CREATE DATABASE IF NOT EXISTS {db}"
        spark.sql(stmt)
        executed.append(stmt)
    for key in ("bronze_events_raw", "silver_events", "silver_rejects"):
        spec = specs[key]
        ddl = create_table_ddl(spec)
        spark.sql(ddl)
        if spec.partition_by:
            spark.sql(f"MSCK REPAIR TABLE {spec.name}")
        executed.append(ddl)
    return executed


def maintenance_sql(
    table: str,
    zorder_by: tuple[str, ...] = (),
    retain_hours: int | None = None,
) -> list[str]:
    """Delta maintenance statements for a table — the commands the
    reference's DDL files prescribe in comments but never run
    (sql/ddl/01_bronze.sql:25-26 ``OPTIMIZE`` + ``VACUUM ... RETAIN 168
    HOURS``, 02_silver_events.sql:62 ``OPTIMIZE ... ZORDER BY``).

    delta-spark is not installable in this sandbox, so the statements are
    generated (and string-asserted in tests/test_ddl.py) rather than
    executed; on a Delta-enabled session they run verbatim via
    ``spark.sql``. The parquet stand-ins with equivalent capability are
    tables.py::compact_table (OPTIMIZE) and zorder_for_skipping (ZORDER).
    """
    stmts = [
        f"OPTIMIZE {table} ZORDER BY ({', '.join(zorder_by)})"
        if zorder_by
        else f"OPTIMIZE {table}"
    ]
    if retain_hours is not None:
        if retain_hours < 0:
            raise ValueError(f"retain_hours must be >= 0, got {retain_hours}")
        stmts.append(f"VACUUM {table} RETAIN {int(retain_hours)} HOURS")
    return stmts


def merge_upsert_sql(
    table: str,
    source: str,
    keys: tuple[str, ...],
    partition_keys: tuple[str, ...] = (),
) -> str:
    """The ``MERGE INTO`` statement the silver upsert becomes on Delta —
    the documented write pattern (runbooks/silver-transform.md:121-122:
    "Use MERGE INTO (upsert) to enforce uniqueness") that
    tables.py::upsert_table realizes without Delta via anti-join +
    dynamic partition overwrite.

    ``partition_keys`` join the match condition so the engine prunes the
    rewrite to touched partitions (the same pruning upsert_table does
    with its broadcast partition filter — SURVEY.md §7.4 scale note).
    """
    if not keys:
        raise ValueError("merge needs >= 1 equality key")
    on = " AND ".join(
        f"t.{k} = s.{k}" for k in (*keys, *partition_keys)
    )
    return (
        f"MERGE INTO {table} AS t\n"
        f"USING {source} AS s\n"
        f"ON {on}\n"
        f"WHEN MATCHED THEN UPDATE SET *\n"
        f"WHEN NOT MATCHED THEN INSERT *"
    )
