"""Bronze ingest: raw NDJSON → append-only lineage-wrapped Delta-style table.

Capability parity with pipelines/bronze/ingest_local.py:28-66 — the Bronze
envelope (ingest_id, source, raw_json, raw_schema_version, ingested_at,
p_ingest_date; sql/ddl/01_bronze.sql:8-15), one batch-level ingest_id
stamped on every row of a run (the reference's lit(uuid4()) quirk at
ingest_local.py:47 — reproduced deliberately, it identifies the batch).

Design divergence (Spark-first): the reference reads NDJSON with
spark.read.json + schema inference, then re-serializes with
to_json(struct(*)) (ingest_local.py:39-46) — which round-trips the payload
through an inferred schema and silently mangles lines that don't parse.
We read with spark.read.text instead: the raw line IS raw_json, byte-exact,
so unparseable payloads survive into Bronze and reach the Silver quarantine
with reason JSON_PARSE_FAILED (transform_local.py:157-169 taxonomy). This
also skips the schema-inference scan — one pass over the input, not two.

Scale notes: text scan is splittable and schema-free (no inference job over
100 TB); the partitioned write needs no shuffle — each task appends to its
ingest-date directory.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from creatorops_lakehouse_spark.schemas import sql_string, sql_timestamp
from creatorops_lakehouse_spark.sources.tables import TableSpec, write_table

RAW_SCHEMA_VERSION = 1


def wrap_bronze(
    raw_lines: DataFrame,
    *,
    source: str = "local_generator",
    ingest_id: str | None = None,
    ingested_at: str | None = None,
) -> DataFrame:
    """Wrap a one-column (``value``: raw JSON line) DataFrame in the Bronze
    envelope. ``ingested_at`` ('YYYY-MM-DD HH:MM:SS') parameterizes the
    lineage timestamp for deterministic tests (never current_timestamp()
    in checked outputs — SURVEY.md §5)."""
    ingest_id = ingest_id or str(uuid.uuid4())
    if ingested_at is None:
        ingested_at = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    ts = sql_timestamp("ingested_at", ingested_at)
    return raw_lines.selectExpr(
        f"{sql_string(ingest_id)} AS ingest_id",
        f"{sql_string(source)} AS source",
        "value AS raw_json",
        f"{RAW_SCHEMA_VERSION} AS raw_schema_version",
        f"{ts} AS ingested_at",
        f"to_date({ts}) AS p_ingest_date",
    )


def ingest_ndjson(
    spark: SparkSession,
    input_glob: str,
    spec: TableSpec,
    **kwargs,
) -> DataFrame:
    """Read NDJSON file(s) → Bronze table (append). Returns the batch df."""
    bronze = wrap_bronze(spark.read.text(input_glob), **kwargs)
    write_table(bronze, spec, mode="append")
    return bronze
