"""Canonical schemas and domain constants for the creatorops event model.

Capability parity targets (reference file:line):
- raw event contract: contracts/event_schema.json:6-97
- silver parse schema: pipelines/silver/transform_local.py:37-69
- bronze envelope: sql/ddl/01_bronze.sql:8-15
- typed silver DDL (implemented here — the documented intent, stricter than
  the reference's map-only code path): sql/ddl/02_silver_events.sql:8-52
- reject table: sql/ddl/03_silver_rejects.sql:8-19 (full taxonomy, which the
  reference documents but does not implement — SURVEY.md §2.9 D5)
- stage mapping: docs/data-contracts.md:41-52, data_generator/generator.py:61-72
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: The ten allowed event types (contracts/event_schema.json:20-33).
EVENT_TYPES: tuple[str, ...] = (
    "draft_created",
    "chapter_written",
    "scene_revised",
    "beta_feedback_received",
    "submission_sent",
    "editor_comment",
    "publish_scheduled",
    "publish_released",
    "reader_engagement",
    "reader_dropoff",
)

#: Authoritative event_type -> workflow stage map
#: (docs/data-contracts.md:41-52). The silver transform derives stage from
#: event_type and ignores the producer-supplied stage (SURVEY.md §2.9 D2).
STAGE_BY_EVENT_TYPE: dict[str, str] = {
    "draft_created": "DRAFT",
    "chapter_written": "WRITE",
    "scene_revised": "REVISION",
    "beta_feedback_received": "BETA",
    "submission_sent": "SUBMISSION",
    "editor_comment": "EDIT",
    "publish_scheduled": "SCHEDULED",
    "publish_released": "RELEASED",
    "reader_engagement": "ENGAGEMENT",
    "reader_dropoff": "ENGAGEMENT",
}

STAGES: tuple[str, ...] = (
    "DRAFT",
    "WRITE",
    "REVISION",
    "BETA",
    "SUBMISSION",
    "EDIT",
    "SCHEDULED",
    "RELEASED",
    "ENGAGEMENT",
)

#: Parse schema for the raw JSON event payload
#: (mirrors contracts/event_schema.json; metrics/metadata stay open maps at
#: parse time — typing happens in the silver projection).
RAW_EVENT_SCHEMA = StructType(
    [
        StructField("eventId", StringType()),
        StructField("eventType", StringType()),
        StructField("eventVersion", IntegerType()),
        StructField("occurredAt", StringType()),
        StructField("stage", StringType()),
        StructField(
            "tenant",
            StructType(
                [
                    StructField("tenantId", StringType()),
                    StructField("authorId", StringType()),
                    StructField("plan", StringType()),
                ]
            ),
        ),
        StructField(
            "entity",
            StructType(
                [
                    StructField("seriesId", StringType()),
                    StructField("storyId", StringType()),
                    StructField("chapterId", StringType()),
                    StructField("sceneId", StringType()),
                ]
            ),
        ),
        StructField(
            "producer",
            StructType(
                [
                    StructField("service", StringType()),
                    StructField("env", StringType()),
                    StructField("region", StringType()),
                    StructField("traceId", StringType()),
                ]
            ),
        ),
        StructField("metrics", MapType(StringType(), StringType())),
        StructField("metadata", MapType(StringType(), StringType())),
    ]
)

#: Bronze lineage envelope (sql/ddl/01_bronze.sql:8-15).
BRONZE_SCHEMA = StructType(
    [
        StructField("ingest_id", StringType(), False),
        StructField("source", StringType(), False),
        StructField("raw_json", StringType()),
        StructField("raw_schema_version", IntegerType(), False),
        StructField("ingested_at", TimestampType(), False),
        StructField("p_ingest_date", DateType(), False),
    ]
)

#: Typed silver event log (sql/ddl/02_silver_events.sql:8-52; we implement
#: the typed-DDL variant AND keep the open maps for forward-compat), in the
#: column order ``pipelines.silver.to_silver`` writes. Lineage is carried
#: from bronze (transform_local.py:147-152), ``raw_json`` included for replay.
SILVER_EVENT_SCHEMA = StructType(
    [
        StructField("event_id", StringType()),
        StructField("event_type", StringType()),
        StructField("event_version", IntegerType()),
        StructField("occurred_at", TimestampType()),
        StructField("ingested_at", TimestampType()),
        StructField("p_event_date", DateType()),
        StructField("tenant_id", StringType()),
        StructField("author_id", StringType()),
        StructField("plan", StringType()),
        StructField("series_id", StringType()),
        StructField("story_id", StringType()),
        StructField("chapter_id", StringType()),
        StructField("scene_id", StringType()),
        StructField("stage", StringType()),
        StructField("revision_count", IntegerType()),
        StructField("word_count", IntegerType()),
        StructField("engagement_score", DoubleType()),
        StructField("metrics_map", MapType(StringType(), StringType())),
        StructField("metadata_map", MapType(StringType(), StringType())),
        StructField("producer_service", StringType()),
        StructField("producer_env", StringType()),
        StructField("producer_region", StringType()),
        StructField("trace_id", StringType()),
        StructField("event_hash", StringType()),
        StructField("is_late_event", BooleanType()),
        StructField("ingest_id", StringType()),
        StructField("source", StringType()),
        StructField("raw_schema_version", IntegerType()),
        StructField("p_ingest_date", DateType()),
        StructField("raw_json", StringType()),
    ]
)

#: Reject table with the full documented taxonomy
#: (sql/ddl/03_silver_rejects.sql:8-19 + docs/runbooks/silver-transform.md:124-133).
REJECT_SCHEMA = StructType(
    [
        StructField("event_hash", StringType()),
        StructField("reject_reason", StringType()),
        StructField("reject_stage", StringType()),
        StructField("validation_errors", StringType()),
        StructField("ingest_id", StringType()),
        StructField("source", StringType()),
        StructField("raw_schema_version", IntegerType()),
        StructField("ingested_at", TimestampType()),
        StructField("rejected_at", TimestampType()),
        StructField("p_ingest_date", DateType()),
        StructField("raw_json", StringType()),
    ]
)

#: Reject stages (docs/runbooks/silver-transform.md:124-133).
REJECT_STAGES: tuple[str, ...] = ("parsing", "validation", "enum_check", "metric_check")


def sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal (quotes and backslashes escaped)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _checked(name: str, value: str, fmt: str, shape: str) -> str:
    try:
        datetime.strptime(value, fmt)
    except (TypeError, ValueError):
        raise ValueError(f"{name} must be '{shape}', got {value!r}") from None
    return value


def sql_timestamp(name: str, value: str) -> str:
    """SQL for the timestamp parameter ``name`` ('YYYY-MM-DD HH:MM:SS', UTC).

    Checked when the plan is built, so a malformed value fails here, naming
    the parameter, instead of inside a write job under ANSI cast; only a
    checked value is spliced into SQL text."""
    checked = _checked(name, value, "%Y-%m-%d %H:%M:%S", "YYYY-MM-DD HH:MM:SS")
    return f"CAST('{checked}' AS TIMESTAMP)"


def sql_date(name: str, value: str) -> str:
    """SQL for the date parameter ``name`` ('YYYY-MM-DD'), checked like
    ``sql_timestamp``."""
    return f"CAST('{_checked(name, value, '%Y-%m-%d', 'YYYY-MM-DD')}' AS DATE)"
