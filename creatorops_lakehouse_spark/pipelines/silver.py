"""Silver transform: Bronze raw JSON → typed, contract-validated event log
plus a quarantine table with the full reject taxonomy.

Capability parity with pipelines/silver/transform_local.py:31-209, upgraded
with the documented-but-unimplemented semantics (SURVEY.md §2.9):
D1 dedup keep-latest, D2 authoritative stage derivation, D3 metric checks,
D4 clock-skew guard, D5 reject taxonomy + validation_errors, D6 stable-field
hash, D7 partition-range incremental runs. Typed metric columns implement
the Silver DDL (sql/ddl/02_silver_events.sql:34-40) rather than the
reference code's map-only variant — the documented intent, strictly more
capable — while keeping the open maps for forward-compat (§7.4).

Scale notes:
- The whole parse+validate+project path is narrow (no shuffle) and
  UDF-free, so it fuses into one WholeStageCodegen pass over the scan.
- The good/reject fan-out persists the parsed parent once instead of
  recomputing the scan per action (the reference recomputes it 4×, §3).
- Dedup shuffles once on event_id; at 100 TB run it per ingest-date
  partition range (incremental mode) so the window state stays bounded.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame

from creatorops_lakehouse_spark.contract import (
    OCCURRED_AT,
    Rule,
    compile_contract,
    default_rules,
)
from creatorops_lakehouse_spark.schemas import (
    RAW_EVENT_SCHEMA,
    STAGE_BY_EVENT_TYPE,
    sql_date,
    sql_string,
    sql_timestamp,
)

#: Days after which an event is flagged late (transform_local.py:109;
#: runbooks/silver-transform.md:92-95).
LATE_EVENT_DAYS = 7

#: RAW_EVENT_SCHEMA plus the PERMISSIVE corrupt-record column, as SQL type text.
_PARSE_SCHEMA = RAW_EVENT_SCHEMA.simpleString()[: -len(">")] + ",_corrupt_record:string>"

_EMPTY_MAP = "CAST(map() AS MAP<STRING, STRING>)"

#: Authoritative event_type → stage mapping as a literal MAP (D2): a lookup
#: instead of a 10-branch CASE, constant-folded by Catalyst, and the single
#: source of truth stays schemas.STAGE_BY_EVENT_TYPE.
_STAGE_MAP = "map({})".format(
    ", ".join(f"{sql_string(k)}, {sql_string(v)}" for k, v in STAGE_BY_EVENT_TYPE.items())
)

#: The good branch's projection to the typed Silver schema
#: (sql/ddl/02_silver_events.sql:8-52 + lineage, transform_local.py:117-153),
#: in schemas.SILVER_EVENT_SCHEMA order.
_SILVER_PROJECTION: tuple[str, ...] = (
    "parsed.eventId AS event_id",
    "parsed.eventType AS event_type",
    "parsed.eventVersion AS event_version",
    "occurred_at",
    "ingested_at",
    "p_event_date",
    "parsed.tenant.tenantId AS tenant_id",
    "parsed.tenant.authorId AS author_id",
    "parsed.tenant.plan AS plan",
    "parsed.entity.seriesId AS series_id",
    "parsed.entity.storyId AS story_id",
    "parsed.entity.chapterId AS chapter_id",
    "parsed.entity.sceneId AS scene_id",
    # D2: stage is DERIVED from event_type; the producer-supplied stage is
    # preserved in metadata_map['producerStage']
    # (runbooks/silver-transform.md:63-80)
    f"{_STAGE_MAP}[parsed.eventType] AS stage",
    # try_cast: ANSI mode would crash on non-numeric metric strings; the
    # contract's NON_NUMERIC_* rules quarantine those rows, but the good
    # branch must still never throw on values the contract permits.
    "try_cast(parsed.metrics['revisionCount'] AS INT) AS revision_count",
    "try_cast(parsed.metrics['wordCount'] AS INT) AS word_count",
    "try_cast(parsed.metrics['engagementScore'] AS DOUBLE) AS engagement_score",
    f"coalesce(parsed.metrics, {_EMPTY_MAP}) AS metrics_map",
    f"map_concat(coalesce(parsed.metadata, {_EMPTY_MAP}), CASE WHEN parsed.stage IS NOT NULL"
    f" THEN map('producerStage', parsed.stage) ELSE {_EMPTY_MAP} END) AS metadata_map",
    "parsed.producer.service AS producer_service",
    "parsed.producer.env AS producer_env",
    "parsed.producer.region AS producer_region",
    "parsed.producer.traceId AS trace_id",
    "event_hash",
    "coalesce(is_late_event, FALSE) AS is_late_event",
    "ingest_id",
    "source",
    "raw_schema_version",
    "p_ingest_date",
    "raw_json",
)


def parse(bronze: DataFrame) -> DataFrame:
    """Parse raw_json against the fixed contract schema (F1).

    Mirrors transform_local.py:71-76: fields that don't match become null.
    PERMISSIVE from_json yields an all-null struct (not a null struct) for
    malformed JSON, so parse failure is detected via a corrupt-record
    column rather than struct nullness.
    """
    return bronze.selectExpr(
        "*",
        f"from_json(raw_json, '{_PARSE_SCHEMA}', map('mode', 'PERMISSIVE',"
        " 'columnNameOfCorruptRecord', '_corrupt_record')) AS parsed",
    ).selectExpr("*", "parsed IS NOT NULL AND parsed._corrupt_record IS NULL AS parse_ok")


def stable_event_hash() -> str:
    """D6 stable-field idempotency hash (runbooks/silver-transform.md:100-112),
    as SQL: sha2 over the business identity, not the raw payload bytes —
    equal events hash equal even if whitespace/key-order differ."""
    fields = (
        "eventType", "occurredAt", "tenant.tenantId", "tenant.authorId",
        "entity.seriesId", "entity.storyId", "entity.chapterId", "entity.sceneId",
        "metrics['wordCount']", "metrics['revisionCount']", "metrics['engagementScore']",
    )
    parts = ", ".join(f"coalesce(parsed.{f}, '')" for f in fields)
    return f"sha2(concat_ws('||', {parts}), 256)"


def validate(
    parsed: DataFrame,
    as_of_ts: str | None = None,
    extra_rules: list[Rule] | None = None,
) -> DataFrame:
    """Attach contract verdict columns + derived event columns.

    ``as_of_ts`` parameterizes the D4 future-event guard (and is the
    deterministic stand-in for current_timestamp()).
    """
    rules = default_rules(as_of_ts=as_of_ts) + list(extra_rules or ())
    verdict = compile_contract(rules)
    return parsed.selectExpr(
        "*",
        *(f"{sql} AS {name}" for name, sql in verdict.items()),
        f"{OCCURRED_AT} AS occurred_at",
        f"to_date({OCCURRED_AT}) AS p_event_date",
        f"{stable_event_hash()} AS event_hash",
        f"datediff(p_ingest_date, to_date({OCCURRED_AT})) > {LATE_EVENT_DAYS} AS is_late_event",
    )


def to_silver(validated: DataFrame) -> DataFrame:
    """Project the good branch to the typed Silver schema."""
    return validated.where("contract_ok").selectExpr(*_SILVER_PROJECTION)


def to_rejects(validated: DataFrame, rejected_at: str | None = None) -> DataFrame:
    """Project the quarantine branch with the full D5 taxonomy
    (sql/ddl/03_silver_rejects.sql:8-19; reasons transform_local.py:157-169)."""
    if rejected_at is None:
        rejected_at = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    return validated.where("NOT contract_ok").selectExpr(
        "event_hash",
        "reject_reason",
        "reject_stage",
        "validation_errors",
        "ingest_id",
        "source",
        "raw_schema_version",
        "ingested_at",
        f"{sql_timestamp('rejected_at', rejected_at)} AS rejected_at",
        "p_ingest_date",
        "raw_json",
    )


def dedup_latest(
    df: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    order_col: str = "ingested_at",
    tiebreak: tuple[str, ...] = ("event_hash",),
) -> DataFrame:
    """D1 dedup: keep the latest record per logical key
    (runbooks/silver-transform.md:114-122 "keep max(ingested_at)").

    Deterministic: ties on ``order_col`` break on ``tiebreak`` columns.
    At scale this is one hash-shuffle on the key; pair with a partition
    filter (incremental mode) to bound state.
    """
    order = ", ".join(f"{c} DESC" for c in (order_col, *tiebreak))
    rank = f"row_number() OVER (PARTITION BY {', '.join(keys)} ORDER BY {order})"
    return df.selectExpr("*", f"{rank} AS _rn").where("_rn = 1").drop("_rn")


def transform(
    bronze: DataFrame,
    as_of_ts: str | None = None,
    rejected_at: str | None = None,
    dedup: bool = True,
    ingest_date_range: tuple[str, str] | None = None,
    extra_rules: list[Rule] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full Bronze→Silver split. Returns (silver_events, rejects).

    ``ingest_date_range`` implements D7 incremental/backfill runs
    (runbooks/silver-transform.md:135-137): a (start, end) date pair pushed
    down to partition pruning on p_ingest_date.
    """
    if ingest_date_range is not None:
        start, end = (sql_date("ingest_date_range", d) for d in ingest_date_range)
        bronze = bronze.where(f"p_ingest_date >= {start} AND p_ingest_date <= {end}")
    validated = validate(parse(bronze), as_of_ts=as_of_ts, extra_rules=extra_rules)
    # one persist instead of the reference's 4× scan recompute (SURVEY §3/§4);
    # scoped so the query-registry wrapper / bench loop can release it once
    # the good+reject branches have been consumed (operators/cache.py).
    from creatorops_lakehouse_spark.operators.cache import scoped_persist

    validated = scoped_persist(validated)
    good = to_silver(validated)
    if dedup:
        good = dedup_latest(good)
    bad = to_rejects(validated, rejected_at=rejected_at)
    return good, bad
