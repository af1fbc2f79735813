"""Contract compiler: declarative validation rules → Spark SQL predicates.

Implements the full documented contract surface of the reference — the
runtime checks in pipelines/silver/transform_local.py:94-169 PLUS the
documented-but-unimplemented semantics (SURVEY.md §2.9):

- D3 metric validation (docs/data-contracts.md:83-85):
  word_count >= 0, revision_count >= 0, engagement_score in [0,100]
  for reader events only.
- D4 clock-skew guard (docs/data-contracts.md:82):
  occurred_at <= as_of + 5 minutes (as_of parameterized, never
  current_timestamp(), for deterministic tests).
- D5 reject taxonomy (sql/ddl/03_silver_rejects.sql:13-19,
  docs/runbooks/silver-transform.md:124-133): reject_stage in
  {parsing, validation, enum_check, metric_check} + validation_errors
  JSON array of every failed rule (not just the first).
- D8 expectations file (contracts/expectations.yml, empty in the
  reference): rules can be loaded from a YAML list. A rule's predicate is
  a Spark SQL boolean string in both cases, so the built-in rules and the
  expectations file share one format.

Scale note: compilation is driver-side text only. ``compile_contract``
emits one SQL expression per verdict column, and the silver projections
are ``selectExpr`` lists, so a medallion day's silver split (480 events,
4 cores) costs 150-250 py4j round trips; built call by call through
PySpark ``Column``s it cost 5,400-6,000. The plan is a single Project over
native expressions (no UDFs, no shuffles), so whole-stage codegen fuses
all checks into one pass over the scan.
"""

from __future__ import annotations

from dataclasses import dataclass

from creatorops_lakehouse_spark.schemas import EVENT_TYPES, sql_string, sql_timestamp

#: ``parsed.occurredAt`` as a timestamp; NULL when absent or not ISO-8601 Zulu
#: (FIXTURES.md A1).
OCCURRED_AT = "try_to_timestamp(parsed.occurredAt, 'yyyy-MM-dd\\'T\\'HH:mm:ss\\'Z\\'')"


#: Reject-reason codes in priority order (first failing rule names the
#: row's reject_reason, matching the when-chain at transform_local.py:157-169).
@dataclass(frozen=True)
class Rule:
    reason: str  # reject_reason code
    stage: str  # reject_stage ∈ {parsing, validation, enum_check, metric_check}
    predicate: str  # Spark SQL boolean expression; TRUE ⇒ row PASSES this rule


def default_rules(as_of_ts: str | None = None) -> list[Rule]:
    """The creatorops event contract, over the parsed-event columns.

    Expects columns produced by silver.parse(): ``parse_ok`` plus the
    ``parsed.*`` struct fields. ``as_of_ts`` ('YYYY-MM-DD HH:MM:SS', UTC)
    parameterizes the D4 future-timestamp guard; None disables it.
    """
    reader_event = "parsed.eventType IN ('reader_engagement', 'reader_dropoff')"
    # try_cast, not cast: Spark 4 runs with ANSI mode ON, where a plain cast
    # of a non-numeric metric string (wordCount='abc') raises
    # CAST_INVALID_INPUT and aborts the whole job. try_cast yields NULL, and
    # the NON_NUMERIC_* rules below turn present-but-unparseable values into
    # quarantine rows instead of a crash.
    word_raw = "parsed.metrics['wordCount']"
    rev_raw = "parsed.metrics['revisionCount']"
    score_raw = "parsed.metrics['engagementScore']"
    word = f"try_cast({word_raw} AS INT)"
    rev = f"try_cast({rev_raw} AS INT)"
    score = f"try_cast({score_raw} AS DOUBLE)"
    event_types = ", ".join(map(sql_string, EVENT_TYPES))

    rules = [
        Rule("JSON_PARSE_FAILED", "parsing", "parse_ok"),
        Rule("MISSING_EVENT_ID", "validation", "parsed.eventId IS NOT NULL"),
        Rule("MISSING_EVENT_TYPE", "validation", "parsed.eventType IS NOT NULL"),
        Rule(
            "INVALID_EVENT_TYPE",
            "enum_check",
            f"parsed.eventType IS NULL OR parsed.eventType IN ({event_types})",
        ),
        Rule("MISSING_EVENT_VERSION", "validation", "parsed.eventVersion IS NOT NULL"),
        Rule(
            "INVALID_EVENT_VERSION",
            "validation",
            "parsed.eventVersion IS NULL OR parsed.eventVersion >= 1",
        ),
        Rule(
            "INVALID_OCCURRED_AT",
            "validation",
            f"parsed.occurredAt IS NULL OR {OCCURRED_AT} IS NOT NULL",
        ),
        # NULL occurredAt is its own failure (required field).
        Rule("MISSING_OCCURRED_AT", "validation", "parsed.occurredAt IS NOT NULL"),
        Rule("MISSING_TENANT_ID", "validation", "parsed.tenant.tenantId IS NOT NULL"),
        Rule("MISSING_AUTHOR_ID", "validation", "parsed.tenant.authorId IS NOT NULL"),
        Rule("MISSING_STORY_ID", "validation", "parsed.entity.storyId IS NOT NULL"),
        # D3 metric checks (null metric ⇒ pass; only present-and-invalid fails).
        # NON_NUMERIC fires when the raw string is present but try_cast failed;
        # the range rules then only see successfully-cast values.
        Rule("NON_NUMERIC_WORD_COUNT", "metric_check", f"{word_raw} IS NULL OR {word} IS NOT NULL"),
        Rule(
            "NON_NUMERIC_REVISION_COUNT",
            "metric_check",
            f"{rev_raw} IS NULL OR {rev} IS NOT NULL",
        ),
        Rule(
            "NON_NUMERIC_ENGAGEMENT_SCORE",
            "metric_check",
            f"{score_raw} IS NULL OR {score} IS NOT NULL",
        ),
        Rule("INVALID_WORD_COUNT", "metric_check", f"{word} IS NULL OR {word} >= 0"),
        Rule("INVALID_REVISION_COUNT", "metric_check", f"{rev} IS NULL OR {rev} >= 0"),
        Rule(
            "INVALID_ENGAGEMENT_SCORE",
            "metric_check",
            f"NOT ({reader_event}) OR {score} IS NULL OR ({score} >= 0 AND {score} <= 100)",
        ),
    ]
    if as_of_ts is not None:
        limit = f"{sql_timestamp('as_of_ts', as_of_ts)} + INTERVAL 5 MINUTES"
        rules.append(
            Rule(
                "FUTURE_OCCURRED_AT",
                "validation",
                f"{OCCURRED_AT} IS NULL OR {OCCURRED_AT} <= {limit}",
            )
        )
    return rules


def rules_from_expectations(spec: list[dict]) -> list[Rule]:
    """D8: an expectations list (parsed from YAML) as Rules.

    Each item: {reason, stage, expr} where ``expr`` is a Spark SQL boolean
    expression over the parsed columns that is True when the row passes,
    e.g. {reason: INVALID_PLAN, stage: enum_check,
          expr: "parsed.tenant.plan IS NULL OR parsed.tenant.plan IN ('free','pro')"}.
    """
    return [Rule(it["reason"], it["stage"], it["expr"]) for it in spec]


def load_expectations_yaml(path: str) -> list[Rule]:
    """Load a contracts/expectations.yml-style file (list of rule dicts)."""
    import yaml

    with open(path) as fh:
        spec = yaml.safe_load(fh) or []
    return rules_from_expectations(spec)


def compile_contract(rules: list[Rule]) -> dict[str, str]:
    """Compile rules into the four derived columns the silver split needs,
    one Spark SQL expression each.

    Returns expressions for:
      contract_ok         BOOLEAN — all rules pass
      reject_reason       STRING  — first failing rule's reason (priority order)
      reject_stage        STRING  — first failing rule's stage
      validation_errors   STRING  — JSON array of ALL failing reasons (D5)
    """
    # coalesce each predicate to FALSE so a NULL verdict counts as failure
    # (three-valued logic would otherwise leak rows out of BOTH branches)
    passed = [f"coalesce(({r.predicate}), FALSE)" for r in rules]
    failed = [f"NOT {p}" for p in passed]
    ok = " AND ".join(["TRUE", *passed])

    def first_failing(field: str) -> str:
        # CASE in priority order: the first failure wins
        if not rules:
            return "CAST(NULL AS STRING)"
        whens = " ".join(
            f"WHEN {f} THEN {sql_string(getattr(r, field))}" for r, f in zip(rules, failed)
        )
        return f"CASE {whens} ELSE NULL END"

    # JSON array of every failed reason — array_compact drops the nulls of
    # passing rules, to_json renders deterministically.
    errors = ", ".join(
        f"CASE WHEN {f} THEN {sql_string(r.reason)} END" for r, f in zip(rules, failed)
    )
    return {
        "contract_ok": ok,
        "reject_reason": first_failing("reason"),
        "reject_stage": first_failing("stage"),
        "validation_errors": (
            f"CASE WHEN NOT ({ok}) THEN to_json(array_compact(array({errors}))) END"
        ),
    }
