"""The contract as SQL text: fixture coverage of every default rule, an
expectations-file rule next to the defaults, and time parameters that are
checked before they are spliced into SQL."""

from __future__ import annotations

import json

import pytest
from test_contract import AS_OF, CASES, INGESTED, _variant

from creatorops_lakehouse_spark.contract import default_rules, rules_from_expectations
from creatorops_lakehouse_spark.pipelines import gold
from creatorops_lakehouse_spark.pipelines.bronze import wrap_bronze
from creatorops_lakehouse_spark.pipelines.silver import parse, to_rejects, transform, validate


def test_every_default_reason_has_a_fixture():
    reasons = [r.reason for r in default_rules(as_of_ts=AS_OF)]
    assert len(reasons) == len(set(reasons))
    assert set(reasons) == {reason for reason, _, _ in CASES}


def test_expectation_rule_runs_after_the_defaults(spark):
    plan_rule = rules_from_expectations(
        [
            {
                "reason": "INVALID_PLAN",
                "stage": "enum_check",
                "expr": "parsed.tenant.plan IS NULL OR parsed.tenant.plan IN ('free', 'pro')",
            }
        ]
    )
    lines = [
        _variant("plan_only", **{"tenant.plan": "enterprise"}),
        # fails a default rule AND the expectation: the default names the row
        _variant("both", **{"tenant.plan": "enterprise", "tenant.authorId": None}),
        _variant("neither"),
    ]
    bronze = wrap_bronze(
        spark.createDataFrame([(line,) for line in lines], ["value"]),
        ingest_id="b", ingested_at=INGESTED,
    )
    good, bad = transform(bronze, as_of_ts=AS_OF, rejected_at=AS_OF, extra_rules=plan_rule)
    assert [r.event_id for r in good.collect()] == ["neither"]
    by_id = {json.loads(r.raw_json)["eventId"]: r for r in bad.collect()}
    assert set(by_id) == {"plan_only", "both"}
    assert by_id["plan_only"].reject_reason == "INVALID_PLAN"
    assert by_id["plan_only"].reject_stage == "enum_check"
    assert json.loads(by_id["plan_only"].validation_errors) == ["INVALID_PLAN"]
    assert by_id["both"].reject_reason == "MISSING_AUTHOR_ID"
    assert by_id["both"].reject_stage == "validation"
    # validation_errors lists failures in rule order: defaults, then expectations
    assert json.loads(by_id["both"].validation_errors) == ["MISSING_AUTHOR_ID", "INVALID_PLAN"]


BAD_TIMES = ["2026-04-02", "2026-04-02T00:00:00", "2026-04-02 00:00:00' OR TRUE --", "", None]


@pytest.mark.parametrize("value", BAD_TIMES)
def test_malformed_as_of_ts_fails_when_the_plan_is_built(value):
    with pytest.raises(ValueError, match="as_of_ts"):
        default_rules(as_of_ts=value or "")


@pytest.mark.parametrize("value", BAD_TIMES)
def test_malformed_ingested_at_and_rejected_at(spark, value):
    raw = spark.createDataFrame([(_variant("t"),)], ["value"])
    with pytest.raises(ValueError, match="ingested_at"):
        wrap_bronze(raw, ingest_id="b", ingested_at=value or "")
    validated = validate(
        parse(wrap_bronze(raw, ingest_id="b", ingested_at=INGESTED)), as_of_ts=AS_OF
    )
    with pytest.raises(ValueError, match="rejected_at"):
        to_rejects(validated, rejected_at=value or "")


@pytest.mark.parametrize("value", ["2026-04-02 00:00:00", "2026/04/02", "04-02-2026", "x"])
def test_malformed_as_of_date_and_ingest_range(spark, value):
    raw = spark.createDataFrame([(_variant("d"),)], ["value"])
    bronze = wrap_bronze(raw, ingest_id="b", ingested_at=INGESTED)
    good, _ = transform(bronze, as_of_ts=AS_OF, rejected_at=AS_OF)
    for build in (gold.engagement_bands_daily, gold.dropoff_rate_daily, gold.stage_bottlenecks):
        with pytest.raises(ValueError, match="as_of_date"):
            build(good, value)
    with pytest.raises(ValueError, match="ingest_date_range"):
        transform(bronze, as_of_ts=AS_OF, ingest_date_range=(value, "2026-04-02"))
