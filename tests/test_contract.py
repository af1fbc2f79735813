"""Contract-split tests: one malformed fixture per reject reason
(FIXTURES.md A2; taxonomy parity with reference transform_local.py:157-169
plus the documented D3/D4 extensions)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from creatorops_lakehouse_spark.pipelines.bronze import wrap_bronze
from creatorops_lakehouse_spark.pipelines.silver import transform

VALID = {
    "eventId": "20260401T0800AAAA0001",
    "eventType": "chapter_written",
    "eventVersion": 1,
    "occurredAt": "2026-04-01T08:00:00Z",
    "stage": "WRITE",
    "tenant": {"tenantId": "tnt_001", "authorId": "auth_001_001", "plan": "pro"},
    "entity": {"seriesId": "ser_001_001", "storyId": "sto_001_001_01", "chapterId": "ch_01"},
    "producer": {"service": "creatorops-sim", "env": "dev", "region": "local", "traceId": "t-1"},
    "metrics": {"wordCount": 1200},
    "metadata": {"persona": "steady"},
}

AS_OF = "2026-04-02 00:00:00"
INGESTED = "2026-04-02 00:00:00"


def _variant(eid, **changes):
    ev = json.loads(json.dumps(VALID))
    ev["eventId"] = eid
    for dotted, value in changes.items():
        parts = dotted.split(".")
        node = ev
        for p in parts[:-1]:
            node = node[p]
        if value is None:
            node.pop(parts[-1], None)
        else:
            node[parts[-1]] = value
    return json.dumps(ev)


CASES = [
    ("JSON_PARSE_FAILED", "parsing", "{not json"),
    ("MISSING_EVENT_ID", "validation", _variant("x", **{"eventId": None})),
    ("MISSING_EVENT_TYPE", "validation", _variant("e2", **{"eventType": None})),
    ("INVALID_EVENT_TYPE", "enum_check", _variant("e3", **{"eventType": "story_deleted"})),
    ("MISSING_EVENT_VERSION", "validation", _variant("e4", **{"eventVersion": None})),
    ("INVALID_EVENT_VERSION", "validation", _variant("e5", **{"eventVersion": 0})),
    ("INVALID_OCCURRED_AT", "validation", _variant("e6", **{"occurredAt": "not-a-time"})),
    ("MISSING_OCCURRED_AT", "validation", _variant("e7", **{"occurredAt": None})),
    ("MISSING_TENANT_ID", "validation", _variant("e8", **{"tenant.tenantId": None})),
    ("MISSING_AUTHOR_ID", "validation", _variant("e9", **{"tenant.authorId": None})),
    ("MISSING_STORY_ID", "validation", _variant("e10", **{"entity.storyId": None})),
    ("INVALID_WORD_COUNT", "metric_check", _variant("e11", **{"metrics.wordCount": -5})),
    (
        "INVALID_REVISION_COUNT",
        "metric_check",
        _variant("e17", **{"metrics.revisionCount": -1}),
    ),
    # ANSI-mode regression guards: present-but-non-numeric metric strings must
    # quarantine, not throw CAST_INVALID_INPUT (contract.py uses try_cast).
    ("NON_NUMERIC_WORD_COUNT", "metric_check", _variant("e14", **{"metrics.wordCount": "abc"})),
    (
        "NON_NUMERIC_REVISION_COUNT",
        "metric_check",
        _variant("e15", **{"metrics.revisionCount": "many"}),
    ),
    (
        "NON_NUMERIC_ENGAGEMENT_SCORE",
        "metric_check",
        _variant("e16", **{"metrics.engagementScore": "high"}),
    ),
    (
        "INVALID_ENGAGEMENT_SCORE",
        "metric_check",
        _variant(
            "e12",
            **{"eventType": "reader_engagement", "metrics.engagementScore": 150},
        ),
    ),
    ("FUTURE_OCCURRED_AT", "validation", _variant("e13", **{"occurredAt": "2026-04-02T01:00:00Z"})),
]


@pytest.fixture(scope="module")
def split(spark):
    lines = [json.dumps(VALID)] + [raw for _, _, raw in CASES]
    raw_df = spark.createDataFrame([(line,) for line in lines], ["value"])
    bronze = wrap_bronze(raw_df, ingest_id="batch-1", ingested_at=INGESTED)
    good, bad = transform(bronze, as_of_ts=AS_OF, rejected_at=AS_OF)
    return good.collect(), bad.collect()


def test_good_rows_pass(split):
    good, _ = split
    assert len(good) == 1
    row = good[0]
    assert row.event_id == VALID["eventId"]
    assert row.word_count == 1200
    assert row.stage == "WRITE"  # derived, matches producer here
    assert row.metadata_map["producerStage"] == "WRITE"
    assert row.is_late_event is False


def test_conservation(split):
    good, bad = split
    assert len(good) + len(bad) == 1 + len(CASES)


@pytest.mark.parametrize("reason,stage,_raw", CASES, ids=[c[0] for c in CASES])
def test_reject_reason_and_stage(split, reason, stage, _raw):
    _, bad = split
    matching = [r for r in bad if r.reject_reason == reason]
    assert matching, f"no reject with reason {reason}: {[r.reject_reason for r in bad]}"
    assert matching[0].reject_stage == stage


def test_validation_errors_collects_all_failures(spark):
    # missing tenantId AND authorId → both reasons in validation_errors JSON
    raw = _variant("multi", **{"tenant.tenantId": None, "tenant.authorId": None})
    bronze = wrap_bronze(
        spark.createDataFrame([(raw,)], ["value"]), ingest_id="b", ingested_at=INGESTED
    )
    _, bad = transform(bronze, as_of_ts=AS_OF, rejected_at=AS_OF)
    row = bad.collect()[0]
    errors = json.loads(row.validation_errors)
    assert set(errors) == {"MISSING_TENANT_ID", "MISSING_AUTHOR_ID"}
    assert row.reject_reason == "MISSING_TENANT_ID"  # priority order


def test_stage_derivation_overrides_producer(spark):
    # D2: producer claims stage=DRAFT on a chapter_written → derived WRITE wins,
    # producer value preserved in metadata_map
    raw = _variant("stg", **{"stage": "DRAFT"})
    bronze = wrap_bronze(
        spark.createDataFrame([(raw,)], ["value"]), ingest_id="b", ingested_at=INGESTED
    )
    good, _ = transform(bronze, as_of_ts=AS_OF, rejected_at=AS_OF)
    row = good.collect()[0]
    assert row.stage == "WRITE"
    assert row.metadata_map["producerStage"] == "DRAFT"


def test_late_event_flag(spark):
    raw = _variant("late", **{"occurredAt": "2026-03-20T08:00:00Z"})  # 13 days early
    bronze = wrap_bronze(
        spark.createDataFrame([(raw,)], ["value"]), ingest_id="b", ingested_at=INGESTED
    )
    good, _ = transform(bronze, as_of_ts=AS_OF, rejected_at=AS_OF)
    assert good.collect()[0].is_late_event is True


def test_dedup_keeps_latest(spark):
    raw = json.dumps(VALID)
    b1 = wrap_bronze(
        spark.createDataFrame([(raw,)], ["value"]),
        ingest_id="b1", ingested_at="2026-04-02 00:00:00",
    )
    b2 = wrap_bronze(
        spark.createDataFrame([(raw,)], ["value"]),
        ingest_id="b2", ingested_at="2026-04-03 00:00:00",
    )
    good, _ = transform(b1.unionByName(b2), as_of_ts="2026-04-03 01:00:00")
    rows = good.collect()
    assert len(rows) == 1
    assert rows[0].ingest_id == "b2"  # latest ingested_at wins (D1)


def test_dedup_idempotent_reingest(spark):
    # property: ingesting the same batch twice yields identical silver
    raw = json.dumps(VALID)
    b1 = wrap_bronze(
        spark.createDataFrame([(raw,)], ["value"]),
        ingest_id="b1", ingested_at="2026-04-02 00:00:00",
    )
    once, _ = transform(b1, as_of_ts=AS_OF)
    twice, _ = transform(b1.unionByName(b1), as_of_ts=AS_OF)
    assert once.count() == twice.count() == 1
