"""KPI 1 writing velocity + KPI 2 revision churn (daily grain).

Capability parity: pipelines/gold/kpis_local.py:36-83; formulas documented
at docs/kpis.md:9-46. Input is the typed Silver schema (word_count /
revision_count already typed per sql/ddl/02_silver_events.sql:34-36), so no
map-extract is needed here — but the null-default semantics are preserved
exactly: words_written null→0 post-agg (kpis_local.py:46), revision_count
null→1 pre-agg (kpis_local.py:64), churn ratio zero-guarded
(kpis_local.py:70-74).

Scale notes: both KPIs are one hash-aggregate shuffle on the 5-part daily
grain; partial aggregation runs map-side, and writing partitioned by
p_event_date needs no extra shuffle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

GRAIN = ("p_event_date", "tenant_id", "author_id", "story_id", "series_id")


def writing_velocity_daily(silver: DataFrame) -> DataFrame:
    """chapters_written / words_written / avg_words_per_chapter per author-story-day."""
    return (
        silver.where("event_type = 'chapter_written'")
        .groupBy(*GRAIN)
        .agg(
            F.expr("count(*) AS chapters_written"),
            F.expr("coalesce(sum(word_count), 0) AS words_written"),
            F.expr("avg(word_count) AS avg_words_per_chapter"),
        )
    )


def revision_churn_daily(silver: DataFrame) -> DataFrame:
    """revision_events / revision_count_sum / revision_churn_index per author-story-day.

    A scene_revised event with no revisionCount metric counts as 1 revision.
    """
    return (
        silver.where("event_type = 'scene_revised'")
        .groupBy(*GRAIN)
        .agg(
            F.expr("count(*) AS revision_events"),
            F.expr("sum(coalesce(revision_count, 1)) AS revision_count_sum"),
        )
        .selectExpr(
            "*",
            "CASE WHEN revision_events = 0 THEN 0.0D"
            " ELSE revision_count_sum / revision_events END AS revision_churn_index",
        )
    )
