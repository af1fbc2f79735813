"""KPI 3 engagement score bands + KPI 4 dropoff rate (daily grain).

Capability parity: pipelines/gold/retention_local.py:28-101; formulas at
docs/kpis.md:49-86. Band function: clamp score to [0,100], floor to decile,
null score → null band (retention_local.py:28-34). Dropoff rate: full outer
join of engagement vs dropoff daily counts, null-filled, zero-guarded ratio
(retention_local.py:91-99).

Scale notes: the full outer join shuffles both pre-aggregated (small) sides
on the 4-part key — the expensive scan/agg happens before the join, so the
join input is already reduced by the daily grain.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from creatorops_lakehouse_spark.schemas import sql_date

GRAIN = ("p_event_date", "tenant_id", "story_id", "series_id")


def band_10(score: str) -> str:
    """Decile band of the SQL expression ``score``: 0-9→0, 10-19→10, …,
    90-100→90; null→null."""
    clamped = f"least(greatest({score}, 0.0D), 100.0D)"
    return f"CASE WHEN {score} IS NULL THEN NULL ELSE floor({clamped} / 10.0D) * 10.0D END"


def with_as_of(df: DataFrame, as_of_date: str | None) -> DataFrame:
    """Append the ``as_of_date`` stamp; None stamps the wall-clock date."""
    stamp = "current_date()" if as_of_date is None else sql_date("as_of_date", as_of_date)
    return df.selectExpr("*", f"{stamp} AS as_of_date")


def engagement_bands_daily(silver: DataFrame, as_of_date: str | None = None) -> DataFrame:
    """engagement_events / avg_score_in_band per story-day-band."""
    return with_as_of(
        silver.where("event_type = 'reader_engagement'")
        .selectExpr("*", f"{band_10('engagement_score')} AS score_band")
        .groupBy(*GRAIN, "score_band")
        .agg(
            F.expr("count(*) AS engagement_events"),
            F.expr("avg(engagement_score) AS avg_score_in_band"),
        ),
        as_of_date,
    )


def dropoff_rate_daily(silver: DataFrame, as_of_date: str | None = None) -> DataFrame:
    """dropoff_rate = dropoffs / (engagements + dropoffs) per story-day."""
    eng = (
        silver.where("event_type = 'reader_engagement'")
        .groupBy(*GRAIN)
        .agg(F.expr("count(*) AS engagement_events"))
    )
    drp = (
        silver.where("event_type = 'reader_dropoff'")
        .groupBy(*GRAIN)
        .agg(F.expr("count(*) AS dropoff_events"))
    )
    return with_as_of(
        eng.join(drp, on=list(GRAIN), how="full")
        .na.fill(0, subset=["engagement_events", "dropoff_events"])
        .selectExpr(
            "*",
            "engagement_events + dropoff_events AS total_events",
            "CASE WHEN engagement_events + dropoff_events = 0 THEN 0.0D"
            " ELSE dropoff_events / (engagement_events + dropoff_events) END AS dropoff_rate",
        ),
        as_of_date,
    )
