"""KPI 5 stage bottlenecks: time spent in each workflow stage.

Capability parity: pipelines/gold/bottlenecks_local.py:23-74; formula at
docs/kpis.md:89-113. Sessionize each (tenant, story) event sequence with
lead(), derive seconds-precision stage durations, aggregate count/avg/
p50/p90/max hours per stage.

``exact_percentiles=True`` swaps percentile_approx for exact percentile —
needed when an external oracle must match bit-for-bit (SURVEY.md §5);
the approx sketch (reference default) is the 100 TB-scale choice since the
exact variant buffers each group's values.

Scale notes: one exchange for the window (hash by tenant_id+story_id, sort
by occurred_at in partition), one for the aggregate; both partial-agg
map-side. Story timelines are naturally bounded (thousands of events, not
billions), so window partitions stay small — no skew salting needed here.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from creatorops_lakehouse_spark.pipelines.gold.retention import with_as_of


def stage_bottlenecks(
    silver: DataFrame,
    as_of_date: str | None = None,
    exact_percentiles: bool = False,
) -> DataFrame:
    pct = "percentile" if exact_percentiles else "percentile_approx"
    transitions = (
        silver.where("stage IS NOT NULL")
        .selectExpr(
            "tenant_id",
            "story_id",
            "series_id",
            "occurred_at",
            "stage",
            "lead(occurred_at) OVER (PARTITION BY tenant_id, story_id"
            " ORDER BY occurred_at ASC) AS next_occurred_at",
        )
        .selectExpr(
            "*",
            "CAST(next_occurred_at AS BIGINT) - CAST(occurred_at AS BIGINT) AS duration_seconds",
        )
        .where("next_occurred_at IS NOT NULL AND duration_seconds >= 0")
        .selectExpr("*", "duration_seconds / 3600.0D AS duration_hours")
    )
    out = transitions.groupBy("tenant_id", "story_id", "series_id", "stage").agg(
        F.expr("count(*) AS stage_hops"),
        F.expr("avg(duration_hours) AS avg_hours_in_stage"),
        F.expr(f"{pct}(duration_hours, 0.5) AS p50_hours_in_stage"),
        F.expr(f"{pct}(duration_hours, 0.9) AS p90_hours_in_stage"),
        F.expr("max(duration_hours) AS max_hours_in_stage"),
    )
    return with_as_of(out, as_of_date)
