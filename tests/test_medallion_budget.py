"""Driver-cost budgets for one medallion day: bronze append, silver contract
split, five gold KPIs (the D7 daily run of ``perfbench/medallion.py``).

At a few hundred events a day the run is driver-bound: its cost is Spark
jobs, py4j round trips and Janino compiles, not data. Each budget fails on
the change that would quietly bring a cost back:

- a schema-inference read or a hidden eager action adds Spark jobs;
- a contract or projection rebuilt call by call through PySpark ``Column``s
  multiplies the py4j round trips (about 7,600 a day that way, about 750
  as SQL text);
- a codegen cache too small to hold a day recompiles the day's generated
  classes (about 50 compiles a day at Spark's default of 100 entries; the
  ones left inline that day's date and timestamp literals).
"""

from __future__ import annotations

import json
from contextlib import contextmanager

import pytest
from py4j.clientserver import ClientServerConnection

from creatorops_lakehouse_spark import generator
from creatorops_lakehouse_spark.operators.cache import release_scoped_caches
from creatorops_lakehouse_spark.pipelines import bronze, gold, silver
from creatorops_lakehouse_spark.sources.tables import lakehouse_specs, read_table, write_table

JOB_BUDGET = 16
PY4J_BUDGET = 1_000
COMPILE_BUDGET = 20
DAY_EVENTS = 240
GROUP = "medallion-day-budget"


@pytest.fixture(scope="module")
def days(tmp_path_factory):
    """Three generated days of DAY_EVENTS events each, one NDJSON file a day."""
    raw = tmp_path_factory.mktemp("medallion_raw")
    events = generator.generate_events(generator.GeneratorConfig(seed=1, n_tenants=30, days=10))
    by_day: dict[str, list[dict]] = {}
    for ev in events:
        by_day.setdefault(ev["occurredAt"][:10], []).append(ev)
    chosen = [d for d in sorted(by_day) if len(by_day[d]) >= DAY_EVENTS][:3]
    assert len(chosen) == 3
    for day in chosen:
        with open(raw / f"{day}.ndjson", "w") as fh:
            for ev in by_day[day][:DAY_EVENTS]:
                fh.write(json.dumps(ev, separators=(",", ":")) + "\n")
    return [(day, str(raw / f"{day}.ndjson")) for day in chosen]


def _run_day(spark, specs, day: str, path: str) -> None:
    ts = f"{day} 23:59:59"
    bronze.ingest_ndjson(spark, path, specs["bronze_events_raw"], ingested_at=ts)
    good, rejects = silver.transform(
        read_table(spark, specs["bronze_events_raw"]),
        as_of_ts=ts, rejected_at=ts, ingest_date_range=(day, day),
    )
    write_table(good, specs["silver_events"])
    write_table(rejects, specs["silver_rejects"])
    s = read_table(spark, specs["silver_events"])
    kpis = {
        "gold_writing_velocity": gold.writing_velocity_daily(s),
        "gold_revision_churn": gold.revision_churn_daily(s),
        "gold_engagement_bands": gold.engagement_bands_daily(s, day),
        "gold_dropoff_rate": gold.dropoff_rate_daily(s, day),
        "gold_stage_bottlenecks": gold.stage_bottlenecks(s, day),
    }
    for key, df in kpis.items():
        write_table(df, specs[key])
    release_scoped_caches()


@contextmanager
def _py4j_calls():
    """Count py4j commands the driver sends; restores the method on exit."""
    calls = [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        calls[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = send


def test_medallion_day_budgets(spark, days, tmp_path):
    sc = spark.sparkContext
    compile_time = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    specs = lakehouse_specs(str(tmp_path / "lake"))
    (day0, path0), (day1, path1), (day2, path2) = days
    # two untimed days: the first compiles every generated class cold; the
    # measured day is a later one, as in perfbench's medallion_daily
    _run_day(spark, specs, day0, path0)
    _run_day(spark, specs, day1, path1)

    compiles = compile_time.getCount()
    sc.setJobGroup(GROUP, "one medallion day under budget")
    try:
        with _py4j_calls() as calls:
            _run_day(spark, specs, day2, path2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    compiles = compile_time.getCount() - compiles
    jobs = len(sc.statusTracker().getJobIdsForGroup(GROUP))

    assert calls[0] > 0, "py4j commands were not counted"
    assert jobs <= JOB_BUDGET, f"{jobs} Spark jobs for one medallion day"
    assert calls[0] <= PY4J_BUDGET, f"{calls[0]} py4j round trips for one medallion day"
    assert compiles <= COMPILE_BUDGET, f"{compiles} Janino compiles on a repeated day"
