"""End-to-end pipeline property tests: generator → bronze → silver → gold
over a temp lakehouse root (conservation, determinism, partition layout)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from creatorops_lakehouse_spark.generator import GeneratorConfig, generate_events
from creatorops_lakehouse_spark.pipelines.run_all import run_all
from creatorops_lakehouse_spark.sources.tables import lakehouse_specs, read_table

CFG = GeneratorConfig(seed=22, n_tenants=2, authors_per_tenant=2, stories_per_author=1, days=10)
AS_OF_TS = "2026-05-01 00:00:00"


@pytest.fixture(scope="module")
def stats_and_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lakehouse"))
    stats = run_all(
        spark, root, cfg=CFG, as_of_ts=AS_OF_TS, as_of_date="2026-05-01",
        ingested_at=AS_OF_TS,
    )
    return stats, root


def test_generator_deterministic():
    a = generate_events(CFG)
    b = generate_events(CFG)
    assert a == b
    assert len(a) > 50


def test_conservation(stats_and_root):
    stats, _ = stats_and_root
    # generator corpus is all-valid and unique → rejects 0, silver == bronze
    assert stats.reject_rows == 0
    assert stats.silver_rows == stats.bronze_rows
    assert stats.bronze_rows == len(generate_events(CFG))


def test_partition_layout(stats_and_root):
    _, root = stats_and_root
    specs = lakehouse_specs(root)
    silver_dir = specs["silver_events"].path
    parts = [d for d in os.listdir(silver_dir) if d.startswith("p_event_date=")]
    assert parts, "silver must be hive-partitioned by p_event_date"


def test_gold_tables_nonempty(stats_and_root):
    stats, _ = stats_and_root
    for name, n in stats.gold_rows.items():
        assert n > 0, f"{name} is empty"


def test_silver_stage_always_derived(stats_and_root, spark):
    _, root = stats_and_root
    silver = read_table(spark, lakehouse_specs(root)["silver_events"])
    bad = silver.filter(F.col("stage").isNull()).count()
    assert bad == 0


def test_rerun_overwrite_idempotent(spark, stats_and_root):
    stats, root = stats_and_root
    stats2 = run_all(
        spark, root, cfg=CFG, as_of_ts=AS_OF_TS, as_of_date="2026-05-01",
        ingested_at="2026-05-02 00:00:00",
    )
    # bronze appends (two batches), but silver dedups back to one copy
    assert stats2.silver_rows == stats.silver_rows
    assert stats2.gold_rows == stats.gold_rows


def test_sql_views_match_dataframe_results(spark):
    """spark.sql over register_views' temp views returns the same rows as
    the DataFrame formulation — the SQL-first usage surface is live."""
    from creatorops_lakehouse_spark.queries import register_views
    from creatorops_lakehouse_spark.queries.relational import (
        tpch_q1_pricing_summary,
    )

    sf = "/root/testdata/sf0.001"
    register_views(spark, sf)
    got = spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).collect()
    assert len(got) > 0 and all(r.n > 0 for r in got)
    # a full TPC-H-shape query agrees between the two surfaces
    df_rows = sorted(map(tuple, tpch_q1_pricing_summary(spark, sf).collect()))
    sql_rows = sorted(
        map(
            tuple,
            spark.sql(
                """
                SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
                       COUNT(*) AS count_order
                FROM lineitem
                WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
                GROUP BY 1, 2
                """
            ).collect(),
        )
    )
    got_counts = {(r[0], r[1]): r[-1] for r in df_rows}
    sql_counts = {(r[0], r[1]): r[-1] for r in sql_rows}
    assert got_counts == sql_counts


def test_declared_schemas_match_written_files(spark, tmp_path):
    """Each declared read schema in lakehouse_specs equals the schema Spark
    infers from the files run_all writes: names, types, order and (all
    nullable on a file read) nullability. An as_of_ts inside the generated
    days turns the later events into FUTURE_OCCURRED_AT rejects, so the
    rejects table has files to infer from too."""
    root = str(tmp_path / "lh")
    cfg = GeneratorConfig(seed=5, n_tenants=1, authors_per_tenant=1, stories_per_author=1, days=4)
    stats = run_all(
        spark, root, cfg=cfg, as_of_ts="2026-04-02 12:00:00", as_of_date="2026-04-03",
        ingested_at="2026-04-03 00:00:00",
    )
    assert stats.silver_rows > 0 and stats.reject_rows > 0
    declared = {k: s for k, s in lakehouse_specs(root).items() if s.schema is not None}
    assert set(declared) == {"bronze_events_raw", "silver_events", "silver_rejects"}
    for key, spec in declared.items():
        inferred = spark.read.format(spec.format).load(spec.path).schema
        assert spec.schema == inferred, key
        assert read_table(spark, spec).schema == inferred, key
