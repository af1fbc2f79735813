"""``query_mix``: a panel of registry queries over the shipped sf0.01 tables.

One operation runs every query of ``PANEL`` back to back, each to completion
with ``count()``, in an order drawn from the seed. The panel takes queries
from every ``queries/`` module that has non-audit queries (``curation`` and
``medallion`` hold only ``*_verdict`` audits, which write tables, so they
are left out). Set-up copies the tables into the run's directory and runs
one untimed panel, so the session-lived caches (``operators.cache`` sticky
entries) are warm, as in a long-lived session.

Each query's row count is checked against the count its DuckDB oracle SQL
gives on the same tables (pinned in ``expected.json`` by ``pin.py``).
"""

from __future__ import annotations

import os
import random
import shutil

from ledger import disk_bytes

#: fixed panel: 30 queries from every query module, including sticky-cache
#: users (the dedup shingle table, the graph trade edges).
#: Mostly sub-second queries, so a panel stays near 10 s and the run fits
#: the benchmark's time budget with one untimed and one timed panel.
PANEL = (
    "events_late_flag_counts", "events_value_variance", "events_daily_type_counts",
    "events_sessionize_lead_stats", "events_trailing_30min_spend", "events_key_skew_report",
    "events_rolling_7d_user_cents", "orders_scd2_priority_history",
    "tpch_q13_order_count_distribution",
    "docs_quality_signals", "docs_token_stats_by_lang", "docs_bpe_top_merges",
    "docs_frame_sample",
    "emb_label_norm_stats", "emb_int8_quantization_stats",
    "docs_fingerprint_dedup_seeded", "docs_exact_dedup_clusters", "docs_containment_neardup_pairs",
    "tpch_q6_forecast_revenue", "tpch_q1_pricing_summary",
    "customers_without_orders_antijoin", "orders_rank_topk_per_customer",
    "docs_chunk_windows", "docs_pii_scan", "docs_dsir_importance_resample",
    "tpch_q19_disjunctive_revenue", "tpch_q15_top_supplier",
    "events_hourly_histogram", "part_type_regex_extract",
    "graph_degree_histogram",
)
TINY_PANEL = 8
MAX_OPS = 8
#: op wall on a quiet 4-core host; a run times the whole ops that fit in --seconds
NOMINAL_OP_S = 12.0
DATA = "sf0.01"


class QueryMix:
    def __init__(self, spark, tracer, work, seed, size, expected, bench_dir):
        self.spark, self.tracer = spark, tracer
        self.src = os.path.join(bench_dir, "data", DATA)
        self.tables = os.path.join(work, DATA)
        self.pinned = expected["query_counts"]
        panel = PANEL if size == "full" else PANEL[:TINY_PANEL]
        self.order = random.Random(seed).sample(panel, len(panel))
        self.nominal_op_s = NOMINAL_OP_S
        self.units_per_op = len(self.order)
        self.max_ops = MAX_OPS
        self.setup_problems: list[str] = []

    def sizes(self) -> dict:
        return {"queries_per_panel": len(self.order), "tables": DATA, "order": self.order}

    def setup(self) -> None:
        from creatorops_lakehouse_spark.operators import cache
        from creatorops_lakehouse_spark.queries import REGISTRY, _ensure_imported

        _ensure_imported()
        self.fns = {q: REGISTRY[q].fn for q in self.order}
        self.modules = {q: REGISTRY[q].fn.__module__.rsplit(".", 1)[1] for q in self.order}
        tr = self.tracer
        if tr.enabled:
            build = cache.sticky_persist

            def sticky_persist(key, builder):
                tr.add("operators.cache.sticky.calls", 1)
                if key not in cache._STICKY:
                    tr.add("operators.cache.sticky.builds", 1)
                return build(key, builder)

            cache.sticky_persist = sticky_persist
        shutil.copytree(self.src, self.tables)
        self.setup_problems = self.verify(None, self.run_op(None))[1]  # warm-up panel

    def run_op(self, i) -> dict:
        counts: dict[str, object] = {}
        for q in self.order:
            with self.tracer.span(f"queries.{self.modules[q]}", q):
                try:
                    counts[q] = self.fns[q](self.spark, self.tables).count()
                except Exception as e:  # noqa: BLE001 - a failed query is a failed check
                    counts[q] = f"{type(e).__name__}: {e}"[:300]
        return counts

    def verify(self, i, counts: dict) -> tuple[int, list[str]]:
        bad = []
        for q, got in counts.items():
            want = self.pinned.get(q)
            if got != want:
                bad.append(f"{q}: {got} rows, oracle {want}")
        return len(counts), bad

    def finish(self) -> tuple[int, int, list[str]]:
        return 0, 0, []  # every operation was checked as it ended

    def bytes_stored(self) -> int:
        return disk_bytes(self.tables)

    def input_bytes(self) -> int:
        return disk_bytes(self.src)
