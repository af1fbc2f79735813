"""``medallion_daily``: one day of generated events through the D7 incremental run.

Set-up generates a seeded event world with the package's ``generator``,
picks the days that hold at least ``DAY_EVENTS`` events, samples exactly that
many events from each (so every operation carries the same input volume),
replaces a seeded 1-in-40 of the lines with known contract violations, and
writes one NDJSON file per day. The first day is the untimed warm-up.

One operation ingests the next day:

1. ``pipelines.bronze.ingest_ndjson`` appends it to bronze;
2. ``pipelines.silver.transform(ingest_date_range=(day, day))`` splits that
   ingest date into silver events and rejects, which
   ``sources.tables.write_table`` writes;
3. the five ``pipelines.gold`` KPIs are recomputed over all of silver and
   written.

Every day's events share one event date, so the silver write (dynamic
partition overwrite on ``p_event_date``) replaces no earlier day's rows.

Outputs are checked against a reference computed here in plain Python from
the generated lines: after each timed day, the row count of each gold KPI
over all days so far; after the last, in one pass, each day's bronze rows,
silver rows and rejects per reason (silver plus rejects must account for
every bronze row).
"""

from __future__ import annotations

import json
import math
import os
import random

from ledger import disk_bytes

DAY_EVENTS = {"full": 480, "tiny": 120}
#: generator world: enough tenants that the busiest days exceed DAY_EVENTS
WORLD = {"n_tenants": 60, "days": 21}
BAD_EVERY = 40
#: injected violations, cycled over the chosen lines, by the reject reason
#: the contract must give each
VIOLATIONS = (
    "JSON_PARSE_FAILED",
    "INVALID_EVENT_TYPE",
    "MISSING_STORY_ID",
    "NON_NUMERIC_WORD_COUNT",
    "INVALID_WORD_COUNT",
)
#: untimed days before timing: the first, cold, costs three later ones; the
#: next still runs ~15% slower, which the median over the timed days absorbs
WARMUP_DAYS = 1
MAX_OPS = 8
#: op wall on a quiet 4-core host; a run times the whole ops that fit in --seconds
NOMINAL_OP_S = 4.5


def _violate(ev: dict, reason: str) -> str:
    ev = json.loads(json.dumps(ev))
    if reason == "INVALID_EVENT_TYPE":
        ev["eventType"] = "story_teleported"
    elif reason == "MISSING_STORY_ID":
        del ev["entity"]["storyId"]
    elif reason == "NON_NUMERIC_WORD_COUNT":
        ev["metrics"] = {"wordCount": "many"}
    elif reason == "INVALID_WORD_COUNT":
        ev["metrics"] = {"wordCount": -5}
    line = json.dumps(ev, separators=(",", ":"))
    return line[:-1] if reason == "JSON_PARSE_FAILED" else line


def gold_reference(valid: list[dict], stage_of: dict) -> dict:
    """Row count of each gold KPI over ``valid`` silver events, from the KPI
    grains (pipelines/gold). ``gold_stage_bottlenecks`` is a (low, high)
    range: when a story's last events share a timestamp, which one has no
    successor is not fixed."""
    velocity, churn, bands, dropoff = set(), set(), set(), set()
    stories: dict[tuple, list] = {}
    for e in valid:
        day, ten, ent, et = e["occurredAt"][:10], e["tenant"], e["entity"], e["eventType"]
        grain4 = (day, ten["tenantId"], ent["storyId"], ent["seriesId"])
        grain5 = (day, ten["tenantId"], ten["authorId"], ent["storyId"], ent["seriesId"])
        if et == "chapter_written":
            velocity.add(grain5)
        elif et == "scene_revised":
            churn.add(grain5)
        elif et == "reader_engagement":
            score = float(e["metrics"]["engagementScore"])
            bands.add(grain4 + (math.floor(min(max(score, 0.0), 100.0) / 10.0) * 10,))
            dropoff.add(grain4)
        elif et == "reader_dropoff":
            dropoff.add(grain4)
        stories.setdefault((ten["tenantId"], ent["storyId"]), []).append(
            (e["occurredAt"], stage_of[et], ent["seriesId"]))
    lo = hi = 0
    for evs in stories.values():
        last = max(ts for ts, _, _ in evs)
        options = set()
        for cand in {x for x in evs if x[0] == last}:
            rest = list(evs)
            rest.remove(cand)
            options.add(len({(stage, series) for _, stage, series in rest}))
        lo, hi = lo + min(options), hi + max(options)
    return {
        "gold_writing_velocity": (len(velocity),) * 2,
        "gold_revision_churn": (len(churn),) * 2,
        "gold_engagement_bands": (len(bands),) * 2,
        "gold_dropoff_rate": (len(dropoff),) * 2,
        "gold_stage_bottlenecks": (lo, hi),
    }


class MedallionDaily:
    def __init__(self, spark, tracer, work, seed, size, expected, bench_dir):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.n = DAY_EVENTS[size]
        self.nominal_op_s = NOMINAL_OP_S
        self.units_per_op = self.n
        self.raw = os.path.join(work, "raw")
        self.lake = os.path.join(work, "lakehouse")
        self.days: list[str] = []
        self.valid_by_day: dict[str, list[dict]] = {}
        self.rejects_by_day: dict[str, dict[str, int]] = {}
        self.ingested: list[str] = []
        self.timed: dict[int, str] = {}
        self.gold_problems: dict[str, list[str]] = {}

    def sizes(self) -> dict:
        return {"events_per_day": self.n, "violations_per_day": self.n // BAD_EVERY,
                "days_available": len(self.days), "world": WORLD}

    def setup(self) -> None:
        from creatorops_lakehouse_spark import generator
        from creatorops_lakehouse_spark.pipelines import bronze
        from creatorops_lakehouse_spark.schemas import STAGE_BY_EVENT_TYPE
        from creatorops_lakehouse_spark.sources import tables

        tr = self.tracer
        tr.wrap(generator, "generate_events", "generator")
        note = lambda df, spec, *a, **k: tr.note_write(spec.path)  # noqa: E731
        tr.wrap(bronze, "write_table", "sources.tables", before=note)
        tr.wrap(tables, "write_table", "sources.tables", before=note)
        self.stage_of = STAGE_BY_EVENT_TYPE
        self.specs = tables.lakehouse_specs(self.lake)

        events = generator.generate_events(generator.GeneratorConfig(seed=self.seed, **WORLD))
        by_day: dict[str, list[dict]] = {}
        for ev in events:
            by_day.setdefault(ev["occurredAt"][:10], []).append(ev)
        self.days = [d for d in sorted(by_day) if len(by_day[d]) >= self.n]
        os.makedirs(self.raw)
        for k, day in enumerate(self.days):
            rng = random.Random(self.seed * 1_000_003 + k)
            chosen = sorted(rng.sample(by_day[day], self.n),
                            key=lambda e: (e["occurredAt"], e["eventId"]))
            bad = sorted(rng.sample(range(self.n), self.n // BAD_EVERY))
            reasons = {j: VIOLATIONS[m % len(VIOLATIONS)] for m, j in enumerate(bad)}
            with open(self._path(day), "w") as fh:
                for j, ev in enumerate(chosen):
                    if j in reasons:
                        fh.write(_violate(ev, reasons[j]) + "\n")
                    else:
                        fh.write(json.dumps(ev, separators=(",", ":")) + "\n")
            self.valid_by_day[day] = [ev for j, ev in enumerate(chosen) if j not in reasons]
            counts: dict[str, int] = {}
            for r in reasons.values():
                counts[r] = counts.get(r, 0) + 1
            self.rejects_by_day[day] = counts
        if len(self.days) <= WARMUP_DAYS:
            raise RuntimeError(f"seed {self.seed}: only {len(self.days)} days with {self.n} events")
        self.max_ops = min(MAX_OPS, len(self.days) - WARMUP_DAYS)
        # warm-up, untimed; finish() checks its rows with the timed days'
        for day in self.days[:WARMUP_DAYS]:
            self._ingest(day)
        self.setup_problems: list[str] = []

    def _path(self, day: str) -> str:
        return os.path.join(self.raw, f"{day}.ndjson")

    def _ingest(self, day: str) -> None:
        from creatorops_lakehouse_spark.operators import cache
        from creatorops_lakehouse_spark.pipelines import bronze, gold, silver
        from creatorops_lakehouse_spark.sources import tables

        spark, specs, tr = self.spark, self.specs, self.tracer
        ts = f"{day} 23:59:59"
        with tr.span("pipelines.bronze"):
            bronze.ingest_ndjson(spark, self._path(day), specs["bronze_events_raw"], ingested_at=ts)
        with tr.span("pipelines.silver"):
            good, rejects = silver.transform(
                tables.read_table(spark, specs["bronze_events_raw"]),
                as_of_ts=ts, rejected_at=ts, ingest_date_range=(day, day),
            )
            tables.write_table(good, specs["silver_events"])
            tables.write_table(rejects, specs["silver_rejects"])
        with tr.span("pipelines.gold"):
            s = tables.read_table(spark, specs["silver_events"])
            kpis = {
                "gold_writing_velocity": gold.writing_velocity_daily(s),
                "gold_revision_churn": gold.revision_churn_daily(s),
                "gold_engagement_bands": gold.engagement_bands_daily(s, day),
                "gold_dropoff_rate": gold.dropoff_rate_daily(s, day),
                "gold_stage_bottlenecks": gold.stage_bottlenecks(s, day),
            }
            for key, df in kpis.items():
                tables.write_table(df, specs[key])
        # operators/cache.py asks a caller's loop to drop scoped
        # intermediates once their outputs are written
        cache.release_scoped_caches()
        self.ingested.append(day)

    def run_op(self, i: int) -> str:
        day = self.days[i + WARMUP_DAYS]
        self._ingest(day)
        return day

    def verify(self, op: int, day: str) -> tuple[int, list[str]]:
        """Check the gold KPIs now, before the next day recomputes them;
        ``finish`` counts the problems with the day's other checks, which
        wait for one pass over every day (a pass after each day cost 0.8 s
        of the run)."""
        from pyspark.errors import AnalysisException

        from creatorops_lakehouse_spark.sources import tables

        self.timed[op] = day
        problems = self.gold_problems.setdefault(day, [])
        valid = [ev for d in self.ingested for ev in self.valid_by_day[d]]
        for key, (lo, hi) in gold_reference(valid, self.stage_of).items():
            try:
                got = tables.read_table(self.spark, self.specs[key]).count()
            except AnalysisException:
                got = 0  # an empty KPI writes a directory with no schema to read
            if not lo <= got <= hi:
                problems.append(f"{day}: {key} rows {got} not in [{lo}, {hi}]")
        return 0, []

    def finish(self) -> tuple[int, int, list[str]]:
        """Check every day ingested, the warm-up day too: bronze rows of the
        day, silver rows, rejects per reason (silver plus rejects must equal
        bronze), plus the gold problems ``verify`` found after the day.
        Returns the days checked, those with a wrong output, and one line
        per wrong output."""
        import pyspark.sql.functions as F

        from creatorops_lakehouse_spark.sources import tables

        spark, specs = self.spark, self.specs

        def by_day(key: str, col: str, *extra: str) -> dict:
            rows = (tables.read_table(spark, specs[key])
                    .groupBy(F.col(col).cast("string"), *extra).count().collect())
            return {tuple(r[:-1]): r[-1] for r in rows}

        bronze = by_day("bronze_events_raw", "p_ingest_date")
        silver = by_day("silver_events", "p_event_date")
        rejects: dict[str, dict[str, int]] = {}
        for (day, reason), n in by_day("silver_rejects", "p_ingest_date", "reject_reason").items():
            rejects.setdefault(day, {})[reason] = n
        days = self.ingested
        bad_days = 0
        bad: list[str] = []
        for day in days:
            n_bronze, n_silver = bronze.get((day,), 0), silver.get((day,), 0)
            got_rejects = rejects.get(day, {})
            problems = []
            if n_bronze != self.n:
                problems.append(f"{day}: bronze rows {n_bronze} != {self.n}")
            if n_silver + sum(got_rejects.values()) != n_bronze:
                problems.append(f"{day}: silver {n_silver} + rejects "
                                f"{sum(got_rejects.values())} != bronze {n_bronze}")
            if n_silver != len(self.valid_by_day[day]):
                problems.append(f"{day}: silver rows {n_silver} != {len(self.valid_by_day[day])}")
            if got_rejects != self.rejects_by_day[day]:
                problems.append(f"{day}: rejects {got_rejects} != {self.rejects_by_day[day]}")
            problems += self.gold_problems.get(day, [])
            bad_days += bool(problems)
            bad.extend(problems)
        for op, day in self.timed.items():
            self.tracer.add_at(op, "pipelines.bronze.rows", bronze.get((day,), 0))
            self.tracer.add_at(op, "pipelines.silver.rows", silver.get((day,), 0))
        return len(days), bad_days, bad

    def bytes_stored(self) -> int:
        return disk_bytes(self.lake)

    def input_bytes(self) -> int:
        return sum(os.path.getsize(self._path(d)) for d in self.ingested)
