"""Regenerate ``expected.json``, the values the benchmark checks outputs against.

    python3 perfbench/pin.py            # both sections
    python3 perfbench/pin.py queries    # query counts only

- ``query_counts``: the row count of every ``query_mix`` panel query, from
  its DuckDB oracle SQL (the registry's ``oracle_sql``, as
  ``tools/check_oracle.py`` runs it) over ``data/sf0.01``. DuckDB is an
  independent engine, so these are a correctness oracle.
- ``curation_counts``: the stage counts ``curate_increment`` returns for each
  seed variant and batch. No second implementation exists, so these pin
  the program's own output when they were taken: they catch a change in
  behaviour, and are re-pinned only on purpose.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]
OUT = os.path.join(BENCH_DIR, "expected.json")


def pin_queries() -> dict:
    import duckdb

    from creatorops_lakehouse_spark.queries import all_oracles
    from querymix import DATA, PANEL

    data = os.path.join(BENCH_DIR, "data", DATA)
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    oracles = all_oracles()
    return {q: len(con.execute(oracles[q]).df()) for q in PANEL}


def pin_curation() -> dict:
    from creatorops_lakehouse_spark.session import build_spark
    import curation_inc

    spark = build_spark(
        "perfbench-pin", master=f"local[{len(os.sched_getaffinity(0))}]",
        **{"spark.ui.showConsoleProgress": "false"},
    )
    out = {}
    try:
        for variant in range(curation_inc.VARIANTS):
            work = tempfile.mkdtemp(prefix="perfbench-pin-")
            try:
                batches = curation_inc.stage_batches(work, variant)
                out[str(variant)] = [
                    curation_inc.admit(spark, path, os.path.join(work, "state"))
                    for path, _ in batches
                ]
            finally:
                shutil.rmtree(work, ignore_errors=True)
            print(f"variant {variant}: {out[str(variant)]}", flush=True)
    finally:
        spark.stop()
    return out


def main() -> int:
    which = sys.argv[1:] or ["queries", "curation"]
    expected = {}
    if os.path.exists(OUT):
        with open(OUT) as fh:
            expected = json.load(fh)
    if "queries" in which:
        expected["query_counts"] = pin_queries()
    if "curation" in which:
        expected["curation_counts"] = pin_curation()
    with open(OUT, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
