"""``curation_increment``: admit one batch of documents into a growing curation root.

The seed picks one of ``VARIANTS`` seeded orders of the shipped sf0.1
documents; set-up stages the first ``1 + MAX_OPS`` batches of ``BATCH`` of
them as parquet files and admits batch 0 untimed, which creates the state
root. One operation admits the next batch with
``curation.curate_increment``: each batch commits ``snapshot_write_txn``
appends and probes the indexes that earlier batches wrote.

Checks: the stage counts a call returns equal the pinned counts of that
variant and batch (``expected.json``), equal the manifest row the call
committed, and keep the funnel's order (in >= quality >= exact >= near-dup
>= train >= clean, clean = train - contaminated).
"""

from __future__ import annotations

import os
import random

from ledger import disk_bytes

VARIANTS = 4
BATCH = 50
MAX_OPS = 3
#: op wall on a quiet 4-core host; a run times the whole ops that fit in --seconds
NOMINAL_OP_S = 20.0
STAGES = ("n_in", "n_quality", "n_exact", "n_neardup", "n_train", "n_clean")
DOCS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents_sf0.1.parquet")


def stage_batches(work: str, variant: int) -> list[tuple[str, int]]:
    """Write the variant's batches; returns (path, text bytes) per batch."""
    import pyarrow.parquet as pq

    docs = pq.read_table(DOCS)
    order = random.Random(variant).sample(range(docs.num_rows), (1 + MAX_OPS) * BATCH)
    os.makedirs(os.path.join(work, "input"), exist_ok=True)
    out = []
    for k in range(1 + MAX_OPS):
        batch = docs.take(order[k * BATCH:(k + 1) * BATCH])
        path = os.path.join(work, "input", f"batch_{k}.parquet")
        pq.write_table(batch, path)
        text_bytes = sum(len(t.encode("utf-8")) for t in batch.column("text").to_pylist())
        out.append((path, text_bytes))
    return out


def admit(spark, path: str, state: str) -> dict:
    """One increment: the call under test, then the release of its scoped
    intermediates that operators/cache.py asks of a caller's loop."""
    from creatorops_lakehouse_spark import curation
    from creatorops_lakehouse_spark.operators import cache

    counts = curation.curate_increment(spark, spark.read.parquet(path), state)
    cache.release_scoped_caches()
    return counts


class CurationIncrement:
    def __init__(self, spark, tracer, work, seed, size, expected, bench_dir):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.variant = seed % VARIANTS
        self.pinned = expected.get("curation_counts", {}).get(str(self.variant), [])
        self.state = os.path.join(work, "state")
        self.nominal_op_s = NOMINAL_OP_S
        self.units_per_op = BATCH
        self.max_ops = min(MAX_OPS, max(len(self.pinned) - 1, 1))
        self.admitted: list[int] = []

    def sizes(self) -> dict:
        return {"docs_per_batch": BATCH, "variant": self.variant, "variants": VARIANTS}

    def setup(self) -> None:
        from creatorops_lakehouse_spark import curation
        from creatorops_lakehouse_spark.sources import snapshots

        tr = self.tracer
        tr.wrap(curation, "curate_increment", "curation")
        tr.wrap(snapshots, "snapshot_write_txn", "sources.snapshots", kind="commit")
        for read in ("snapshot_read", "current_version", "last_txn_version"):
            tr.wrap(snapshots, read, "sources.snapshots", kind="read")
        tr.count_calls(snapshots, "_commit", "sources.snapshots._commit",
                       fails_on=snapshots.SnapshotConflictError)
        self.batches = stage_batches(self.work, self.variant)
        self.setup_problems = self._check(0, admit(self.spark, self.batches[0][0], self.state))

    def run_op(self, i: int) -> dict:
        return admit(self.spark, self.batches[i + 1][0], self.state)

    def _check(self, k: int, counts: dict) -> list[str]:
        from creatorops_lakehouse_spark import curation

        self.admitted.append(k)
        bad = []
        want = self.pinned[k] if k < len(self.pinned) else None
        if counts != want:
            bad.append(f"batch {k}: counts {counts} != pinned {want}")
        rows = curation.increment_manifest(self.spark, self.state).where(
            f"batch_id = {k}").collect()
        if [r.asDict() for r in rows] != [counts]:
            bad.append(f"batch {k}: manifest rows {rows} != returned {counts}")
        funnel = [counts[s] for s in STAGES]
        if funnel[0] != BATCH or funnel != sorted(funnel, reverse=True):
            bad.append(f"batch {k}: funnel {funnel} out of order")
        if counts["n_clean"] != counts["n_train"] - counts["n_contaminated"]:
            bad.append(f"batch {k}: clean != train - contaminated in {counts}")
        return bad

    def verify(self, i: int, counts: dict) -> tuple[int, list[str]]:
        self.tracer.add_at(i, "curation.docs_in", counts["n_in"])
        self.tracer.add_at(i, "curation.docs_kept", counts["n_clean"])
        return 1, self._check(i + 1, counts)

    def finish(self) -> tuple[int, int, list[str]]:
        return 0, 0, []  # every operation was checked as it ended

    def bytes_stored(self) -> int:
        return disk_bytes(self.state)

    def input_bytes(self) -> int:
        return sum(self.batches[k][1] for k in self.admitted)
