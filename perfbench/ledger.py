"""Outside-in tracing for the benchmark: spans, Spark job groups and a job ledger.

Nothing here edits the package. The benchmark process

- opens a span around each call into a package layer (either explicitly in
  the workload code or by replacing a module attribute with a wrapper), and
  gives every span its own Spark job group, so each job Spark runs is owned
  by exactly one span;
- stamps Spark's call-site property on the DataFrame actions PySpark does
  not stamp itself (``count``, writer ``save``/``parquet`` ...), so a job's
  recorded name reads ``count at creatorops_lakehouse_spark/operators/x.py:N``;
- after each operation, waits for Spark's listener bus to drain and reads the
  JVM ``AppStatusStore`` for the jobs of every span: stages, tasks, shuffle
  bytes, spill, executor run time, records read and written.

Spans stay in memory and are written out once, when the run ends. With
tracing off every entry point is a no-op, so the untraced run measures the
program alone.
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import sys
import time

#: package files whose actions the job ledger counts by call site; a job
#: issued from any other package file counts as ``other``, one issued by the
#: benchmark's own code as ``bench``
CALLSITE_MODULES = (
    "curation",
    "operators.bpe",
    "operators.cms",
    "operators.decontam",
    "operators.dedup",
    "operators.dsir",
    "operators.graph",
    "operators.hll",
    "operators.mixing",
    "operators.packing",
    "operators.pagerank",
    "operators.profile",
    "operators.rarity",
    "operators.sampling",
    "operators.sequence",
    "operators.sessionize",
    "operators.similarity",
    "operators.skew",
    "queries",
    "queries.advanced",
    "queries.dedup",
    "queries.events",
    "queries.functions",
    "queries.graph",
    "queries.llmprep",
    "queries.relational",
    "queries.similarity",
    "queries.text",
    "queries.tpch_extra",
    "sources.snapshots",
    "sources.tables",
    "bench",
    "other",
)

#: query modules that own non-audit, oracle-backed registry queries
QUERY_MODULES = (
    "events", "advanced", "text", "similarity", "dedup", "relational",
    "llmprep", "tpch_extra", "functions", "graph",
)

_PKG_FILE = re.compile(r"creatorops_lakehouse_spark/([\w/]+)\.py:\d+")
_BENCH_DIR = os.path.dirname(os.path.abspath(__file__))

#: PySpark actions that run jobs without setting a call site (``collect``,
#: ``toPandas`` and RDD actions set their own through SCCallSiteSync)
_UNSTAMPED_ACTIONS = {
    "pyspark.sql.classic.dataframe:DataFrame": (
        "count", "isEmpty", "checkpoint", "localCheckpoint",
    ),
    "pyspark.sql.readwriter:DataFrameWriter": (
        "save", "parquet", "json", "csv", "text", "orc", "saveAsTable", "insertInto",
    ),
    "pyspark.sql.readwriter:DataFrameReader": (
        "load", "parquet", "json", "csv", "text", "orc", "table",
    ),
}

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def callsite_module(callsite: str) -> str:
    """Map a Spark job name (``<action> at <file>:<line>``) to a ledger key."""
    m = _PKG_FILE.search(callsite)
    if m:
        mod = m.group(1).replace("/", ".").removesuffix(".__init__")
        return mod if mod in CALLSITE_MODULES else "other"
    if _BENCH_DIR in callsite or "perfbench/" in callsite:
        return "bench"
    return "other"


class Span:
    __slots__ = ("id", "parent", "layer", "name", "op", "start", "end", "group", "kind", "stats")

    def __init__(self, sid, parent, layer, name, op, kind):
        self.id, self.parent, self.layer, self.name = sid, parent, layer, name
        self.op, self.kind = op, kind
        self.start = self.end = 0.0
        self.group = f"perfbench-{os.getpid()}-{sid}"
        #: own (not inclusive) Spark totals, filled by Tracer.collect
        self.stats: dict[str, float] = {}

    def as_dict(self) -> dict:
        return {
            "id": self.id, "parent": self.parent, "layer": self.layer,
            "name": self.name, "op": self.op, "kind": self.kind,
            "start": round(self.start, 6), "end": round(self.end, 6),
            "stats": self.stats,
        }


class Tracer:
    """Span recorder and Spark job ledger; inert unless ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.root = ""
        self.op: int | None = None  # index of the operation being run
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._uncollected: list[Span] = []
        self._seen_stages: set[int] = set()
        #: (op, name) -> value: counters a wrapper or workload adds
        self.counters: dict[tuple, float] = {}
        #: (path, start) of every table write, scanned for new files later
        self._writes: list[tuple[int | None, str, float]] = []

    # -- set-up ----------------------------------------------------------

    def bind(self, spark, root: str) -> None:
        """Attach to the session and stamp call sites on unstamped actions."""
        if not self.enabled:
            return
        self.sc = spark.sparkContext
        self.root = root
        import importlib

        for target, names in _UNSTAMPED_ACTIONS.items():
            mod_name, cls_name = target.split(":")
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for name in names:
                if name in vars(cls):
                    setattr(cls, name, self._stamped(name, vars(cls)[name]))

    def _stamped(self, action: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sc = tracer.sc
            if sc is None or sc.getLocalProperty("callSite.short") is not None:
                return fn(*args, **kwargs)
            caller = sys._getframe(1)
            path = caller.f_code.co_filename
            if path.startswith(tracer.root + os.sep):
                path = os.path.relpath(path, tracer.root)
            sc.setLocalProperty("callSite.short", f"{action} at {path}:{caller.f_lineno}")
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("callSite.short", None)

        return wrapper

    def wrap(self, module, attr: str, layer: str, kind: str = "", before=None) -> None:
        """Replace ``module.attr`` with a wrapper that runs it inside a span;
        ``before(*args, **kwargs)`` runs first when given."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            with self.span(layer, attr, kind=kind):
                return fn(*args, **kwargs)

        setattr(module, attr, wrapper)

    def count_calls(self, module, attr: str, name: str, fails_on: type | None = None) -> None:
        """Count calls of ``module.attr`` (and those raising ``fails_on``)."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.add(f"{name}.calls", 1)
            try:
                return fn(*args, **kwargs)
            except Exception as e:
                if fails_on is not None and isinstance(e, fails_on):
                    self.add(f"{name}.failed", 1)
                raise

        setattr(module, attr, wrapper)

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            key = (self.op, name)
            self.counters[key] = self.counters.get(key, 0) + value

    def note_write(self, path: str) -> None:
        """Remember a table path written now; its new files are counted later."""
        if self.enabled:
            self._writes.append((self.op, path, time.time()))

    # -- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str = "", kind: str = ""):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.id if parent else None, layer, name or layer, self.op, kind)
        self.spans.append(sp)
        self._uncollected.append(sp)
        prev = None
        if self.sc is not None:
            prev = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
            self.sc.setJobGroup(sp.group, f"{layer}:{sp.name}", False)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if prev is not None:
                for k, v in zip(_GROUP_KEYS, prev):
                    self.sc.setLocalProperty(k, v)

    # -- ledger ----------------------------------------------------------

    def collect(self) -> None:
        """Read the Spark ledger for every span closed since the last call.

        Runs between operations, outside any timed region."""
        if not self.enabled or self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self._uncollected:
            st = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
                  "executor_run_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                  "spill_bytes": 0, "input_records": 0, "output_records": 0}
            for jid in tracker.getJobIdsForGroup(sp.group):
                jd = store.job(jid)
                st["jobs"] += 1
                mod = callsite_module(jd.name())
                st[f"callsite.{mod}"] = st.get(f"callsite.{mod}", 0) + 1
                ids = jd.stageIds()
                for i in range(ids.length()):
                    sid = ids.apply(i)
                    if sid in self._seen_stages:
                        continue
                    sd = store.lastStageAttempt(sid)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    self._seen_stages.add(sid)
                    st["stages"] += 1
                    st["tasks"] += sd.numTasks()
                    st["failed_tasks"] += sd.numFailedTasks()
                    st["executor_run_s"] += sd.executorRunTime() / 1000.0
                    st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    st["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    st["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    st["input_records"] += sd.inputRecords()
                    st["output_records"] += sd.outputRecords()
            sp.stats = st
        self._uncollected = []
        for op, path, since in self._writes:
            files, nbytes = _new_files(path, since)
            self.add_at(op, "sources.tables.files", files)
            self.add_at(op, "sources.tables.bytes", nbytes)
        self._writes = []
        storage = sum(info.memSize() + info.diskSize() for info in jsc.getRDDStorageInfo())
        key = (self.op, "spark.storage_bytes")
        self.counters[key] = max(self.counters.get(key, 0), storage)

    def add_at(self, op, name: str, value: float) -> None:
        self.counters[(op, name)] = self.counters.get((op, name), 0) + value

    def dump(self) -> list[dict]:
        return [sp.as_dict() for sp in self.spans]


def disk_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _new_files(path: str, since: float) -> tuple[int, int]:
    """Data files under ``path`` modified at or after ``since``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime >= since - 0.05:
                n += 1
                size += st.st_size
    return n, size


def layer_metrics(tracer: Tracer, ops: list[int], op_walls: list[float], cores: int) -> dict:
    """Per-layer metrics over the timed operations ``ops``.

    Span times are inclusive; a span nested in a span of the same layer is
    not counted twice. Spark totals of a layer include its child spans."""
    n = max(len(ops), 1)
    timed = set(ops)
    by_id = {sp.id: sp for sp in tracer.spans}
    children: dict[int, list[Span]] = {}
    for sp in tracer.spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)

    def inclusive(sp: Span, key: str) -> float:
        return sp.stats.get(key, 0) + sum(inclusive(c, key) for c in children.get(sp.id, ()))

    def top(layer: str, kind: str | None = None) -> list[Span]:
        out = []
        for sp in tracer.spans:
            if sp.op not in timed or sp.layer != layer or (kind is not None and sp.kind != kind):
                continue
            p, nested = sp.parent, False
            while p is not None:
                anc = by_id[p]
                if anc.layer == layer:
                    nested = True
                    break
                p = anc.parent
            if not nested:
                out.append(sp)
        return out

    def busy(layer: str, kind: str | None = None) -> float:
        return sum(sp.end - sp.start for sp in top(layer, kind)) / n

    def jobs(layer: str) -> float:
        return sum(inclusive(sp, "jobs") for sp in top(layer)) / n

    def counter(name: str) -> float:
        return sum(v for (op, k), v in tracer.counters.items() if op in timed and k == name)

    def setup_time(layer: str) -> float:
        return sum(sp.end - sp.start for sp in tracer.spans if sp.layer == layer and sp.op is None)

    mb = 1024.0 * 1024.0
    roots = [sp for sp in tracer.spans if sp.op in timed and sp.parent is None]
    totals = {k: sum(inclusive(sp, k) for sp in roots) for k in (
        "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
        "shuffle_write_bytes", "spill_bytes")}
    silver = top("pipelines.silver")
    gold = top("pipelines.gold")
    gold_out = sum(inclusive(sp, "output_records") for sp in gold)
    snap_commits = counter("sources.snapshots._commit.calls")
    snap_conflicts = counter("sources.snapshots._commit.failed")
    sticky_calls = counter("operators.cache.sticky.calls")
    sticky_builds = counter("operators.cache.sticky.builds")
    bronze_rows = counter("pipelines.bronze.rows")
    docs_in = counter("curation.docs_in")
    storage = max((v for (op, k), v in tracer.counters.items()
                   if op in timed and k == "spark.storage_bytes"), default=0)

    m = {
        "session.start_s": (setup_time("session"), "s"),
        "generator.busy_s": (setup_time("generator"), "s"),
        "pipelines.bronze.busy_s": (busy("pipelines.bronze"), "s/op"),
        "pipelines.bronze.spark_jobs": (jobs("pipelines.bronze"), "count/op"),
        "pipelines.silver.busy_s": (busy("pipelines.silver"), "s/op"),
        "pipelines.silver.spark_jobs": (jobs("pipelines.silver"), "count/op"),
        "pipelines.silver.shuffle_mb": (
            sum(inclusive(sp, "shuffle_write_bytes") for sp in silver) / mb / n, "MB/op"),
        "pipelines.silver.accept_ratio": (
            counter("pipelines.silver.rows") / bronze_rows if bronze_rows else 0.0, "ratio"),
        "pipelines.gold.busy_s": (busy("pipelines.gold"), "s/op"),
        "pipelines.gold.spark_jobs": (jobs("pipelines.gold"), "count/op"),
        "pipelines.gold.rows_read_per_row_written": (
            sum(inclusive(sp, "input_records") for sp in gold) / gold_out if gold_out else 0.0,
            "ratio"),
        "sources.tables.write_s": (busy("sources.tables"), "s/op"),
        "sources.tables.files_written": (counter("sources.tables.files") / n, "count/op"),
        "sources.tables.bytes_written_mb": (counter("sources.tables.bytes") / mb / n, "MB/op"),
        "sources.snapshots.commit_s": (busy("sources.snapshots", "commit"), "s/op"),
        "sources.snapshots.commits": ((snap_commits - snap_conflicts) / n, "count/op"),
        "sources.snapshots.commit_retries": (snap_conflicts, "count"),
        "sources.snapshots.read_s": (busy("sources.snapshots", "read"), "s/op"),
        "curation.busy_s": (busy("curation"), "s/op"),
        "curation.kept_ratio": (
            counter("curation.docs_kept") / docs_in if docs_in else 0.0, "ratio"),
        "operators.cache.sticky_hit_ratio": (
            (sticky_calls - sticky_builds) / sticky_calls if sticky_calls else 0.0, "ratio"),
        "operators.cache.sticky_builds": (sticky_builds, "count"),
        "operators.cache.storage_mb": (storage / mb, "MB"),
    }
    for mod in QUERY_MODULES:
        m[f"queries.{mod}.busy_s"] = (busy(f"queries.{mod}"), "s/op")
        m[f"queries.{mod}.spark_jobs"] = (jobs(f"queries.{mod}"), "count/op")
    wall = sum(op_walls)
    m.update({
        "spark.jobs_per_op": (totals["jobs"] / n, "count/op"),
        "spark.stages_per_op": (totals["stages"] / n, "count/op"),
        "spark.tasks_per_op": (totals["tasks"] / n, "count/op"),
        "spark.shuffle_mb_per_op": (totals["shuffle_write_bytes"] / mb / n, "MB/op"),
        "spark.spill_mb_per_op": (totals["spill_bytes"] / mb / n, "MB/op"),
        "spark.executor_run_s_per_op": (totals["executor_run_s"] / n, "s/op"),
        "spark.failed_tasks": (totals["failed_tasks"], "count"),
        "spark.core_busy_ratio": (
            totals["executor_run_s"] / (wall * cores) if wall else 0.0, "ratio"),
    })
    for mod in CALLSITE_MODULES:
        m[f"spark.jobs_by_callsite.{mod}"] = (
            sum(inclusive(sp, f"callsite.{mod}") for sp in roots) / n, "count/op")
    return m

