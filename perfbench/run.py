"""Benchmark of the creatorops lakehouse engine: one command, three workloads.

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 23 --trace 0

Runs from the root of a checkout, imports the package from that checkout,
and keeps every file it writes under ``.perfbench/`` there. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The exit code is 0 only when every
output check passed. See ``perfbench/README.md`` for the design.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "creatorops_lakehouse_spark"
WORKLOADS = ("medallion_daily", "query_mix", "curation_increment")
THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
               "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS")
MB = 1024.0 * 1024.0
#: most full collections held_memory runs while waiting for the heap to settle
HEAP_SETTLE_ROUNDS = 8


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny shrinks inputs for the smoke test")
    ap.add_argument("--expected", default=os.path.join(BENCH_DIR, "expected.json"),
                    help="pinned output values to check against")
    return ap.parse_args(argv)


def descendants() -> dict[int, tuple[str, int]]:
    """``pid -> (command name, resident bytes)`` of this process and all its
    descendants (the driver JVM and its Python workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    me = os.getpid()
    procs: dict[int, tuple[int, str, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        procs[int(name)] = (int(fields[1]), head.split("(", 1)[1], int(fields[21]) * page)
    out = {}
    for pid, (_, comm, rss) in procs.items():
        p = pid
        while p and p != me:
            p = procs.get(p, (0,))[0]
        if p == me:
            out[pid] = (comm, rss)
    return out


def held_memory(spark) -> tuple[int, dict]:
    """Memory the run still holds once its timed operations are over: the
    JVM heap in use after a full collection, plus JVM non-heap (metaspace,
    code cache), plus the proportional set size of the Python processes.

    Work moved into caches or state shows here. The JVM's own resident size
    does not repeat: how far G1 grows the heap, and how much native memory
    the allocator keeps, follow GC timing and moved the raw peak by a third
    between runs of the same code and seed. Python workers are forked from
    one daemon and share most pages; PSS counts each shared page once, so
    one worker more or less alive at the end moves the sum by its private
    pages only.

    A collection frees the driver's last references to broadcasts and
    shuffles, and Spark's ContextCleaner then removes their blocks on its own
    thread; one collection read at once caught that clean-up half done and
    moved the heap in use by 70 MB between runs. So Python's references go
    first, then collections repeat until the heap in use settles."""
    gc.collect()  # drops py4j handles, so the JVM objects they pin are garbage
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = None
    for _ in range(HEAP_SETTLE_ROUNDS):
        jvm.java.lang.System.gc()
        last, heap = heap, mem.getHeapMemoryUsage().getUsed()
        if last is not None and abs(heap - last) < MB:
            break
        time.sleep(0.5)
    parts = {"jvm_heap": heap,
             "jvm_non_heap": mem.getNonHeapMemoryUsage().getCommitted(), "python": []}
    for pid, (comm, _) in descendants().items():
        if comm == "java":
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                parts["python"].append(next(int(line.split()[1]) * 1024 for line in fh
                                            if line.startswith("Pss:")))
        except OSError:  # the process ended meanwhile
            pass
    total = parts["jvm_heap"] + parts["jvm_non_heap"] + sum(parts["python"])
    return total, parts


class RssSampler(threading.Thread):
    """Peak resident size of the process tree, sampled five times a second."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, sum(rss for _, rss in descendants().values()))
            self._stop_evt.wait(0.2)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def pin_environment(nproc: int, work: str) -> None:
    """Threads at most nproc; every scratch file inside the checkout."""
    for var in THREAD_VARS:
        cur = os.environ.get(var, "")
        if not cur.isdigit() or not 0 < int(cur) <= nproc:
            os.environ[var] = str(nproc)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def load_workload(name: str):
    if name == "medallion_daily":
        from medallion import MedallionDaily as cls
    elif name == "query_mix":
        from querymix import QueryMix as cls
    else:
        from curation_inc import CurationIncrement as cls
    return cls


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package beside {BENCH_DIR}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(args.expected) as fh:
        expected = json.load(fh)
    nproc = len(os.sched_getaffinity(0))
    state_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(nproc, work)
    sys.path[:0] = [ROOT, BENCH_DIR]
    os.chdir(work)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        from ledger import Tracer, layer_metrics

        tracer = Tracer(bool(args.trace))
        from creatorops_lakehouse_spark import session

        tracer.wrap(session, "build_spark", "session")
        spark = session.build_spark(
            f"perfbench-{args.workload}", master=f"local[{nproc}]",
            **{"spark.ui.showConsoleProgress": "false"},
        )
        tracer.bind(spark, ROOT)
        wl = load_workload(args.workload)(
            spark=spark, tracer=tracer, work=work, seed=args.seed,
            size=args.size, expected=expected, bench_dir=BENCH_DIR,
        )
        wl.setup()
        setup_s = time.perf_counter() - T_START
        tracer.collect()

        walls: list[float] = []
        problems: list[str] = list(wl.setup_problems)
        attempted = failed = len(problems)
        units = 0
        # the same number of operations in every run, whatever the host's
        # speed: the whole ones that fit in --seconds at the workload's
        # nominal op wall, at least one
        n_ops = max(1, min(wl.max_ops, int(args.seconds // wl.nominal_op_s)))
        for i in range(n_ops):
            tracer.op = i
            t0 = time.perf_counter()
            try:
                with tracer.span("op", f"{args.workload}[{i}]"):
                    result = wl.run_op(i)
            except Exception as e:  # noqa: BLE001 - report, stop, keep the output
                walls.append(time.perf_counter() - t0)
                attempted += 1
                failed += 1
                problems.append(f"op {i} raised {type(e).__name__}: {e}"[:400])
                break
            walls.append(time.perf_counter() - t0)
            tracer.collect()
            tracer.op = None
            n_att, bad = wl.verify(i, result)
            attempted += n_att
            failed += len(bad)
            problems.extend(bad)
            units += wl.units_per_op
        tracer.op = None
        n_att, n_bad, bad = wl.finish()
        attempted += n_att
        failed += n_bad
        problems.extend(bad)
        raw_peak = sampler.stop()
        held, held_parts = held_memory(spark)
        stored = wl.bytes_stored() / wl.input_bytes()
        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "nproc": nproc,
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "pyspark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "sizes": wl.sizes(), "ops": len(walls), "op_walls_s": [round(w, 4) for w in walls],
            "raw_peak_rss_mb": round(raw_peak / MB, 1),
            "held_mb": {k: [round(x / MB, 1) for x in v] if isinstance(v, list) else round(v / MB, 1)
                        for k, v in held_parts.items()},
        }
        stop_spark(spark)
        spark = None
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (statistics.median(walls), "s"),
        "throughput_per_s": (units / sum(walls), "1/s"),
        "peak_rss_mb": (held / MB, "MB"),
        "bytes_stored_per_input_byte": (stored, "B/B"),
    }
    results = os.path.join(state_dir, "results")
    os.makedirs(results, exist_ok=True)
    untraced_file = os.path.join(results, f"{args.workload}-{args.size}-untraced.json")
    if args.trace:
        layers = layer_metrics(tracer, list(range(len(walls))), walls, nproc)
        overhead = _overhead(e2e, untraced_file)
        with open(os.path.join(results, f"trace-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"stamp": stamp, "per_layer": _fmt(layers), "end_to_end_traced": _fmt(e2e),
                       "tracing_overhead": overhead, "spans": tracer.dump()}, fh, indent=1)
        print("# tracing overhead " + json.dumps(overhead, sort_keys=True))
        # the result line carries the per-layer metrics BENCHMARK.json
        # declares; the trace file keeps them all
        declared = os.path.join(ROOT, "BENCHMARK.json")
        if os.path.exists(declared):
            with open(declared) as fh:
                names = {m["name"] for m in json.load(fh)["per_layer"]}
            layers = {k: v for k, v in layers.items() if k in names}
        metrics = layers
    else:
        with open(untraced_file, "w") as fh:
            json.dump({"stamp": stamp, "end_to_end": _fmt(e2e)}, fh, indent=1)
        metrics = e2e
    for p in problems:
        print(f"# check failed: {p}")
    print("# perfbench " + json.dumps(stamp, sort_keys=True))
    correct = failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed,
                      "metrics": _fmt(metrics)}))
    return 0 if correct else 1


def _fmt(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def _overhead(traced: dict, untraced_file: str) -> dict:
    """Traced minus untraced end-to-end metrics, against the last untraced run
    of the same workload in this checkout (``null`` when there is none)."""
    base = {}
    if os.path.exists(untraced_file):
        with open(untraced_file) as fh:
            base = {k: v["value"] for k, v in json.load(fh)["end_to_end"].items()}
    out = {}
    for k, (v, unit) in traced.items():
        b = base.get(k)
        out[k] = {"traced": v, "untraced": b, "unit": unit,
                  "delta": None if b is None else v - b,
                  "delta_share": None if not b else (v - b) / b}
    return out


if __name__ == "__main__":
    sys.exit(main())
