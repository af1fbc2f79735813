"""Smoke test of the benchmark itself, at tiny sizes (about four minutes).

    python3 perfbench/smoke.py

Checks that every workload, ``curation_increment`` included, prints every
end-to-end metric of BENCHMARK.json with its unit; that a traced run
prints every per-layer metric, writes its trace file and reports the
tracing overhead; that a
deliberately wrong pinned value is reported as a failed check with a
non-zero exit; and that a directory holding only the benchmark (no
package) makes it exit non-zero without a result line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SCRATCH = os.path.join(ROOT, ".perfbench", "smoke")


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=300)
    return proc.returncode, proc.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


def check_metrics(out: dict, spec: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want, f"metrics differ: missing {set(want) - set(got)}, extra {set(got) - set(want)}"
    for k, v in out["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)

    from run import WORKLOADS

    for w in WORKLOADS:  # curation_increment too, though BENCHMARK.json leaves it out
        code, lines = run(w, 0)
        out = result(lines)
        assert code == 0 and out["correct"] and out["failed"] == 0, (w, code, lines[-3:])
        check_metrics(out, bench["end_to_end"])
        print(f"ok   {w}: end-to-end metrics with units, outputs correct")

    code, lines = run("medallion_daily", 1)
    out = result(lines)
    assert code == 0 and out["correct"], lines[-3:]
    check_metrics(out, bench["per_layer"])
    assert any(line.startswith("# tracing overhead ") for line in lines)
    assert os.path.exists(os.path.join(ROOT, ".perfbench", "results",
                                       "trace-medallion_daily-seed7.json"))
    print("ok   medallion_daily --trace 1: per-layer metrics, trace file, overhead")

    with open(os.path.join(BENCH_DIR, "expected.json")) as fh:
        expected = json.load(fh)
    from querymix import PANEL, TINY_PANEL

    victim = PANEL[TINY_PANEL - 1]
    expected["query_counts"][victim] += 1
    wrong = os.path.join(SCRATCH, "expected-wrong.json")
    with open(wrong, "w") as fh:
        json.dump(expected, fh)
    code, lines = run("query_mix", 0, "--expected", wrong)
    out = result(lines)
    assert code != 0 and not out["correct"] and out["failed"] >= 1, (code, lines[-3:])
    assert any(victim in line for line in lines if line.startswith("# check failed"))
    check_metrics(out, bench["end_to_end"])
    print(f"ok   query_mix with a wrong pinned count for {victim}: reported as failed")

    bare = os.path.join(SCRATCH, "bare")
    shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, lines = run("medallion_daily", 0, cwd=bare)
    assert code != 0 and not any(line.startswith("{") for line in lines), (code, lines)
    print("ok   without the package: non-zero exit, no result line")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, BENCH_DIR)
    sys.exit(main())
