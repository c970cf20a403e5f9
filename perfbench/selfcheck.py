"""The benchmark's own check.

    python3 perfbench/selfcheck.py

1. Pins the event-log reader on one known two-stage query (a grouped count
   over ``spark.range``): exactly 2 stages and nonzero shuffle bytes.
2. Runs every workload named in BENCHMARK.json once at a tiny input size,
   untraced and traced, and asserts that the run is correct and that every
   end-to-end (untraced) and per-layer (traced) metric is present.

Exits 0 when everything holds, 1 otherwise.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

TINY = {"filter_job": 300, "rules_audit": 2000, "neardup_dedup": 200}


def check_eventlog() -> list[str]:
    import os

    from eventlog import EventLog, read_events
    from run import WORK, start_session, stop_session

    run_dir = WORK / "runs" / f"selfcheck-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        spark = start_session(run_dir, "selfcheck", 2, trace=True)
        t0 = time.time()
        spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        t1 = time.time()
        stop_session(spark)
        figures = EventLog(read_events(run_dir / "eventlog")).summarize(t0, t1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    problems = []
    if figures["spark.stages"] != 2:
        problems.append(f"two-stage query read as {figures['spark.stages']} stages")
    if not figures["spark.shuffle_write_bytes"] > 0:
        problems.append("two-stage query read with no shuffle bytes")
    return problems


def check_workload(name: str, want: dict[int, list[str]]) -> list[str]:
    problems = []
    for trace, names in want.items():
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
               "--seed", "7", "--seconds", "1", "--trace", str(trace),
               "--size", str(TINY[name])]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        if proc.returncode != 0:
            problems.append(f"{name} trace={trace}: exit {proc.returncode}: {proc.stderr[-2000:]}")
            continue
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            problems.append(f"{name} trace={trace}: result keys {sorted(result)}")
        if not result.get("correct"):
            detail = json.loads(proc.stdout.strip().splitlines()[-2])
            problems.append(f"{name} trace={trace}: incorrect: {detail['problems'][:3]}")
        missing = [m for m in names if m not in result.get("metrics", {})]
        if missing:
            problems.append(f"{name} trace={trace}: missing metrics {missing}")
    return problems


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: [m["name"] for m in spec["end_to_end"]],
            1: [m["name"] for m in spec["per_layer"]]}
    problems = check_eventlog()
    for workload in spec["workloads"]:
        problems += check_workload(workload["name"], want)
    for p in problems:
        print("FAIL", p)
    print("selfcheck:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
