"""Repo benchmark: one workload per process, closed loop, checked outputs.

    python3 perfbench/run.py --workload rules_audit --seed 1 --seconds 6 --trace 0

Runs from the root of a checkout. The process builds (or reuses) the
seeded input and its oracle, starts one Spark driver at ``local[N]`` (N =
the CPUs in this process's affinity set), runs WARMUP_OPS warm-up
operations and then runs operations back to back until they have run
for ``--seconds`` seconds and at least MIN_OPS of them have run; every
operation's output is checked against the oracle (checks are not timed).
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it carries the details (host,
input sizes, quartiles, per-operation times, set-up parts, problems).

Input building, the oracle and the checks run in one helper child process,
so their memory never counts toward the driver's peak RSS; the helper
builds the input while the driver starts its session. On every way out the
run stops each process it started, directly or not, and waits for it.

``--trace 0`` reports the end-to-end metrics: ``run_s`` (median seconds of
one operation), ``peak_rss_mb`` (peak RSS of the Python driver plus the
JVM) and ``setup_s`` (wall time from the start of set-up (input, oracle,
session) to the end of the warm-up operations). The details add
``rows_per_s`` (input rows / run_s) and ``out_bytes_per_in_byte`` (bytes an
operation delivers / input bytes).
``--trace 1`` reports the per-layer metrics instead: spans around the
package's public functions, a py4j call counter and Spark's own event log
and SQL metrics, folded per operation (see spans.py and eventlog.py).
"""

from __future__ import annotations

import argparse
import ctypes
import functools
import json
import os
import pickle
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

WORK = HERE / "_work"
WARMUP_OPS = 1
# The JVM's heap grows over the first operations, so peak RSS depends on
# how many have run; a floor on the count keeps it from following the
# host's speed.
MIN_OPS = 3
DRIVER_MEMORY = "2g"
HEAP_OPTS = f"-Xms{DRIVER_MEMORY} -Xmn256m"
UNITS = {"run_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}
COUNTS = ["py4j.calls", "sources.checkpoint.batches", "engine.metric_jobs",
          "engine.sample_jobs", "operators.compile.calls"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", type=int, default=0, help="input size (0 = workload default)")
    return p.parse_args(argv)


def vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


@functools.cache
def java_version() -> str:
    return subprocess.run(["java", "-version"], capture_output=True, text=True).stderr


def host_info(cpus: list[int]) -> dict:
    import pyspark

    java = java_version()
    return {
        "affinity_cpus": cpus,
        "master": f"local[{len(cpus)}]",
        "driver_memory": DRIVER_MEMORY,
        "heap_opts": HEAP_OPTS,
        "spark": pyspark.__version__,
        "java": java.splitlines()[0] if java else "unknown",
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def start_session(run_dir: Path, workload: str, cpus: int, trace: bool):
    """One driver at local[cpus] with get_spark's settings but for the
    JVM's heap sizes; every file Spark, the JVM and the Python workers write
    stays under ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # JVM heap sizes set through get_spark's own environment knobs: a 2g
    # heap (its default is 8g), committed from the start, with a fixed
    # 256 MB young generation. Without them G1 grows the heap and sizes the
    # young generation from measured pause times, so the JVM's peak RSS
    # follows the host's speed. Measured on 4 vCPUs: neardup_dedup, one
    # seed at 8g: 1988 and 2375 MB; filter_job, 3 seeds at 2g without
    # -Xmn: 1206-1575 MB; rules_audit, 10 seeds at 2g with -Xmn256m:
    # 1053-1338 MB, and 6 of them with -Xms2g as well: 1346-1413 MB.
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} {HEAP_OPTS}"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    conf = {
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (run_dir / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    from gchq_data_quality_spark.sources.session import get_spark

    spark = get_spark(cores=cpus, app_name=f"perfbench-{workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM (it exits when its stdin closes;
    the Python worker daemon exits with it) and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


# ---- the helper child process: input, oracle and checks -----------------
_HELPER: dict = {}


def helper_setup(workload: str, run_dir: str, seed: int, size: int) -> dict:
    """Build (or find) the input and compute (or load) its oracle; both stay
    in the helper for the checks. Returns the input's meta."""
    import workloads

    w = workloads.WORKLOADS[workload](Path(run_dir))
    meta = w.build(WORK / "inputs", seed, size)
    _HELPER.update(w=w, meta=meta, oracle=w.oracle(meta))
    return meta


def helper_check(payload) -> tuple[list[str], int]:
    """(problems, bytes delivered) of one operation's output."""
    w, meta = _HELPER["w"], _HELPER["meta"]
    try:
        return w.check(payload, _HELPER["oracle"], meta), w.out_bytes(payload)
    except Exception:  # an unreadable output is a wrong one
        return [traceback.format_exc(limit=3)], 0


class Helper:
    """The helper child process, ``run.py --helper``: one request at a time,
    pickled over its stdin and stdout. A plain pipe pair, not a
    multiprocessing pool, whose semaphores start a resource-tracker process
    that outlives the run."""

    def __init__(self):
        self.proc = subprocess.Popen([sys.executable, str(Path(__file__).resolve()), "--helper"],
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE)

    def submit(self, fn, *args) -> None:
        pickle.dump((fn.__name__, args), self.proc.stdin)
        self.proc.stdin.flush()

    def result(self):
        ok, value = pickle.load(self.proc.stdout)
        if not ok:
            raise RuntimeError(f"helper failed:\n{value}")
        return value

    def call(self, fn, *args):
        self.submit(fn, *args)
        return self.result()

    def close(self) -> None:
        """Close its stdin (it exits on end of input) and wait for it."""
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def helper_main() -> int:
    requests = sys.stdin.buffer
    replies = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)  # stray prints go to stderr, not into the replies
    while True:
        try:
            name, args = pickle.load(requests)
        except EOFError:
            return 0
        try:
            reply = (True, globals()[name](*args))
        except Exception:
            reply = (False, traceback.format_exc())
        pickle.dump(reply, replies)
        replies.flush()


# ---- every process the run starts ends with it ---------------------------
def become_subreaper() -> None:
    """Descendants orphaned during the run (the JVM's Python worker daemon
    and its workers, when the JVM exits first) are reparented to this
    process rather than to init, so end_descendants can reap them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants() -> list[int]:
    parent = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                stat = (d / "stat").read_text()
            except OSError:  # ended meanwhile
                continue
            parent[int(d.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    found, frontier = [], [os.getpid()]
    while frontier:
        top = frontier.pop()
        kids = [pid for pid, ppid in parent.items() if ppid == top]
        found += kids
        frontier += kids
    return found


def end_descendants(grace_s: float = 10.0) -> None:
    """Stop every process still below this one (SIGTERM, then SIGKILL after
    ``grace_s``) and reap each, so none outlives the run."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            if not descendants():
                return
            time.sleep(0.05)


def quartiles(values: list[float]) -> dict:
    if len(values) >= 2:
        q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    else:
        q1 = q2 = q3 = values[0]
    return {"median": q2, "q1": q1, "q3": q3, "n": len(values)}


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    become_subreaper()
    os.environ["TZ"] = "UTC"
    time.tzset()
    import gchq_data_quality_spark  # noqa: F401  (fails outside a full checkout)
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    cpus = sorted(os.sched_getaffinity(0))
    run_dir = WORK / "runs" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    trace = bool(args.trace)
    spark = None
    helper = None
    try:
        helper = Helper()
        # ---- set-up: input + oracle in the helper while the session starts,
        # then the warm-up operations
        t_setup = time.perf_counter()
        w = workloads.WORKLOADS[args.workload](run_dir)
        size = args.size or w.size
        helper.submit(helper_setup, args.workload, str(run_dir), args.seed, size)
        spark = start_session(run_dir, args.workload, len(cpus), trace)
        session_s = time.perf_counter() - t_setup
        meta = helper.result()
        input_s = time.perf_counter() - t_setup
        tracer = Tracer()
        if trace:
            w.wrap(tracer)
            tracer.count_py4j(spark.sparkContext._gateway._gateway_client)
        failed = 0
        problems: list[str] = []
        outs: list[int] = []

        def run_op(i: int, traced: bool) -> tuple[float, tuple[float, float]]:
            nonlocal failed
            tracer.enabled, tracer.op = traced, i
            wall0, t = time.time(), time.perf_counter()
            try:
                result = tracer.call("op", w.op, spark, meta, i)
            except Exception:  # a failed operation counts, the run goes on
                result, errs = None, [traceback.format_exc(limit=3)]
            dt, wall1 = time.perf_counter() - t, time.time()
            tracer.enabled = False
            if result is not None:
                payload = w.plain(result)
                errs, out_bytes = helper.call(helper_check, payload)
                outs.append(out_bytes)
                w.done(payload)
            if errs:
                failed += 1
                problems.extend(f"op {i}: {e}" for e in errs[:5])
            return dt, (wall0, wall1)

        # warm-up: the first operation pays the one-time costs (Python
        # workers, code generation, class loading: 14-25 s on 4 vCPUs, five
        # times a later operation); the JIT keeps tiering up over the next
        # few, but more warm-up does not fit a run's time budget
        warmup = [run_op(-k, False)[0] for k in range(WARMUP_OPS)]
        setup_s = time.perf_counter() - t_setup

        # ---- closed loop: one operation at a time until the operations
        # (not their checks) have run for --seconds and MIN_OPS of them
        # have run. A traced run orders its operations untraced, traced,
        # traced, untraced, ... and runs whole groups of four, so the JIT
        # still speeding up later operations does not read as tracing
        # overhead (overhead = the difference of the traced and untraced
        # medians)
        ops = []  # (index, seconds, wall window, traced)
        while True:
            done = sum(op[1] for op in ops) >= args.seconds and len(ops) >= MIN_OPS
            if done and (not trace or len(ops) % 4 == 0):
                break
            i = len(ops) + 1
            traced = trace and i % 4 in (2, 3)
            dt, window = run_op(i, traced)
            ops.append((i, dt, window, traced))
        rss = {"driver": vm_hwm_mb("self"), "jvm": vm_hwm_mb(spark.sparkContext._gateway.proc.pid)}
        stop_session(spark)
        spark = None

        times = [dt for _, dt, _, traced in ops if not traced]
        stats = quartiles(times)
        detail = {
            "workload": args.workload, "why": w.why, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "host": host_info(cpus),
            "input": {"rows": meta["rows"], "bytes": meta["bytes"], "size": size,
                      "cache_hit": meta["cache_hit"]},
            "run_s": stats,
            "rows_per_s": meta["rows"] / stats["median"],
            "ops_s": [dt for _, dt, _, _ in ops],
            "out_bytes_per_in_byte": statistics.median(outs) / meta["bytes"] if outs else None,
            "setup": {"setup_s": setup_s, "session_s": session_s, "input_ready_s": input_s,
                      "warmup_s": warmup},
            "peak_rss_mb": rss,
            "problems": problems[:20],
        }
        if trace:
            metrics = per_layer(tracer, run_dir / "eventlog", ops,
                                ["op"] + [s for wl in workloads.WORKLOADS.values() for s in wl.spans])
        else:
            metrics = {
                "run_s": stats["median"],
                "peak_rss_mb": rss["driver"] + rss["jvm"],
                "setup_s": setup_s,
            }
        result = {
            "correct": failed == 0,
            "attempted": len(ops) + WARMUP_OPS,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": UNITS.get(k) or unit_of(k)}
                        for k, v in metrics.items()},
        }
        results_dir = WORK / "results"
        results_dir.mkdir(parents=True, exist_ok=True)
        (results_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
            json.dumps(detail | {"result": result}, indent=1))
        print(json.dumps(detail))
        print(json.dumps(result))
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark)
            if helper is not None:
                helper.close()
        finally:
            end_descendants()
            shutil.rmtree(run_dir, ignore_errors=True)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.startswith("python.bytes"):
        return "bytes"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def per_layer(tracer, log_dir: Path, ops, spans: list[str]) -> dict[str, float]:
    """Per-operation means over the traced operations."""
    from eventlog import FIELDS, EventLog, read_events

    log = EventLog(read_events(log_dir))
    traced_ops = [op for op in ops if op[3]]
    acc = dict.fromkeys(
        [f"{s}_s" for s in spans] + [f"{s}.self_s" for s in spans] + COUNTS + list(FIELDS),
        0.0,
    )
    attributed = 0.0
    for i, dt, (w0, w1), _ in traced_ops:
        inclusive, self_time, calls = tracer.fold(i)
        for name in spans:
            acc[f"{name}_s"] += inclusive.get(name, 0.0)
            acc[f"{name}.self_s"] += self_time.get(name, 0.0)
        acc["operators.compile.calls"] += calls.get("operators.compile", 0)
        acc["py4j.calls"] += tracer.py4j_calls.get(i, 0)
        acc["sources.checkpoint.batches"] += batches(tracer, i)
        for name, value in log.summarize(w0, w1).items():
            acc[name] += value
        for span in tracer.op_spans(i):
            if span["name"] == "engine.compute_metrics":
                sample = log.jobs_of_sql_between(span["t0"], span["t1"], is_sample_plan)
                every = log.jobs_of_sql_between(span["t0"], span["t1"], lambda plan: True)
                acc["engine.sample_jobs"] += sample
                acc["engine.metric_jobs"] += every - sample
        # self times partition the operation's wall time; the root's self
        # time is the part no named layer accounts for
        attributed += 1 - self_time["op"] / inclusive["op"]
    n = len(traced_ops)
    out = {k: v / n for k, v in acc.items()}
    traced_med = statistics.median(dt for _, dt, _, traced in ops if traced)
    untraced_med = statistics.median(dt for _, dt, _, traced in ops if not traced)
    out.update({
        "trace.op_s": traced_med,
        "trace.untraced_op_s": untraced_med,
        "trace.overhead_s": traced_med - untraced_med,
        "trace.attributed_frac": attributed / n,
    })
    return out


def is_sample_plan(plan: str) -> bool:
    """Failing-record samples are limit queries; the metric pass is not."""
    return "Limit" in plan


def batches(tracer, op: int) -> int:
    """Batches of one checkpointed run: annotate calls made under it."""
    spans = tracer.spans

    def under_checkpoint(span) -> bool:
        while span["parent"] is not None:
            span = spans[span["parent"]]
            if span["name"] == "sources.checkpoint.run_checkpointed":
                return True
        return False

    return sum(1 for s in tracer.op_spans(op)
               if s["name"] == "pipeline.annotate" and under_checkpoint(s))


if __name__ == "__main__":
    sys.exit(helper_main() if sys.argv[1:] == ["--helper"] else main())
