"""Closed-loop load generation, statistics and Spark-side counters.

A workload hands the harness a list of :class:`Op` per round. Single-client
workloads run whole rounds until the measuring time is used up, so every
run times the same mix of op types. Multi-client workloads pull ops from a
shared seeded stream: each client sends its next op only after the
previous one returned, and stops taking new ops once the time is up.
"""

from __future__ import annotations

import json
import math
import os
import resource
import statistics
import threading
import time
import traceback
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass, field

from graftbench.trace import Tracer


@dataclass
class Op:
    """One unit of work. ``fn`` returns whatever ``check`` later needs."""

    kind: str
    key: str
    fn: Callable[[], object]
    #: called with fn's return value once the op's latency is taken
    after: Callable[[object], object] | None = None
    #: workload bookkeeping carried over to the result (e.g. the round)
    meta: dict | None = None


@dataclass
class OpResult:
    kind: str
    key: str
    op_id: str
    start: float
    latency_s: float
    value: object = None
    error: str | None = None
    wrong: str | None = None
    meta: dict | None = None


@dataclass
class Ctx:
    spark: object
    work_dir: str
    seed: int
    seconds: float
    tracer: Tracer
    cores: int
    props: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    _seq: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def op_dir(self, tag: str) -> str:
        """A fresh per-op path under the run's work dir."""
        with self._lock:
            self._seq += 1
            n = self._seq
        return os.path.join(self.work_dir, "ops", f"{tag}-{n:05d}")


def run_one(ctx: Ctx, op: Op, op_id: str) -> OpResult:
    sc = ctx.spark.sparkContext
    if ctx.tracer.enabled:
        sc.setJobGroup(op_id, op.key)
    t0 = time.perf_counter()
    try:
        with ctx.tracer.op(op_id), ctx.tracer.span(f"op.{op.kind}"):
            value = op.fn()
        latency = time.perf_counter() - t0
        if op.after is not None:
            value = op.after(value)
        return OpResult(op.kind, op.key, op_id, t0, latency, value, meta=op.meta)
    except Exception as e:  # noqa: BLE001 - a failed op is counted, never dropped
        return OpResult(
            op.kind, op.key, op_id, t0, time.perf_counter() - t0,
            error=f"{type(e).__name__}: {e}"[:400] + "\n" + traceback.format_exc(limit=3)[-400:],
            meta=op.meta,
        )


def run_rounds(ctx: Ctx, make_round: Callable[[int], list[Op]], phase: str,
               min_rounds: int = 1) -> tuple[list[OpResult], float]:
    """Whole rounds, one client, until ``ctx.seconds`` have elapsed and at
    least ``min_rounds`` rounds ran."""
    results: list[OpResult] = []
    t0 = time.perf_counter()
    r = 0
    while r < min_rounds or time.perf_counter() - t0 < ctx.seconds:
        for i, op in enumerate(make_round(r)):
            results.append(run_one(ctx, op, f"{phase}-{r}-{i}"))
        r += 1
    return results, time.perf_counter() - t0


def run_clients(ctx: Ctx, ops: list[Op], clients: int, phase: str,
                seconds: float) -> tuple[list[OpResult], float]:
    """``clients`` closed-loop threads over the shared op stream, taking
    new ops until ``seconds`` have passed."""
    results: list[OpResult] = []
    lock = threading.Lock()
    nxt = [0]
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client() -> None:
        while True:
            with lock:
                i = nxt[0]
                if i >= len(ops) or time.perf_counter() >= deadline:
                    return
                nxt[0] += 1
            res = run_one(ctx, ops[i], f"{phase}-{i}")
            with lock:
                results.append(res)

    threads = [threading.Thread(target=client, name=f"client-{c}") for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if nxt[0] >= len(ops):
        raise RuntimeError("op stream exhausted before the time was up; generate more ops")
    return results, time.perf_counter() - t0


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def tail(latencies: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has ``beyond`` samples above it:
    the (n - beyond)-th smallest latency. Returns (value, percentile, n)."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples for the tail, got {n}")
    k = n - beyond  # 1-based rank of the reported sample
    return xs[k - 1], 100.0 * k / n, n


def latency_metrics(results: list[OpResult], elapsed: float) -> dict:
    """Ops completed per second of the timed phase, and per-op latency."""
    lat = [r.latency_s for r in results]
    value, pct, n = tail(lat)
    return {
        "ops_per_s": len(results) / elapsed,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": value,
        "tail_percentile": pct,
        "tail_samples": n,
    }


def tail_note(lat: dict) -> str:
    """Names the percentile and sample count behind ``latency_tail_s``."""
    return (f"latency_tail_s is p{lat['tail_percentile']:.1f} of "
            f"{lat['tail_samples']} samples (10 beyond)")


def failed_ops(results: list[OpResult]) -> list[OpResult]:
    """Ops that raised or whose result failed its check."""
    return [r for r in results if r.error or r.wrong]


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


# --------------------------------------------------------------------------
# Spark-side counters (traced run only)
# --------------------------------------------------------------------------

def tracker_counts(spark, results: list[OpResult]) -> dict:
    """Jobs, stages and tasks per op from the public status tracker (one
    job group per op)."""
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for r in results:
        for jid in st.getJobIdsForGroup(r.op_id):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stages += 1
                si = st.getStageInfo(sid)
                tasks += si.numTasks if si else 0
    n = max(1, len(results))
    return {"exec.jobs_per_op": jobs / n, "exec.stages_per_op": stages / n,
            "exec.tasks_per_op": tasks / n}


def _rest(spark, path: str):
    url = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{url}/api/v1/applications/{app}{path}", timeout=30) as r:
        return json.loads(r.read())


def _ts_ms(s: str | None) -> float | None:
    if not s:
        return None
    import datetime as dt

    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1000


def rest_metrics(spark, results: list[OpResult], cores: int) -> dict:
    """Task time, shuffle, spill, GC, scheduling overhead and queue wait of
    the timed ops, from the Spark UI REST API."""
    groups = {r.op_id: r for r in results}
    jobs = [j for j in _rest(spark, "/jobs") if j.get("jobGroup") in groups]
    stage_job: dict[int, dict] = {}
    for j in jobs:
        for sid in j.get("stageIds", []):
            stage_job[sid] = j
    per_op_task_ms: dict[str, float] = {g: 0.0 for g in groups}
    run_ms = shuffle_b = spill_b = gc_ms = 0.0
    first_launch: dict[int, float] = {}
    for s in _rest(spark, "/stages?status=complete"):
        j = stage_job.get(s["stageId"])
        if j is None:
            continue
        run_ms += s.get("executorRunTime", 0)
        per_op_task_ms[j["jobGroup"]] += s.get("executorRunTime", 0)
        shuffle_b += s.get("shuffleWriteBytes", 0)
        spill_b += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        gc_ms += s.get("jvmGcTime", 0)
        launched = _ts_ms(s.get("firstTaskLaunchedTime"))
        if launched is not None:
            jid = j["jobId"]
            first_launch[jid] = min(first_launch.get(jid, math.inf), launched)
    waits = []
    for j in jobs:
        sub = _ts_ms(j.get("submissionTime"))
        if sub is not None and j["jobId"] in first_launch:
            waits.append(max(0.0, first_launch[j["jobId"]] - sub) / 1000.0)
    overhead = [
        r.latency_s - per_op_task_ms[r.op_id] / 1000.0 / cores for r in results
    ]
    return {
        "exec.task_time_s": run_ms / 1000.0,
        "exec.shuffle_write_mb": shuffle_b / 1e6,
        "exec.spill_mb": spill_b / 1e6,
        "exec.gc_s": gc_ms / 1000.0,
        "exec.sched_overhead_s": statistics.median(overhead) if overhead else 0.0,
        "exec.queue_wait_s": statistics.median(waits) if waits else 0.0,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
