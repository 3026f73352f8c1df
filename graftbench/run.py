"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 graftbench/run.py --workload soql_frontdoor --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The Spark session is built the way users
build it, ``session.get_spark()`` on ``local[$(nproc)]``, with
``SPARK_GRAFT_BENCH=1`` so registry entries do not replay their DuckDB
oracle inside a timed op. Inputs are generated from the seed into a
scratch directory inside the checkout, which is removed when the run ends.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer metrics (spans around the program's public functions plus
Spark's status tracker and UI REST API). See graftbench/README.md.
"""

from __future__ import annotations

import time

_T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("soql_frontdoor", "batch_pipeline")
#: the end_to_end metrics of BENCHMARK.json: name → unit
E2E_METRICS = {
    "setup_s": "s",
    "ops_per_s": "op/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}


def process_start_time() -> float:
    """Wall-clock time this process was started (from /proc), so set-up
    time includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        ticks = os.sysconf("SC_CLK_TCK")
        return time.time() - uptime + start_ticks / ticks
    except (OSError, ValueError, IndexError):
        return _T_IMPORT


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work_dir: str) -> None:
    """The documented user settings, plus scratch space inside the checkout
    (Spark's shuffle/spill dirs, Python and JVM temp files)."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_BENCH"] = "1"
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp


def main(argv=None) -> int:
    t_start = process_start_time()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "salesforce_plugin_spark")):
        print(f"error: no salesforce_plugin_spark package next to {HERE}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_dir = os.path.join(ROOT, ".graftbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        pin_environment(work_dir)
        result = run(args, work_dir, t_start)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


def run(args, work_dir: str, t_start: float) -> dict:
    import importlib

    from graftbench import layers
    from graftbench.harness import (
        Ctx, failed_ops, latency_metrics, peak_rss_mb, tail_note,
    )
    from graftbench.trace import Tracer

    tracer = Tracer(bool(args.trace))
    if tracer.enabled:
        layers.install(tracer)
    from salesforce_plugin_spark import session

    t0 = time.time()
    extra = {"spark.ui.enabled": "true"} if tracer.enabled else None
    spark = session.get_spark("graftbench", extra_conf=extra)
    t_session = time.time() - t0
    spark.range(1).count()
    setup_s = time.time() - t_start
    wl = importlib.import_module(f"graftbench.wl_{args.workload.split('_')[0]}")
    ctx = Ctx(spark, work_dir, args.seed, args.seconds, tracer,
              spark.sparkContext.defaultParallelism)
    try:
        phases = {"setup": setup_s}
        t = time.time()
        state = wl.prepare(ctx)
        phases["inputs"] = time.time() - t
        t = time.time()
        wl.warmup(ctx, state)
        phases["warmup"] = time.time() - t
        tracer.reset()
        t = time.time()
        results, elapsed = wl.measure(ctx, state)
        phases["measure"] = time.time() - t
        t = time.time()
        wl.check(ctx, state, results)
        phases["check"] = time.time() - t
        print("# phase seconds: " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()),
              file=sys.stderr)
        failed = failed_ops(results)
        for r in failed[:5]:
            print(f"FAILED op {r.kind} {r.key[:120]!r}: {r.error or r.wrong}", file=sys.stderr)
        by_kind: dict[str, list[float]] = {}
        for r in results:
            by_kind.setdefault(r.kind, []).append(r.latency_s)
        print("# op latency (s): " + ", ".join(
            f"{k} {statistics.median(v):.3f}x{len(v)}" for k, v in sorted(by_kind.items())),
            file=sys.stderr)
        lat = latency_metrics(results, elapsed)
        print(
            f"# {args.workload} seed={args.seed}: {len(results)} ops in {elapsed:.2f}s; "
            f"{tail_note(lat)}; inputs {json.dumps(ctx.props, sort_keys=True)}"
        )
        if tracer.enabled:
            ctx.layer["peak_rss_mb"] = peak_rss_mb(spark)
            ctx.layer["warmup_s"] = phases["warmup"]
            metrics = layers.report(ctx, results, lat, t_session)
            tracer.dump(os.path.join(ROOT, ".graftbench", f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            values = {"setup_s": setup_s, **lat}
            metrics = {k: (values[k], u) for k, u in E2E_METRICS.items()}
    finally:
        tracer.unwrap_all()
        stop_spark(spark)
    return {
        "correct": not failed,
        "attempted": len(results),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    raise SystemExit(main())
