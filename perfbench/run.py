"""Benchmark of the sync product path and the curation operators.

    python3 perfbench/run.py --workload backfill_http --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Workloads:
``backfill_http`` and ``curation_queries`` (see ``perfbench/README.md``).
The last line of standard output is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` it holds the end-to-end metrics, with ``--trace 1`` the
per-layer metrics. Everything the run writes goes under ``.bench_work/``
in the checkout and is removed when the run ends, except the span file of
a traced run (``.bench_work/traces/``).
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"


def parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["backfill_http", "curation_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def set_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = str(os.cpu_count() or 4)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_STAGE_ROOT": os.path.join(work, "stage"),
        "SPARK_GRAFT_CPUS": nproc,
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.environ.pop("SPARK_GRAFT_STAGE_REUSE", None)
    time.tzset()


def start_mock() -> tuple[subprocess.Popen, int]:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "mock_api.py"),
         "--max-conns", str(os.cpu_count() or 4)],
        stdout=subprocess.PIPE, text=True)
    return proc, int(proc.stdout.readline())


def stop_proc(proc: subprocess.Popen, terminate: bool = True) -> None:
    """Wait for ``proc`` to end (after SIGTERM if ``terminate``); kill it
    if it is still running after 30 s."""
    if terminate and proc.poll() is None:
        proc.terminate()
    try:
        proc.wait(30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    with contextlib.suppress(Py4JError):
        gw.shutdown()
    gw.proc.stdin.close()   # the gateway JVM exits when its stdin closes
    stop_proc(gw.proc, terminate=False)


def main() -> int:
    t_start = time.perf_counter()
    args = parse()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    missing = [m for m in ("__spark_entry__", "redshift_to_pendo_api_data_pipeline_spark")
               if importlib.util.find_spec(m) is None]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}", file=sys.stderr)
        return 2
    bench_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_root, run_id)
    set_env(work)
    from redshift_to_pendo_api_data_pipeline_spark.session import get_spark

    import pyspark
    import workloads as W
    from spans import StatusStore, Tracer, peak_rss_mb

    print(f"perfbench host: nproc={os.cpu_count()} master={MASTER} "
          f"spark={pyspark.__version__} python={platform.python_version()}",
          file=sys.stderr)
    ctx = types.SimpleNamespace()
    ctx.seed, ctx.work, ctx.trace = args.seed, work, bool(args.trace)
    ctx.tracer = Tracer()
    cls = {"backfill_http": W.BackfillHttp,
           "curation_queries": W.CurationQueries}[args.workload]
    wl = cls(ctx)
    mock = spark = None
    phases: dict[str, float] = {}
    try:
        if wl.USES_API:
            mock, port = start_mock()
            ctx.mock = W.MockClient(port)
        wl.prepare()
        phases["prepare"] = time.perf_counter() - t_start

        t0 = time.perf_counter()
        spark = get_spark(master=MASTER)
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        ctx.tracer.sc = spark.sparkContext
        ctx.store = StatusStore(spark.sparkContext)
        if args.trace:
            wl.install()
        warm = wl.warmup()
        setup_s = time.perf_counter() - t0

        phases["setup"] = setup_s

        def attempt(i: int) -> W.Op:
            try:
                op = wl.op(i)
            except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
                W.log(f"operation {i} raised:\n{traceback.format_exc()}")
                op = W.Op(wall=0.0, ok=False)
            W.log(f"perfbench op {i}: {op.wall:.3f}s ok={op.ok}")
            return op

        t1 = time.perf_counter()
        ops = [warm] + [attempt(-2 - k) for k in range(wl.WARM_OPS)] + wl.check()
        phases["warm+check"] = time.perf_counter() - t1
        # a fixed number of timed operations, sized from --seconds, so every
        # run attempts the same number whatever the host's speed
        timed = []
        t_loop = time.perf_counter()
        for _ in range(wl.timed_ops(args.seconds)):
            # traced runs alternate untraced and traced operations, so the
            # tracing overhead is measured on the same run
            ctx.tracer.on = bool(args.trace) and len(timed) % 2 == 1
            timed.append(attempt(len(timed)))
            ctx.tracer.on = False
        ops += timed
        phases["loop"] = time.perf_counter() - t_loop
        t1 = time.perf_counter()
        ops += wl.finish()
        phases["finish"] = time.perf_counter() - t1

        attempted = len(ops)
        failed = sum(1 for o in ops if not o.ok)
        correct = not any(o.mismatch for o in ops)
        good = [o for o in timed if o.ok]
        if not args.trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (wl.op_p50(good), "s"),
                "records_per_s": (wl.records_per_s(good), "rec/s"),
                "ok_ratio": ((attempted - failed) / attempted, "fraction"),
            }
        else:
            metrics = layer_metrics(wl, good, get_spark_s,
                                    peak_rss_mb(spark.sparkContext._gateway.proc.pid))
            os.makedirs(os.path.join(bench_root, "traces"), exist_ok=True)
            ctx.tracer.dump(os.path.join(bench_root, "traces", f"{run_id}.json"))
    finally:
        if spark is not None:
            stop_spark(spark)
        if mock is not None:
            stop_proc(mock)
        shutil.rmtree(work, ignore_errors=True)
    phases["total"] = time.perf_counter() - t_start
    W.log("perfbench phases: " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()))

    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(wl, good: list, get_spark_s: float, rss_mb: float) -> dict:
    """Every per-layer metric: the median of its readings over the traced
    operations, 0 where the workload has none."""
    from metrics import PER_LAYER
    from workloads import med

    rows = wl.trace_rows(good)
    values = {name: (med([r.get(name) for r in rows]), unit) for name, unit in PER_LAYER}
    cov = [r["trace.span_coverage"] for r in rows]
    values.update({
        "session.get_spark_s": (get_spark_s, "s"),
        "spark.peak_rss_mb": (rss_mb, "MB"),
        "trace.overhead_s": (wl.trace_overhead(good), "s"),
        "trace.span_coverage_min": (min(cov) if cov else 0.0, "fraction"),
    })
    values.update(wl.extra_layers())
    return values


if __name__ == "__main__":
    sys.exit(main())
