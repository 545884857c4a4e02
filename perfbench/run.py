"""The repo benchmark: one seeded workload through the engine's public
entry points, with its outputs checked.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. Inputs are generated under
``.perfbench/`` (base tables once, from a fixed seed; everything a
workload sends, from ``--seed``). The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it reports the same run under the
workload's own metric names, with the run environment. See README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_time_event_streaming_pipeline_spark"
DRIVER_MEM = "3g"
WORKLOADS = {"batch_faces": "batch", "stream_ingest": "stream"}
BATCH_SF = 0.01

sys.path[:0] = [HERE, ROOT]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(run_dir: str) -> dict:
    """Core count, heap and scratch locations, set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
    })
    return {"cpus": cpus, "heap": DRIVER_MEM, "tmp": tmp}


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("rows_per_batch", ".rows", "rows_dropped", "events")):
        return "rows"
    return "count"


def layer_metrics(res: dict, boot_s: float, mem: dict, e2e: dict) -> dict:
    """Every per-layer metric; the ones that do not apply to this
    workload read 0."""
    import batch
    import stream
    from tracing import OP_FIELDS, op_totals

    recs = res["records"]
    m = {"session.boot_s": boot_s, **{f"mem.{k}": v["value"] for k, v in mem.items()}}
    tot = op_totals(recs)
    for f in OP_FIELDS:
        m[f.replace("_", ".", 1)] = tot[f] / len(recs) if recs else 0.0
    layers = res.get("layers", {})
    for k in batch.LAYER_KEYS + stream.LAYER_KEYS:
        m[k] = layers.get(k, 0.0)
    for k, v in e2e.items():
        m[f"traced.{k}"] = v["value"]
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the clean-up below instead of dying in place
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2

    import datagen

    work = os.path.join(ROOT, ".perfbench")
    data_root = os.path.join(work, "data")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = pin_environment(run_dir)
    batch_dir = datagen.ensure_base(data_root, BATCH_SF)

    try:
        return run(args, work, data_root, run_dir, env, batch_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, work, data_root, run_dir, env, batch_dir) -> int:
    """One run: set-up, the workload, teardown, then the result lines."""
    workload = importlib.import_module(WORKLOADS[args.workload])
    spark = None
    try:
        # set-up: engine import, session, the workload's warm-up
        t0 = time.perf_counter()
        import pyspark

        from real_time_event_streaming_pipeline_spark.session import get_spark
        from tracing import Tracer

        conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['tmp']}",
                "spark.ui.showConsoleProgress": "false"}
        if args.trace:
            # the streaming workload's stages are read once, after the run
            conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
        spark = get_spark("perfbench", extra_conf=conf)
        boot_s = time.perf_counter() - t0
        print(f"perfbench: session up in {boot_s:.1f} s", file=sys.stderr)
        # what a workload gets: session, tracer, seed, time budget, directories
        ctx = SimpleNamespace(
            spark=spark, tracer=Tracer(spark, bool(args.trace)), seed=args.seed,
            seconds=args.seconds, run_dir=run_dir, data_root=data_root, batch_dir=batch_dir,
            package_dir=os.path.join(ROOT, PACKAGE))
        workload.warm_up(ctx)
        setup_s = time.perf_counter() - t0

        res = workload.run(ctx)
        t_run = time.perf_counter()
        jvm = spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        heap_mb = (jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
                   .getHeapMemoryUsage().getUsed() / 2**20)
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
    except Exception:  # noqa: BLE001 - no result line for a run that did not complete
        traceback.print_exc()
        if spark is not None:
            stop_spark(spark)
        return 1
    stop_spark(spark)
    print(f"perfbench: set-up {setup_s:.1f} s, workload {t_run - t0 - setup_s:.1f} s, "
          f"stop {time.perf_counter() - t_run:.1f} s", file=sys.stderr)

    e2e = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "latency_ms": {"value": res["latency_ms"], "unit": "ms"},
        "throughput_per_s": {"value": res["throughput"], "unit": "1/s"},
    }
    mem = {"peak_rss_mb": {"value": rss_mb, "unit": "MB"},
           "heap_after_gc_mb": {"value": heap_mb, "unit": "MB"}}
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in
                   layer_metrics(res, boot_s, mem, e2e).items()}
        ctx.tracer.write(os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = e2e
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": env["cpus"], "heap": env["heap"],
        "pyspark": pyspark.__version__, "time": time.time(),
        "named": {"setup_s": e2e["setup_s"], **mem,
                  **{k: {"value": v, "unit": u} for k, (v, u) in res["named"].items()}},
        "detail": res["detail"], "failures": res["failures"],
    }
    with open(os.path.join(work, "results.jsonl"), "a") as fh:
        fh.write(json.dumps({**record, "metrics": metrics}) + "\n")
    for f in res["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
