"""Benchmark entry point.

    python3 perfbench/run.py --workload bi_queries --seed 1 --seconds 8 \\
        --trace 0

Runs one workload (see ``workloads.py``) in this process on
``local[<cores>]`` against inputs generated from ``--seed``, then
prints two JSON lines: a detail object (named figures, host
calibration, load averages, errors) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` installs span wrappers
around the engine's layer calls and reports the per-layer metrics,
writing every span to ``.perfbench_traces/`` under the checkout.

Everything the run writes (inputs, table directories, Spark scratch,
JVM and Python temp files) lives under ``.perfbench_work/`` in the
checkout and is removed at exit.  Exits 2 without a result when the
engine package is not beside this directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

import spans  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: end-to-end metrics and units (trace 0); mirrors BENCHMARK.json
E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "read_p50_s": "s",
    "ops_per_s": "1/s",
}

#: per-layer metrics and units (trace 1); mirrors BENCHMARK.json
LAYER = {
    "session.get_spark_s": "s",
    "sources.input_bytes": "bytes/op",
    **{f"plans.{f}.{part}_s": "s" for f in workloads.BI_FACES
       for part in ("build", "exec")},
    **{f"plans.sql.{k}_s": "s" for k in workloads.BI_SQL},
    "plans.jobs": "count/op",
    "plans.tasks": "count/op",
    "plans.tasks_failed": "count/op",
    "plans.shuffle_bytes": "bytes/op",
    "plans.spill_bytes": "bytes/op",
    "plans.task_busy_s": "s/op",
    "plans.core_utilization": "ratio",
    "caching.persisted_frames": "count/op",
    "caching.release_s": "s",
    **{f"statements.graft_sql_s.{k}": "s" for k in workloads.CYCLE},
    "manifest.load_s": "s",
    "manifest.versions_per_cycle": "count",
    "manifest.live_files": "count",
    "manifest.point_rows_examined": "ratio",
    "manifest.bytes_written_per_commit": "bytes",
    "manifest.optimize_s": "s",
    "manifest.bytes_rewritten": "bytes",
    "manifest.space_amp": "ratio",
    "trace.bookkeeping_s": "s/op",
}

#: driver JVM heap (the engine's session factory reads it)
DRIVER_MEM = "2g"
YOUNG_MEM = "512m"

RUNNERS = {"bi_queries": workloads.bi_queries,
           "table_dml": workloads.table_dml}


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    dirs = {d: os.path.join(work, d) for d in ("tmp", "spark-local",
                                               "warehouse", "catalog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "GRAFT_CATALOG_DIR": dirs["catalog"],
        # the launcher JVM and the driver JVM: temp dir, no hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} "
                             "-XX:-UsePerfData",
        # a fixed heap and young generation, so peak RSS tracks what the
        # driver keeps rather than G1's resizing decisions
        "PYSPARK_SUBMIT_ARGS": f"--conf spark.sql.warehouse.dir="
                               f"{dirs['warehouse']} --driver-java-options "
                               f"'-Xms{DRIVER_MEM} -Xmn{YOUNG_MEM}' "
                               "pyspark-shell",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    import tempfile

    tempfile.tempdir = dirs["tmp"]


def _vmhwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _calibration(spark, work: str) -> dict[str, float]:
    """Fixed-shape host probe: a pure-codegen hash aggregate and a small
    parquet scan-aggregate; the same work in every run and commit, so a
    drift in these figures is the host, not the engine."""
    from pyspark.sql import functions as F

    src = os.path.join(work, "calibration")
    workloads.datagen.generate(src, 0, 0.001, only=("lineitem",))
    out = {}
    t0 = time.perf_counter()
    (spark.range(20_000_000)
     .select(F.hash("id").cast("long").alias("h"))
     .agg(F.sum("h"), F.count(F.lit(1)))
     .write.format("noop").mode("overwrite").save())
    out["codegen_agg_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    (spark.read.parquet(os.path.join(src, "lineitem.parquet"))
     .agg(F.sum("l_extendedprice"), F.count(F.lit(1)))
     .write.format("noop").mode("overwrite").save())
    out["parquet_scan_s"] = time.perf_counter() - t0
    return out


def _layers(ctx: workloads.Context, tr: spans.Tracer) -> dict[str, float]:
    """Layer figures every workload shares: Spark's stage counters over
    the timed window, cache releases, and the tracer's own cost, each
    per timed operation (the window holds a varying number of whole
    passes or cycles)."""
    first, last = ctx.first_timed_op, ctx.last_timed_op
    timed = [s for s in tr.spans if first <= s["op"] <= last
             and not s["name"].startswith("bench.")]
    total = {k: sum(s["counters"].get(k, 0) for s in timed)
             for k in ("tasks", "tasks_failed", "shuffle_bytes",
                       "spill_bytes", "task_busy_ms")}
    busy = total["task_busy_ms"] / 1000.0
    rel = [s for s in timed if s["name"] == "caching.release_scoped"]
    ops = max(1, last - first + 1)
    (job0, book0), (job1, book1) = ctx.window_marks
    return {
        "plans.jobs": (job1 - job0) / ops,
        "plans.tasks": total["tasks"] / ops,
        "plans.tasks_failed": total["tasks_failed"] / ops,
        "plans.shuffle_bytes": total["shuffle_bytes"] / ops,
        "plans.spill_bytes": total["spill_bytes"] / ops,
        "plans.task_busy_s": busy / ops,
        "plans.core_utilization": busy / (ctx.timed_s * ctx.cores),
        "caching.persisted_frames": sum(s["released"] for s in rel) / ops,
        "caching.release_s": workloads.median(
            [s["end"] - s["start"] for s in rel]),
        "trace.bookkeeping_s": (book1 - book0) / ops,
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - any wait failure: make sure it dies
        proc.kill()
        proc.wait(timeout=30)


def run(args) -> tuple[dict, dict]:
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    loadavg = {"start": os.getloadavg()[0]}
    tr = spans.Tracer(args.trace == 1)
    from data_engineering_pipeline_project_cloud_spark import session
    try:
        with tr.span("session.get_spark") as rec:
            spark = session.get_spark("perfbench")
        launch_s = time.perf_counter() - T_START
        tr.attach(spark)
        try:
            ctx = workloads.Context(
                spark=spark, tracer=tr, work=work, seed=args.seed,
                seconds=args.seconds, cores=cores,
                sf=args.sf or workloads.SCALE[args.workload])
            RUNNERS[args.workload](ctx)
            calibration = _calibration(spark, work)
            rss = {"python": _vmhwm_mb("self"), "jvm": _vmhwm_mb(
                spark.sparkContext._gateway.proc.pid)}
        finally:
            tr.unwrap_all()
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    loadavg.update(mid=ctx.detail.pop("loadavg_mid"),
                   end=os.getloadavg()[0])

    setup = {"launch_s": launch_s, "prep_s": ctx.prep_s,
             "warmup_s": ctx.warmup_s}
    ctx.e2e["setup_s"] = launch_s + workloads.median(ctx.prep_s) \
        + ctx.warmup_s
    ctx.e2e["peak_rss_mb"] = rss["python"] + rss["jvm"]
    if tr.enabled:
        ctx.layer["session.get_spark_s"] = rec["end"] - rec["start"]
        ctx.layer.update(_layers(ctx, tr))
        out_dir = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(out_dir, exist_ok=True)
        trace_file = os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}.json")
        tr.dump(trace_file)
        wanted = LAYER
        values = ctx.layer
    else:
        wanted = E2E
        values = ctx.e2e
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in wanted.items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": ctx.sf,
        "cores": cores, "trace": args.trace, "timed_s": ctx.timed_s,
        "error_rate": ctx.failed / max(1, ctx.attempted),
        "errors": ctx.errors, "setup": setup, "calibration": calibration,
        "loadavg_1m": loadavg, "peak_rss_mb": rss, "end_to_end": ctx.e2e,
        **ctx.detail,
    }
    if tr.enabled:
        detail["trace_file"] = os.path.relpath(trace_file, ROOT)
        detail["self_s_top"] = dict(sorted(
            tr.self_times().items(), key=lambda kv: -kv[1])[:12])
    result = {"correct": ctx.failed == 0,
              "attempted": max(1, ctx.attempted), "failed": ctx.failed,
              "metrics": metrics}
    return detail, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's input scale (smoke test)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, workloads.PKG)):
        print(f"perfbench: engine package {workloads.PKG!r} not found "
              f"in {ROOT}", file=sys.stderr)
        return 2
    detail, result = run(args)
    print(json.dumps(detail, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
