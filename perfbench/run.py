"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Each run is a fresh
process: it starts a local Spark session on every core with a 3 GiB
driver heap, makes the workload's inputs from ``--seed``, sets up, runs
the timed loop for ``--seconds`` and checks every timed answer against
the SQLite FTS5 oracle. All files go under ``.bench_work/`` in the
checkout and are removed at the end.

The second-to-last stdout line is a JSON report (input properties, the
workload's own named metrics, checked share, failures). The last line
is the result: ``--trace 0`` gives the end-to-end metrics, ``--trace 1``
records spans around every call into the program and gives the
per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "3g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["serve_mixed", "serve_skew", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiplies corpus and stream sizes (tests use "
                        "small values)")
    return p.parse_args(argv)


def _start_spark(work: str, trace: int):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    # only traced runs read the status store; untraced runs keep it small,
    # so that the heap measured after the loop does not grow with the
    # number of calls the loop got through
    retained = "20000" if trace else "10"
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", retained)
        .config("spark.ui.retainedStages", retained)
        .config("spark.sql.ui.retainedExecutions", retained)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # the heap is committed and touched up front, so the JVM's RSS
        # outside it moves with off-heap memory, not with GC timing
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, unreaped zombie counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark, jvm_pid: int) -> None:
    """Stops the session, then the JVM, and waits for the JVM and every
    process it started (the Python worker daemon and workers) to exit."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    children = descendants(jvm_pid)
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in children):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark child processes outlived the JVM: "
                               f"{sorted(children)}")
        time.sleep(0.05)


def _end_to_end(out, memory) -> dict:
    lat = out.op_s
    q = statistics.quantiles(lat, n=10, method="inclusive") if len(lat) > 1 \
        else [lat[0]] * 9
    return {
        "setup_s": out.setup_s,
        "op_p50_s": statistics.median(lat),
        "op_p90_s": q[8],
        "ops_per_s": len(lat) / out.loop_s,
        "memory_mb": memory.total_bytes / (1 << 20),
        "heap_live_mb": memory.heap_live_bytes / (1 << 20),
        "index_bytes_per_input_byte": out.index_bytes / out.text_bytes,
        "answer_ok_share": 1.0 - out.failed / out.attempted,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "yetisearch_spark",
                                       "__init__.py")):
        print(f"perfbench: no yetisearch_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get(
        "PYTHONPATH", "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")

    from perfbench import units
    from perfbench.layers import layer_metrics
    from perfbench.trace import MemorySampler, NullTracer, SparkStats, Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    t = time.perf_counter()
    spark = _start_spark(work, args.trace)
    spark_start_s = time.perf_counter() - t
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    try:
        tracer = Tracer(spark) if args.trace else NullTracer()
        memory = MemorySampler(spark, jvm_pid)
        ctx = Ctx(spark, work, args.seed, args.seconds, args.scale, tracer,
                  memory, SparkStats(spark) if args.trace else None)
        t = time.perf_counter()
        out = WORKLOADS[args.workload](ctx)
        workload_s = time.perf_counter() - t
        if args.trace:
            values, details = layer_metrics(
                tracer.spans, ctx.stats.collect(tracer.spans, out.payload_cols),
                out)
            out.report.update(details)
            names = units("per_layer")
        else:
            values = _end_to_end(out, memory)
            names = units("end_to_end")
    finally:
        t = time.perf_counter()
        _stop_spark(spark, jvm_pid)
        stop_s = time.perf_counter() - t
        shutil.rmtree(work, ignore_errors=True)

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "scale": args.scale,
        "spark_start_s": spark_start_s, "setup_s": out.setup_s,
        "ops": len(out.op_s), "loop_s": out.loop_s,
        # query streams and answer checks: outside every metric
        "unmeasured_s": workload_s - out.setup_s - out.loop_s,
        "stop_s": stop_s,
        "attempted": out.attempted, "failed": out.failed,
        "checked_share": out.checked / out.attempted,
        "error_rate": out.failed / out.attempted,
        "memory_off_heap_peak_mb": memory.off_heap_peak_bytes / (1 << 20),
        **out.report,
        "failures": out.failures,
        "op_s": out.op_s,
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
