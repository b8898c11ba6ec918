"""Benchmark entry point.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 30 --trace 0

Runs one workload of ``perfbench/workloads.py`` against the ``titan_spark``
package of the checkout it sits in, on ``local[4]``, and prints one JSON
object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
(the tracer's own time around the calls, as a share of the rest of the
timed phase, is reported as ``trace.overhead`` and is taken out of the
op latencies). A line before it carries
the run's settings and details (``"details": {...}``).

Everything the run writes (inputs, Spark local dirs, stores, spills,
spans) stays under ``perfbench/.work`` and ``perfbench/.inputs``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUP_REPS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="nominal length of the timed phase: sets the number of light-op "
                         "rounds, one per 15 s (see README)")
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", default="bench", help="input size: bench or smoke")
    return ap.parse_args(argv)


def isolate_scratch() -> dict[str, str]:
    """Empty and create the run's scratch dirs; point every temp/spill
    location of Python, the JVM and Spark at them."""
    shutil.rmtree(WORK, ignore_errors=True)
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "spark-local", "cwd", "stores")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (spark-submit's launcher and the driver): temp files in the
    # run's scratch, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    os.chdir(dirs["cwd"])  # spark-warehouse and derby logs land here
    return dirs


def timed_phase(ops, tracer, host):
    """Run every op once, in order. Returns per-op records, the host
    counter delta over the phase and the peak RSS reached in it."""
    records = []
    host.reset_peak_rss()
    h0 = host.sample()
    for op in ops:
        t0, traced0 = time.perf_counter(), tracer.self_s
        try:
            result, error = op.run(tracer.call), None
        except Exception as exc:  # an op that raises counts as failed
            result, error = None, f"{type(exc).__name__}: {exc}"
        # the op's latency without the tracer's own time around its calls
        latency = time.perf_counter() - t0 - (tracer.self_s - traced0)
        records.append({"op": op, "latency_s": latency, "result": result, "error": error})
    delta = host.delta(h0, host.sample())
    return records, delta, host.peak_rss_mb()


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM PySpark launched and wait for it
    (the gateway exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    dirs = isolate_scratch()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import inputs
    import measure
    import workloads
    from titan_spark import get_spark
    import pyspark

    if args.workload not in workloads.WORKLOADS or args.size not in workloads.PLAN:
        print(f"unknown workload {args.workload!r} or size {args.size!r}", file=sys.stderr)
        return 2
    t_prep = time.perf_counter()
    in_dir, sums = inputs.prepare(args.size, os.path.join(HERE, ".inputs"))
    prep_s = time.perf_counter() - t_prep

    cores = min(4, os.cpu_count() or 1)
    driver_mem = "1g"
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": driver_mem,
            # a fixed-size heap: G1 otherwise grows it on its own timing,
            # which moved peak RSS by ~10% between runs
            "spark.driver.extraJavaOptions": f"-Xms{driver_mem}",
            "spark.local.dir": dirs["spark-local"],
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "4000",
            "spark.ui.retainedStages": "12000",
            "spark.sql.ui.retainedExecutions": "200",
        },
    )
    # process start to session up, minus input preparation
    session_s = time.perf_counter() - t0 + (t_prep - T_START)
    try:
        host = measure.Host(measure.jvm_pid(spark))
        inp = workloads.Inputs(in_dir)
        plan = workloads.PLAN[args.size]
        wl = workloads.WORKLOADS[args.workload](spark, inp, plan)
        load_s = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup()
            load_s.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(load_s)

        tracer = measure.Tracer(spark, bool(args.trace), parent=f"{args.workload}.timed")
        ops = wl.ops(args.seed, dirs["stores"], args.seconds)
        records, delta, peak_rss = timed_phase(ops, tracer, host)
        tracer.finish()

        for rec in records:
            if rec["error"] is None:
                try:
                    rec["error"] = rec["op"].check(rec["result"])
                except Exception as exc:
                    rec["error"] = f"check raised {type(exc).__name__}: {exc}"
        failed = [r for r in records if r["error"]]
        op_p50, op_tail, tail_p = measure.latency_summary(
            [r["latency_s"] for r in records if r["op"].light])
        sc = spark.sparkContext
        details = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "master": sc.master, "default_parallelism": sc.defaultParallelism,
            "spark_version": spark.version, "pyspark_version": pyspark.__version__,
            "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
            "driver_memory": driver_mem, "driver_heap": f"-Xms{driver_mem} -Xmx{driver_mem}", "loadavg": measure.loadavg(),
            "host.steal_s": delta["steal_s"], "input_prep_s": prep_s,
            "input_sha256": sums, "setup_load_s": load_s, "session_s": session_s,
            "ops": [[r["op"].name, round(r["latency_s"], 3)] for r in records],
            "op_p50_s": op_p50, "op_tail_s": op_tail, "op_tail_percentile": tail_p,
            "op_samples": sum(r["op"].light for r in records),
            "errors": [f"{r['op'].name}: {r['error']}" for r in failed][:10],
        }
        if args.trace:
            import layers

            metrics, extra = layers.per_layer(
                records, delta, tracer, session_s, statistics.median(load_s), in_dir)
            details.update(extra)
            tracer.dump(os.path.join(WORK, "spans.jsonl"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (delta["wall_s"], "s"),
                "cpu_s": (delta["cpu_s"], "s"),
                "peak_rss_mb": (peak_rss, "MB"),
                "disk_write_mb": (delta["disk_write_mb"], "MB"),
            }
        print(json.dumps({"details": details}))
        print(json.dumps({
            "correct": not failed,
            "attempted": len(records),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
