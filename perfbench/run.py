"""Workload benchmark for the engine.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Runs one workload (``ingest``, ``search-single`` or ``search-batch``)
in this process against Spark at ``local[nproc]``, checks every result
against ground truth computed from the seeded inputs, and prints as
its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` wraps the engine's layer functions
(perfbench/spans.py), reports per-layer metrics, and writes the span
tree under ``perfbench/_work/traces/``. The line before the last holds
run details: environment, sample counts and the workload's metrics
under their workload-specific names. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
WORKLOADS = ("ingest", "search-single", "search-batch")

# end-to-end metric -> unit, in BENCHMARK.json order
E2E = {"setup_s": "s", "call_p50_s": "s", "items_per_s": "1/s",
       "recall_at_10": "ratio", "space_amp": "ratio"}

# the workload-specific names of the generic end-to-end metrics
ALIASES = {
    "ingest": {"call_p50_s": "upsert_p50_s", "call_tail_s": "upsert_tail_s",
               "items_per_s": "ingest_points_per_s"},
    "search-single": {"call_p50_s": "search_p50_s",
                      "call_tail_s": "search_tail_s",
                      "items_per_s": "search_queries_per_s"},
    "search-batch": {"call_p50_s": "batch_p50_s",
                     "call_tail_s": "batch_tail_s",
                     "items_per_s": "batch_queries_per_s"},
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke test's input size")
    ap.add_argument("--corrupt-truth", action="store_true",
                    help="negate the ground-truth scores (smoke test)")
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Environment for the JVM and the Python workers it forks; must
    run before the JVM starts."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + py_path if py_path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # a kernel cache shared by the checkout's runs, compiled and probed
    # before any timing (warm_kernel), so every run starts warm
    os.environ["SPARK_GRAFT_KERNEL_DIR"] = os.path.join(WORK, "kernels")


def warm_kernel() -> int:
    """Compile the native HNSW kernel and run its parity probe (a tiny
    graph build does both) so the cache holds the .so and the probe
    marker; returns operators.hnsw_native.in_use."""
    import numpy as np

    from image_indexing_and_retrival_with_qdrant_spark.operators import (
        hnsw, hnsw_native)

    x = np.random.default_rng(0).normal(size=(40, 8))
    hnsw.hnsw_build_np(list(range(40)), x.tolist(), m=4, ef_construct=16)
    return int(hnsw_native.load() is not None
               and hnsw_native.probe_ok_cached())


def session_factory(run_dir: str, cpus: int):
    from image_indexing_and_retrival_with_qdrant_spark.session import get_spark

    from pyspark import SparkConf, SparkContext

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    # launch the JVM now, outside every timed set-up: set-up time is
    # SparkSession start plus collection builds, not JVM process start
    SparkContext._ensure_initialized(conf=SparkConf().setAll(conf.items()))
    return lambda: get_spark(cpus=str(cpus), extra_conf=conf)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    # guest time is already counted in user
    return vals[7], sum(vals[:8])


def rss_hwm_mb(pid: int | str = "self") -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_pid() -> int | None:
    """The driver JVM: the gateway process or its java descendant."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return None
    todo = [proc.pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return None


def stop_jvm() -> None:
    """Stop the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def environment(cpus: int, in_use: int) -> dict:
    import numpy
    import pyspark

    jvm = None
    try:
        from pyspark import SparkContext
        jvm = SparkContext._jvm.System.getProperty("java.version")
    except Exception:  # no JVM: reported as null
        pass
    return {"nproc": cpus,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__, "numpy": numpy.__version__,
            "java": jvm,
            "operators.hnsw_native.in_use": in_use}


def end_to_end(o) -> dict:
    return {
        "setup_s": o.session_s + o.build_s,
        "call_p50_s": statistics.median(o.latencies),
        "items_per_s": o.items / o.items_s,
        "recall_at_10": statistics.fmean(o.recalls),
        "space_amp": o.space[0] / o.user_bytes,
    }


def per_layer(tracer, o, in_use: int, wall: float) -> dict:
    m = tracer.layer_metrics()
    tot = tracer.spark_totals("measure")
    m.update({k: v for k, v in tot.items() if k != "spark.op_wall_s"})
    m["spark.codegen_compile_s"] = (tot["spark.codegen_compiles"]
                                    * tracer.status.compile_mean_s())
    measured = tot["spark.op_wall_s"]
    m["spark.driver_gap_share"] = tot["spark.driver_gap_s"] / measured
    m["spark.job_share"] = tot["spark.job_union_s"] / measured
    m["catalog.collection_bytes"] = o.space[0]
    m["catalog.collection_files"] = o.space[1]
    out_bytes = sum(j["output_bytes"] for j in tracer.jobs)
    m["catalog.write_amp"] = out_bytes / o.written_bytes
    m["operators.hnsw_native.in_use"] = in_use
    m["trace.call_p50_s"] = statistics.median(o.latencies)
    m["trace.overhead_share"] = tracer.overhead_s / wall
    m["proc.driver_py_rss_hwm_mb"] = rss_hwm_mb()
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        sys.path.insert(0, ROOT)
        import image_indexing_and_retrival_with_qdrant_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import spans
    import workloads

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    prepare_env(run_dir)
    steal0, total0 = cpu_times()
    t_start = time.perf_counter()
    tracer = None
    try:
        in_use = warm_kernel()
        if args.trace:
            tracer = spans.Tracer()
            tracer.install()
        runner = workloads.Runner(
            args.workload, args.seed, args.seconds,
            os.path.join(run_dir, "collections"),
            session_factory(run_dir, cpus), tracer=tracer, size=args.size,
            corrupt_truth=args.corrupt_truth)
        o = runner.run()
        wall = time.perf_counter() - t_start
        env = environment(cpus, in_use)
        layers = None
        if tracer is not None and o.latencies:
            layers = per_layer(tracer, o, in_use, wall)
            layers["proc.jvm_rss_hwm_mb"] = rss_hwm_mb(jvm_pid() or 0)
        if runner.spark is not None:
            runner.spark.stop()
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    steal1, total1 = cpu_times()
    env["cpu_steal_share"] = ((steal1 - steal0) / (total1 - total0)
                              if total1 > total0 else 0.0)
    env["wall_s"] = wall

    # metrics need at least one successful call of each kind
    measured = bool(o.latencies and o.recalls and o.items_s > 0)
    e2e = end_to_end(o) if measured else {}
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "environment": env,
              "calls": len(o.latencies), "tail_percentile": workloads.TAIL_PCT,
              "session_start_s": o.session_s, "build_s": o.build_s,
              "latencies_s": o.latencies, "call_kinds": o.call_kinds,
              "failures": o.failures[:20]}
    if measured:
        # printed, not gated: too few calls per run for a steady tail
        e2e_detail = dict(e2e, call_tail_s=workloads.percentile(
            o.latencies, workloads.TAIL_PCT))
        detail.update({ALIASES[args.workload].get(k, k): v
                       for k, v in e2e_detail.items()})
    detail.update(o.extra)
    if not measured:
        metrics, units = {}, {}
    elif args.trace:
        metrics = layers
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces",
                            f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"detail": detail, "metrics": metrics,
                       **tracer.tree()}, f)
        detail["trace_file"] = os.path.relpath(path, ROOT)
        units = {k: layer_unit(k) for k in metrics}
    else:
        metrics, units = e2e, E2E
    print(json.dumps(detail))
    print(json.dumps({
        "correct": o.failed == 0, "attempted": o.attempted,
        "failed": o.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0 if o.failed == 0 else 1


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_bytes"):
        return "bytes"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_share") or last == "write_amp" or last == "in_use":
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
