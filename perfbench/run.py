"""Benchmark of record for the entity-resolution pipeline.

    python3 perfbench/run.py --workload batch_wide --seed 1 --seconds 10 --trace 0

Runs one seeded workload (batch_wide, batch_dense or delta_stream; see
perfbench/README.md) on local[4] from this driver process, checks the
outputs against the withheld ground truth, and prints as its last stdout
line one JSON object {correct, attempted, failed, metrics}. With
``--trace 0`` the metrics are the end-to-end figures, measured with
tracing off; with ``--trace 1`` they are the per-layer figures from spans
and the Spark event log. The line before it carries run details (set-up
breakdown, per-operation latencies, F1 components, tail percentile).

Everything is written under ``.perfbench_scratch/`` in the checkout and
removed on exit. Exit code 0 means every check passed; a failed operation,
a failed output check or (traced) a failed span check exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SHUFFLE_PARTITIONS = 8   # pinned: independent of the core count
DRIVER_MEM = "2g"
SPAN_TOL_S = 0.05        # allowed span-check error, seconds
END_TO_END = {"setup_s": "s", "pages_per_s": "1/s", "pairwise_f1": "ratio",
              "peak_rss_mb": "MB", "batch_p50_s": "s"}


def _env(scratch: str) -> None:
    """Point every writer at the scratch dir, the Python workers at this
    interpreter and the package, and Spark at the loopback interface; must
    run before pyspark starts the JVM."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # workers otherwise run whatever "python" is first on PATH
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("PYSPARK_DRIVER_PYTHON", None)
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(scratch, "spark-local")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _session(scratch: str, trace: bool):
    from entity_resolution_pipeline_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions":
            # heap committed and touched up front: resident memory then
            # tracks off-heap growth, not when GC decided to grow the heap
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    if trace:
        log_dir = os.path.join(scratch, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(cores=CORES, shuffle_partitions=SHUFFLE_PARTITIONS,
                      app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class PeakRss:
    """Peak resident set of the driver JVM (which runs every task in
    local mode) over the measured window."""

    def __init__(self, spark):
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def reset(self) -> None:
        try:
            with open(f"/proc/{self.pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # kernel without peak reset: the figure covers set-up too

    def read_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")


def tail(latencies: list[float]) -> tuple[float, float]:
    """Highest percentile with at least 10 samples beyond it, and its
    value; the maximum when there are 10 samples or fewer."""
    xs = sorted(latencies)
    k = max(len(xs) - 10, 1) if len(xs) > 10 else len(xs)
    return 100.0 * k / len(xs), xs[k - 1]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: 1/20 of the documents, for the self-test")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "entity_resolution_pipeline_spark")):
        print(f"perfbench: package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    scratch = os.path.join(ROOT, ".perfbench_scratch", f"{args.workload}-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    _env(scratch)
    try:
        return _run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _run(args, scratch: str) -> int:
    import layers
    import spans as tr
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    spark = _session(scratch, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        tracer = tr.Tracer(spark.sparkContext) if args.trace else tr.NullTracer()
        shapes = wl.TINY if args.scale == "tiny" else wl.SHAPES
        w = wl.WORKLOADS[args.workload](args.workload, spark, args.seed, scratch,
                                        tracer, shapes[args.workload])
        w.prepare()
        setup_s = session_s + sum(w.setup_parts.values())
        rss = PeakRss(spark)
        rss.reset()
        error = None
        with tracer.recording():
            try:
                w.measure(args.seconds)
            except Exception:  # a failed operation ends the window
                error = traceback.format_exc()
        peak_mb = rss.read_mb()
        attempted = len(w.ops) + (error is not None)
        verdict, failed = {}, int(error is not None)
        if error is None:
            try:
                verdict = w.check()
            except wl.CheckFailed as e:
                error, failed = f"check failed: {e}", attempted
        work = layers.useful_work(w) if args.trace and error is None else {}
        digest = w.input_digest()
    finally:
        _shutdown(spark)

    lat = [o.latency_s for o in w.ops] or [float("nan")]
    pct, tail_s = tail(lat)
    # median over operations, like batch_p50_s: one slow operation (a GC
    # pause, a burst of load from outside the run) does not move it
    pages_per_s = statistics.median(o.pages / o.latency_s for o in w.ops) if w.ops else 0.0
    if args.trace:
        metrics = layers.per_layer(w, tracer, os.path.join(scratch, "eventlog"),
                                   work, pages_per_s)
        span_err = metrics["tracing.span_check_err_s"]["value"]
        if error is None and span_err > SPAN_TOL_S:
            error, failed = f"span check failed: error {span_err:.4f} s", attempted
    else:
        # on the batch workloads one "batch" is one pipeline run
        values = {"setup_s": setup_s, "pages_per_s": pages_per_s,
                  "pairwise_f1": verdict.get("f1", 0.0), "peak_rss_mb": peak_mb,
                  "batch_p50_s": statistics.median(lat)}
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    details = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "input_digest": digest, "setup": {"session_s": session_s, **w.setup_parts},
        # a run makes too few operations for a tail with ten samples beyond
        # it, so the tail is printed here, with its percentile and sample
        # count, rather than as a metric
        "op_latencies_s": lat, "batch_tail_s": tail_s, "tail_percentile": pct,
        "tail_samples": len(w.ops),
        "verdict": verdict, "error": error,
        # failed over attempted operations; 0 on a correct run, so it is
        # printed here rather than as a metric
        "error_rate": failed / max(attempted, 1),
    }
    print(json.dumps({"details": details}))
    print(json.dumps({"correct": error is None, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    if error:
        print(error, file=sys.stderr)
    return 0 if error is None else 1


if __name__ == "__main__":
    sys.exit(main())
