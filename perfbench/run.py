"""Benchmark of the engine's reference lifecycle.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve|evaluate|maintain \
        --seed N --seconds S --trace 0|1

Builds its inputs from ``--seed``, runs a fixed sequence of operations
sized by ``--seconds``, checks every output, and prints as its last line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` a separate, traced run gives the per-layer ones and writes
its spans to ``.perfbench/traces/``. The line before it holds every
figure the workload measured, with units and sample counts.

Everything the run writes stays under ``.perfbench/`` in the checkout;
its scratch directory is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms",
              "throughput_per_s": "1/s"}

# Per-layer metrics and units. A layer the workload never calls reports 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "vector_index.build_s": "s",
    "vector.pairs_per_s": "1/s",
    "vector_index.search.call_ms": "ms",
    "vector_index.search.collect_ms": "ms",
    "vector_index.search.jobs": "count",
    "vector_index.search.stages": "count",
    "vector_index.search.tasks": "count",
    "vector_index.upsert_ms": "ms",
    "vector_index.upsert.jobs": "count",
    "vector_index.compact_ms": "ms",
    "vector_index.files": "count",
    "vector_index.bytes_per_vector_byte": "ratio",
    "codegen.compiles_per_op": "count",
    "codegen.compile_ms_per_op": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "jvm.gc_ms_per_op": "ms",
    "jvm.heap_peak_mb": "MB",
    "embed.rows_per_s": "1/s",
    "querygen.ms": "ms",
    "similarity.pairs_per_s": "1/s",
    "metrics_ir.report_ms": "ms",
    "pipeline.fused_ms": "ms",
    "pipeline.staged_sum_ms": "ms",
    "op.self_ms": "ms",
    "trace.overhead_ms": "ms",
    "trace.bookkeeping_ms_per_op": "ms",
    "trace.span_coverage_min": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("serve", "evaluate", "maintain"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def engine_present() -> bool:
    return (os.path.isdir(os.path.join(ROOT, "cs6300_vectordbs_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")))


def isolate(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``workdir``,
    and let Spark's Python workers import the engine from the checkout."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p]
    )
    # Small inputs; a small heap keeps the run within a shared host.
    os.environ["SPARK_DRIVER_MEM"] = "2g"


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — must not leave it running
            proc.kill()
            proc.wait()


def common_layers(run, get_spark_s: float) -> dict:
    """Per-layer figures every traced workload reports."""
    tr = run.tracer
    roots = [r for r in tr.roots() if r.get("window")]
    n_ops = len(roots)
    collects = [s for s in tr.spans if "catalyst_ms" in s]

    def per_op(key):
        return sum(r[key] for r in roots) / n_ops

    def phase(p):
        return statistics.median(s["catalyst_ms"].get(p, 0) for s in collects)

    return {
        "session.get_spark_s": get_spark_s,
        "codegen.compiles_per_op": per_op("compiles"),
        "codegen.compile_ms_per_op": per_op("compile_ms"),
        "catalyst.optimization_ms": phase("optimization"),
        "catalyst.planning_ms": phase("planning"),
        "jvm.gc_ms_per_op": per_op("gc_ms"),
        "jvm.heap_peak_mb": tr.heap_peak_mb(),
        "op.self_ms": statistics.median(tr.self_ms(r) for r in roots),
        "trace.bookkeeping_ms_per_op": tr.bookkeeping_s * 1e3 / n_ops,
        "trace.span_coverage_min": min(tr.coverage()),
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not engine_present():
        print("perfbench: run from the root of a checkout of the engine "
              "(cs6300_vectordbs_spark/ and __spark_entry__.py)",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(
        out_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    isolate(workdir)
    sys.path.insert(0, ROOT)

    import workloads
    from measure import metric, result_line
    from tracing import Tracer

    spark = None
    try:
        t = time.perf_counter()
        from cs6300_vectordbs_spark import get_spark

        cpus = len(os.sched_getaffinity(0))
        spark = get_spark(cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t
        tracer = Tracer(spark) if args.trace else None
        run = workloads.Run(spark, args.seed, args.seconds,
                            os.path.join(workdir, "data"), t_start, tracer)
        os.makedirs(run.workdir)
        if tracer is not None:
            tracer.reset_heap_peak()
        workloads.WORKLOADS[args.workload](run)

        setup_s = run.setup_s - run.check_s
        if args.trace:
            tracer.resolve()
            layers = {**dict.fromkeys(PER_LAYER, 0.0), **run.layers,
                      **common_layers(run, get_spark_s)}
            run.checks.verify_op("trace span sums", tracer.span_sum_problems())
            os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
            tracer.write(
                os.path.join(out_dir, "traces",
                             f"{args.workload}-seed{args.seed}.json"),
                {"per_layer": layers, "detail": run.detail,
                 "failures": run.checks.failures},
            )
            metrics = dict(metric(k, layers[k], PER_LAYER[k])
                           for k in PER_LAYER)
        else:
            values = {"setup_s": setup_s, **run.end_to_end}
            metrics = dict(metric(k, values[k], END_TO_END[k])
                           for k in END_TO_END)
        detail = {"workload": args.workload, "seed": args.seed,
                  "cpus": cpus, "setup_s": setup_s, **run.end_to_end,
                  **run.detail,
                  "curves_ms": run.curves(),
                  "failures": run.checks.failures[:10]}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    # Printed once Spark has stopped, so nothing can follow the result.
    print("perfbench detail " + json.dumps(detail, default=str))
    print(result_line(run.checks, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
