"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Builds every input from the seed inside ``.perfbench_work/`` of the
checkout, measures for ``--seconds``, checks the engine's outputs, and
prints two JSON lines: run details (engine shape, host noise, sample
counts, failures), then the result ``{"correct", "attempted", "failed",
"metrics"}`` — the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics.  Traced runs also write their spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result(spec: dict, traced: bool, values: dict, correct: bool,
           attempted: int, failed: int) -> dict:
    """The last output line; every metric the spec lists for this mode, each
    with its unit.  A metric the workload did not produce is an error."""
    metrics = {}
    for m in spec["per_layer" if traced else "end_to_end"]:
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "quickwit_spark")):
        print("perfbench: no quickwit_spark package next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    spec = load_spec()
    from perfbench.host import RssSampler, engine_shape, start_spark
    from perfbench.workloads import WORKLOADS, Ctx, trace_consistency

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        with RssSampler() as rss:
            spark = start_spark(work, ROOT)
            ctx = Ctx(spark, work, args.seed, args.seconds, bool(args.trace), started)
            ctx.window["spark_start_s"] = time.perf_counter() - started
            e2e, layers = WORKLOADS[args.workload](ctx)
            ctx.window["layout_batches_s"] = ctx.setup_batches
        e2e["setup_s"] = ctx.setup_s()
        # not a metric: how many Python workers Spark keeps alive varies
        # from run to run and moves the sum by up to ~1.5 GB
        ctx.window["peak_rss_mb"] = rss.peak_mb
        ctx.window["peak_rss_parts_mb"] = {k: v / 1024 for k, v in rss.peak_parts_kb.items()}
        if ctx.traced:
            layers.update(trace_consistency(ctx))
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            ctx.tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "engine": engine_shape(),
        "host": {k: ctx.window[k] for k in ("steal_share", "probe_page_fault_gbps")},
        "window": {k: v for k, v in ctx.window.items()
                   if k not in ("start", "steal_share", "probe_page_fault_gbps")},
        "failed_share": ctx.failed / max(ctx.attempted, 1),
        "failures": ctx.failures[:3],
        "mismatches": ctx.mismatches[:5],
        "end_to_end": e2e,
    }
    print(json.dumps(detail, default=str))
    values = layers if ctx.traced else e2e
    print(json.dumps(result(spec, ctx.traced, values, not ctx.mismatches,
                            ctx.attempted, ctx.failed)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
