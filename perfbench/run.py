"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of this repository. The second-to-last
stdout line is a JSON object with the workload's own figures (per-type
latencies with their tail percentile and sample count, leg group
sums, leak report). The last line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``), each as ``{"value": v, "unit": u}``. The exit code is
0 only when every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import harness
import layers

WORKLOADS = ("serve", "batch")
END_TO_END = ("setup_s", "peak_rss_mb", "ops_per_s", "p50_ms", "tail_ms")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--heap", default="2g", help="Spark driver heap (local mode)")
    p.add_argument("--memory-fraction", default="0.6",
                   help="spark.memory.fraction for the run")
    return p.parse_args(argv)


def _jsonable(v):
    if isinstance(v, tuple):
        return {"value": v[0], "unit": v[1]}
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    return v


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isfile(os.path.join(harness.ROOT, "datahub_spark", "__init__.py")):
        print(f"perfbench: no datahub_spark package under {harness.ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, harness.ROOT)
    cfg = harness.RunConfig(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), heap=args.heap,
        memory_fraction=args.memory_fraction,
        work_dir=os.path.join(harness.ROOT, ".perfbench",
                              f"{args.workload}-seed{args.seed}-cpus{harness.cores()}-{os.getpid()}"))
    harness.prepare_env(cfg)
    report = harness.Report()
    clock = harness.SetupClock()
    steal0, total0 = harness.cpu_ticks()
    rss = harness.RssSampler()
    try:
        if args.workload == "serve":
            import serve as workload
        else:
            import batch as workload
        workload.run(cfg, report, clock, rss)
    except Exception:
        traceback.print_exc()
        report.errors.append("workload crashed")
    finally:
        rss.stop()
        t_stop = time.perf_counter()
        _stop_spark()
        harness.remove_work_dir(cfg)
        print(f"perfbench: run {t_stop - t_main:.1f}s, teardown "
              f"{time.perf_counter() - t_stop:.1f}s", file=sys.stderr)

    if not report.errors:
        report.e2e["setup_s"] = (clock.seconds, "s")
        report.detail["setup_phases_s"] = {k: round(v, 3) for k, v in clock.phases.items()}
        steal1, total1 = harness.cpu_ticks()
        # time the hypervisor gave other guests: host noise, not the program
        report.detail["cpu_steal_pct"] = round(
            100.0 * (steal1 - steal0) / max(total1 - total0, 1), 2)
        report.e2e["peak_rss_mb"] = (rss.peak_mb, "MB")
        report.check(rss.peak_kb > 0, "memory was never sampled")
        missing = [m for m in END_TO_END if m not in report.e2e]
        report.check(not missing, f"no measurement for {missing}")
        report.check(report.attempted > 0, "no operation attempted")
    for e in report.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    correct = not report.errors
    if cfg.trace:
        metrics = layers.zero_filled({k: v for k, v in report.layers.items()})
    else:
        metrics = {k: report.e2e[k] for k in END_TO_END if k in report.e2e}
    print(json.dumps({"workload": cfg.workload, "seed": cfg.seed,
                      "detail": _jsonable(report.detail)}))
    print(json.dumps({"correct": correct, "attempted": max(report.attempted, 1),
                      "failed": report.failed, "metrics": _jsonable(metrics)}))
    return 0 if correct else 1


def _stop_spark() -> None:
    """Stop the session and its JVM, so no process outlives the run."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
