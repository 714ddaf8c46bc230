#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository (the engine package and
``__spark_entry__.py`` are imported from there). The last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it carries the run's details (CPU count,
heap, loadavg, samples, gate results). ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones from a separate run
with spans and the Spark event log on. ``python3 perfbench/selftest.py``
checks the harness itself at smoke size.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("tail", "analytics")


class Context:
    """What a workload receives and fills in."""

    def __init__(self, spark, work, seed, seconds, trace, tracer, counters,
                 smoke, jvm_pid):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = tracer
        self.counters = counters
        self.smoke = smoke
        self.jvm_pid = jvm_pid
        self.cores = spark.sparkContext.defaultParallelism
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, tuple] = {}
        self.detail: dict = {}
        self.gates: list[dict] = []
        self.errors: list[str] = []
        self.setup_s = 0.0
        self.peak_rss_mb: float | None = None
        self.window_s = 0.0

    def mark_peak_rss(self) -> None:
        """Peak resident set (VmHWM) of Python plus the JVM so far. Each
        workload calls this just before its gates, so the gates' own
        memory (oracles, pandas copies of the table) is not counted."""
        from perfbench.harness import jvm_old_gen_peak_mb, vm_hwm_mb

        self.peak_rss_mb = vm_hwm_mb() + vm_hwm_mb(self.jvm_pid)
        self.layer["jvm.old_gen_peak_mb"] = (
            jvm_old_gen_peak_mb(self.spark), "MB")

    def gate(self, name: str, res: dict) -> None:
        self.gates.append({"gate": name, **res})
        if res["ok"]:
            self.counters.ok("gates")
        else:
            self.counters.fail("gates")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="small input data, for the self-test")
    return p.parse_args(argv)


def engine_present(root: str) -> bool:
    return (os.path.isfile(os.path.join(root, "ore_etl_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py")))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present(ROOT):
        print(f"perfbench: no engine checkout at {ROOT} "
              "(ore_etl_spark/ and __spark_entry__.py are required)",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import harness, metrics
    from perfbench.trace import Tracer, job_metrics, parse_event_log

    # a SIGTERM unwinds through the ``finally`` below like an exception,
    # so the JVM and its workers are stopped on that path too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    harness.become_subreaper()
    work = harness.WorkDir(ROOT, args.workload)
    harness.isolate_env(work)
    spark = None
    try:
        import importlib

        from ore_etl_spark.session import get_spark

        wl = importlib.import_module(f"perfbench.wl_{args.workload}")
        cores = harness.cpu_count()
        heap = harness.driver_heap_mb()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cpus=cores,
                          extra_conf=harness.spark_conf(work, heap,
                                                        bool(args.trace)))
        spark_start_s = time.perf_counter() - t0
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        jvm_heap = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
        counters = harness.Counters()
        tracer = Tracer(spark, bool(args.trace))
        ctx = Context(spark, work, args.seed, args.seconds, bool(args.trace),
                      tracer, counters, args.smoke, jvm_pid)
        load0 = harness.loadavg()
        ticks0 = harness.cpu_ticks()
        try:
            wl.run(ctx)
        except Exception as e:
            ctx.errors.append(traceback.format_exc()[-2000:])
            counters.fail("workload")
            print(f"perfbench: workload failed: {e!r}", file=sys.stderr)
        if ctx.peak_rss_mb is None:  # the workload failed before its gates
            ctx.mark_peak_rss()
        ticks = [b - a for a, b in zip(ticks0, harness.cpu_ticks())]
        spark.stop()
        spark = None

        if ctx.trace:
            values = {k: (0, u) for k, u in metrics.PER_LAYER.items()}
            values.update({k: (v, metrics.PER_LAYER[k]) for k, v in
                           metrics.span_layers(tracer).items()})
            values.update(job_metrics(
                tracer, parse_event_log(work.sub("eventlog")), cores))
            values["trace.overhead_share"] = (
                tracer.overhead_s / ctx.window_s if ctx.window_s else 0.0,
                "share")
            values.update(ctx.layer)
            unknown = set(values) - set(metrics.PER_LAYER)
            if unknown:
                raise RuntimeError(f"unlisted per-layer metrics: {unknown}")
        else:
            values = {k: (v, metrics.END_TO_END[k])
                      for k, v in ctx.e2e.items()}
            values["setup_s"] = (ctx.setup_s, "s")
            values["peak_rss_mb"] = (ctx.peak_rss_mb, "MB")
        names = metrics.PER_LAYER if ctx.trace else metrics.END_TO_END
        missing = [k for k in names if k not in values]
        attempted, failed = counters.total()
        correct = (not ctx.errors and not missing and failed == 0
                   and attempted > 0)
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "cpus": cores, "driver_heap_mb": heap,
            "jvm_max_heap_mb": jvm_heap // (1024 * 1024),
            "loadavg_start": load0, "loadavg_end": harness.loadavg(),
            "cpu_steal_share": ticks[1] / ticks[0] if ticks[0] else 0.0,
            "work_free_mb": work.free_mb_at_start,
            "spark_start_s": spark_start_s,
            "setup_s": ctx.setup_s,
            "peak_rss_mb": ctx.peak_rss_mb,
            "jvm_old_gen_peak_mb": ctx.layer["jvm.old_gen_peak_mb"][0],
            "window_s": ctx.window_s,
            "attempted_by_kind": counters.attempted,
            "failed_by_kind": counters.failed,
            "gates": ctx.gates, "errors": ctx.errors, "missing": missing,
            **ctx.detail,
        }
        print(json.dumps({"detail": detail}, default=str), flush=True)
        harness.emit({
            "correct": bool(correct),
            "attempted": int(max(attempted, 1)),
            "failed": int(failed if attempted else 1),
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in values.items() if k in names},
        })
        return 0
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let clean-up finish
        try:
            if spark is not None:
                spark.stop()
        except Exception as e:  # e.g. the gateway broken by a signal
            print(f"perfbench: spark.stop failed: {e!r}", file=sys.stderr)
        n = harness.stop_children()
        if n:
            print(f"perfbench: {n} processes had to be signalled to end",
                  file=sys.stderr)
        work.close()


if __name__ == "__main__":
    sys.exit(main())
