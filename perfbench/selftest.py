#!/usr/bin/env python3
"""Smoke-size self-test of the benchmark harness (five to ten minutes).

    python3 perfbench/selftest.py

1. Each workload, run small with ``--trace 0`` and ``--trace 1``, prints
   every metric BENCHMARK.json names, with its unit, and passes its gates.
2. The converged-table gate passes on a replayed table and fails once one
   converged row is altered.
3. Without the engine next to it, the benchmark exits non-zero and
   prints no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "2", "--trace", str(trace),
         "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check_metrics(spec: dict) -> list[str]:
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = _run(wl, trace)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{wl} trace={trace}: exit {p.returncode}: "
                                f"{p.stderr[-500:]}")
                continue
            out = json.loads(lines[-1])
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{wl} trace={trace}: keys {sorted(out)}")
            if not out["correct"] or out["failed"]:
                problems.append(f"{wl} trace={trace}: gates failed: "
                                f"{lines[-2][:800] if len(lines) > 1 else ''}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                problems.append(f"{wl} trace={trace}: metric/unit mismatch "
                                f"{sorted(set(got.items()) ^ set(want.items()))}")
            print(f"{wl} trace={trace}: {len(got)} metrics, "
                  f"correct={out['correct']}", flush=True)
    return problems


def check_gate_catches_altered_row() -> list[str]:
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from ore_etl_spark.datagen.wal import generate_wal
    from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
    from ore_etl_spark.session import get_spark
    from ore_etl_spark.tables.merge_table import MergeTable
    from perfbench import gates, harness

    harness.become_subreaper()
    work = harness.WorkDir(ROOT, "selftest")
    harness.isolate_env(work)
    spark = get_spark("perfbench-selftest", cpus=2, extra_conf=harness.spark_conf(
        work, 1024, event_log=False))
    try:
        wal = work.sub("wal")
        generate_wal(spark, n_keys=300, n_partitions=2, seed=5).write.parquet(wal)
        tbl = MergeTable.create(spark, work.sub("table"), target_schema(),
                                key_cols=["repo", "path"],
                                version_cols=["commit_seq", "event_seq"],
                                n_buckets=4)
        pipe = CdcApplyPipeline(spark, wal, tbl, work.sub("state"))
        pipe.run()
        wal_pdf = spark.read.parquet(wal).toPandas()
        hwm = pipe.checkpoints.get(pipe.pipeline)
        before = gates.table_vs_oracle(tbl, wal_pdf, hwm)
        victim = tbl.read().select("repo", "path").orderBy("repo", "path") \
            .first()
        tbl.update_where(
            (F.col("repo") == victim["repo"]) & (F.col("path") == victim["path"]),
            {"content_sha256": F.lit("0" * 64)}, "selftest-alter-one-row")
        after = gates.table_vs_oracle(tbl, wal_pdf, hwm)
    finally:
        try:
            spark.stop()
        finally:
            harness.stop_children()
        work.close()
    print(f"gate on replayed table: {before}; after altering one row: {after}")
    problems = []
    if not before["ok"]:
        problems.append("gate fails on a correctly replayed table")
    if after["ok"]:
        problems.append("gate passes after one converged row was altered")
    return problems


def check_fails_without_engine() -> list[str]:
    bare = os.path.join(ROOT, ".bench_work", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "tail",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print(f"without the engine: exit {p.returncode}, "
          f"stdout {len(p.stdout)} bytes")
    if p.returncode == 0 or p.stdout.strip():
        return ["benchmark did not fail without the engine"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = (check_fails_without_engine() + check_metrics(spec)
                + check_gate_catches_altered_row())
    for p in problems:
        print("FAIL:", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
