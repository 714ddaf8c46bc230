"""The benchmark's metric names and units (BENCHMARK.json mirrors these).

End-to-end metrics are reported by every workload, each measured on that
workload's own unit of work (README.md has the per-workload meaning).
Per-layer metrics are reported by every traced run; a layer that is not on
a workload's path reports 0.
"""

from __future__ import annotations

from .trace import JOB_FIELDS, JOB_SPANS

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
}

# the analytics pass: seven of the 19 queries bench.py times, at least one
# per analytics module: operators.asof, functions.dedup / similarity / text
# / sampling, and the entry module's relational and window shapes. The CDC
# decode + LWW path (cdc_replay_state) is left to ``tail``, which drives it.
QUERIES = [
    "cdc_asof_join", "pricing_summary", "win_sessionize",
    "dedup_minhash_lsh", "sim_knn_join", "text_features", "pack_token_shards",
]

_JOB_UNITS = {"jobs": "count", "tasks": "count",
              "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
              "task_skew": "ratio", "busy_share": "share"}

PER_LAYER = {
    "decode.wall_s": "s", "decode.invalid_rows": "count",
    "lww.wall_s": "s", "lww.rows_in": "count", "lww.rows_out": "count",
    "merge.cow_s": "s", "merge.buckets_touched": "count",
    "merge.rows_inserted": "count", "merge.rows_updated": "count",
    "merge.rows_stale": "count", "merge.rows_deleted": "count",
    "apply.batch_s": "s", "apply.batch_self_s": "s",
    "apply.head_scan_s": "s",
    "merge.mor_s": "s", "merge.compact_s": "s", "merge.compactions": "count",
    "table.files": "count", "table.max_delta_depth": "count",
    "read.scan_s": "s", "read.lookup_s": "s", "read.changes_s": "s",
    "read.changes_rows": "count",
    "view.refresh_s": "s", "view.refresh_full": "count",
    "state.checkpoint_s": "s", "state.metrics_append_s": "s",
    **{f"query.{q}_s": "s" for q in QUERIES},
    **{f"{s}.{f}": _JOB_UNITS[f] for s in JOB_SPANS for f in JOB_FIELDS},
    "jvm.old_gen_peak_mb": "MB",
    "generator.late_s": "s",
    "tail.backlog_events": "count",
    "trace.overhead_share": "share",
    "trace.coverage": "share",
}


def span_layers(tracer) -> dict:
    """Per-layer values derived from the spans the wrappers recorded.
    Times are means per call; row counts are totals over the window."""
    out = {
        "apply.batch_s": tracer.mean_s("apply.batch"),
        "apply.head_scan_s": tracer.mean_s("apply.head_scan"),
        "merge.cow_s": tracer.mean_s("merge.cow"),
        "merge.mor_s": tracer.mean_s("merge.mor", under="apply.batch"),
        "merge.compact_s": tracer.mean_s("merge.compact"),
        "view.refresh_s": tracer.mean_s("view.refresh"),
        "state.checkpoint_s": tracer.mean_s("state.checkpoint",
                                            under="apply.batch"),
        "state.metrics_append_s": tracer.mean_s("state.metrics_append",
                                                under="apply.batch"),
    }
    batches = tracer.named("apply.batch")
    out["apply.batch_self_s"] = (
        sum(tracer.self_time(b) for b in batches) / len(batches)
        if batches else 0.0)
    res = {"merge.rows_inserted": "n_inserted",
           "merge.rows_updated": "n_updated",
           "merge.rows_stale": "n_stale_ignored",
           "merge.rows_deleted": "n_deleted",
           "merge.buckets_touched": "n_buckets_touched"}
    merges = [s for n in ("merge.cow", "merge.mor") for s in tracer.named(n)
              if tracer.has_ancestor(s, "apply.batch")]
    for metric, field in res.items():
        out[metric] = sum((s.get("result") or {}).get(field, 0)
                          for s in merges)
    out["merge.compactions"] = len(tracer.named("merge.compact"))
    ops = [s for s in tracer.spans
           if s["name"].startswith("op.") and s["end"]]
    wall = sum(tracer.dur(o) for o in ops)
    covered = sum(tracer.dur(c) for o in ops for c in tracer.children(o))
    out["trace.coverage"] = covered / wall if wall else 0.0
    return out
