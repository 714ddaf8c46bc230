"""Merge-on-read mode: delta append + read-time LWW resolution + compaction.

Must be observationally identical to the COW path (same converged state
under duplicates, out-of-order, deletes), with O(batch) write amplification.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ore_etl_spark.datagen.wal import generate_wal, replay_oracle
from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
from ore_etl_spark.tables.merge_table import MergeTable

N_KEYS = 300


@pytest.fixture()
def wal(spark, tmpdir_path):
    path = f"{tmpdir_path}/events"
    generate_wal(spark, n_keys=N_KEYS, n_partitions=4).write.parquet(path)
    return path


def build(spark, tmpdir_path, wal_path, **kw):
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/target", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=8,
    )
    return CdcApplyPipeline(spark, wal_path, tbl, f"{tmpdir_path}/state",
                            mode="mor", **kw)


def parity(spark, tbl, wal_path):
    exp = replay_oracle(spark.read.parquet(wal_path).toPandas())
    got = (
        tbl.read()
        .select("repo", "path", "commit", "lang", "commit_seq", "event_seq",
                "content_sha256", "content_len")
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    exp = exp[got.columns.tolist()]
    pd.testing.assert_frame_equal(got, exp.reset_index(drop=True), check_dtype=False)


def test_mor_multi_batch_parity(spark, tmpdir_path, wal):
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    p.run(batch_span=max(1, (hi - lo) // 4))
    assert p.table.delta_depth() > 0
    parity(spark, p.table, wal)


def test_mor_out_of_order_and_replay(spark, tmpdir_path, wal):
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    mid = (lo + hi) // 2
    p.run_batch(mid, hi)      # second half first
    p.run_batch(lo - 1, mid)  # then first half
    r = p.run_batch(lo - 1, mid)  # replay -> no-op
    assert r["skipped_already_committed"]
    parity(spark, p.table, wal)


def test_mor_compaction_preserves_state(spark, tmpdir_path, wal):
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    p.run(batch_span=max(1, (hi - lo) // 3))
    before = {(r["repo"], r["path"]): r["content_sha256"]
              for r in p.table.read().collect()}
    m = p.table.compact("compact-1")
    assert p.table.delta_depth() == 0
    after = {(r["repo"], r["path"]): r["content_sha256"]
             for r in p.table.read().collect()}
    assert before == after
    parity(spark, p.table, wal)
    # compaction replay is a no-op
    assert p.table.compact("compact-1").skipped_already_committed
    # post-compaction reads skip the dedupe (no deltas): still correct
    parity(spark, p.table, wal)


def test_mor_auto_compact_every(spark, tmpdir_path, wal):
    p = build(spark, tmpdir_path, wal, compact_every=2)
    lo, hi = p.delivery_range()
    p.run(batch_span=max(1, (hi - lo) // 4))
    parity(spark, p.table, wal)


def test_mor_then_cow_interleave(spark, tmpdir_path, wal):
    """A COW conditional MERGE on a table that still has MOR deltas must
    resolve them first (no join explosion, no stale winners)."""
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    mid = (lo + hi) // 2
    p.run_batch(lo - 1, mid)          # MOR deltas
    p.mode = "cow"
    p.run_batch(mid, hi)              # COW merge over delta-bearing table
    parity(spark, p.table, wal)


def test_mor_write_amplification_is_o_batch(spark, tmpdir_path, wal):
    """Delta snapshots only add refs; COW rewrites whole buckets."""
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    span = max(1, (hi - lo) // 4)
    p.run(batch_span=span)
    snap = p.table.snapshot()
    n_delta = sum(1 for r in snap["refs"] if r.get("delta"))
    assert n_delta > 8  # one delta dir per bucket per batch


def test_fastpath_append_one_file_per_touched_bucket(spark, tmpdir_path, wal):
    """The MOR delta append exchanges each batch on its bucket id into
    min(n_buckets, defaultParallelism) write tasks: every touched bucket
    gets exactly one delta file per batch, the files come from more than
    one write task, and the end state matches the replay oracle."""
    import collections
    import glob
    import os

    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    recs = p.run(batch_span=max(1, (hi - lo) // 3))
    assert len(recs) >= 3
    by_batch = collections.defaultdict(list)
    for f in glob.glob(f"{p.table.root}/data/*/_bucket=*/*.parquet"):
        bucket_dir = os.path.dirname(f)
        by_batch[os.path.dirname(bucket_dir)].append(
            (bucket_dir, os.path.basename(f).split("-")[1]))
    assert len(by_batch) == len(recs)
    assert (sorted(len(v) for v in by_batch.values())
            == sorted(r["n_buckets_touched"] for r in recs))
    for files in by_batch.values():
        dirs = [d for d, _ in files]
        assert len(dirs) == len(set(dirs))  # one file per bucket
    # a batch touching every bucket is written by several tasks
    full = [files for files in by_batch.values() if len(files) == 8]
    assert full
    assert all(len({task for _, task in files}) > 1 for files in full)
    parity(spark, p.table, wal)


def test_second_tail_batch_py4j_budget(spark, tmpdir_path, wal, monkeypatch):
    """A tail batch on a warm pipeline pays py4j round trips for its plan
    only: the decode, stats, projection, align and bucket expressions were
    built by the first batch. Rebuilding them costs ~1,500 round trips."""
    import gc
    import time

    from py4j import clientserver

    p = build(spark, tmpdir_path, wal)
    lo, _ = p.delivery_range()
    # both batches below the schema-evolution point (see
    # test_schema_evolution_via_replay): an evolving batch builds new
    # align and projection expressions, legitimately
    evo = int(N_KEYS * 3 * 0.7) * 10 - 1
    mid = (lo + evo) // 2
    p.run_batch(lo - 1, mid)
    calls = [0]
    send = clientserver.ClientServerConnection.send_command

    def counted(self, command):
        calls[0] += 1
        return send(self, command)

    # earlier tests' garbage is released over the wire by py4j's
    # finalizer thread: collect it and let that thread drain first
    gc.collect()
    pending = spark.sparkContext._gateway._gateway_client.finalizer_deque
    while pending:
        time.sleep(0.01)
    monkeypatch.setattr(clientserver.ClientServerConnection, "send_command",
                        counted)
    rec = p.run_batch(mid, evo)
    monkeypatch.undo()
    assert rec["n_in"] > 0 and rec["n_buckets_touched"] > 0
    assert calls[0] <= 500, calls[0]
