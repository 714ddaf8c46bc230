"""Backfill chunk ledger, continuous tail, streaming, multimodal plumbing."""

import threading

import pyspark.sql.functions as F
import pytest

from ore_etl_spark.datagen.wal import generate_wal, replay_oracle
from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
from ore_etl_spark.pipeline.backfill import BackfillRunner
from ore_etl_spark.pipeline.continuous import tail_loop
from ore_etl_spark.tables.merge_table import MergeTable

N_KEYS = 300


@pytest.fixture()
def wal(spark, tmpdir_path):
    path = f"{tmpdir_path}/events"
    generate_wal(spark, n_keys=N_KEYS, n_partitions=4).write.parquet(path)
    return path


def build(spark, tmpdir_path, wal_path):
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/target", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=8,
    )
    return CdcApplyPipeline(spark, wal_path, tbl, f"{tmpdir_path}/state")


def parity(spark, tbl, wal_path):
    import pandas as pd

    exp = replay_oracle(spark.read.parquet(wal_path).toPandas())
    got = (
        tbl.read()
        .select("repo", "path", "commit", "lang", "commit_seq", "event_seq",
                "content_sha256", "content_len")
        .toPandas()
        .sort_values(["repo", "path"]).reset_index(drop=True)
    )
    exp = exp[got.columns.tolist()]
    pd.testing.assert_frame_equal(got, exp.reset_index(drop=True), check_dtype=False)


def test_backfill_chunks_resume_and_converge(spark, tmpdir_path, wal):
    pipe = build(spark, tmpdir_path, wal)
    lo, hi = pipe.delivery_range()
    chunk_size = max(1, (hi - lo) // 3)
    bf = BackfillRunner(pipe, f"{tmpdir_path}/state/chunks.json", chunk_size)
    done = bf.run(max_chunks=2)  # "crash" after 2 chunks
    assert len(done) == 2
    statuses = [c["status"] for c in bf.ledger.chunks()]
    assert statuses.count("completed") == 2
    assert "pending" in statuses
    # new runner (restart): picks up the remaining chunks only
    bf2 = BackfillRunner(pipe, f"{tmpdir_path}/state/chunks.json", chunk_size)
    bf2.run()
    assert all(c["status"] == "completed" for c in bf2.ledger.chunks())
    parity(spark, pipe.table, wal)
    # a fully-backfilled ledger re-run is a no-op
    assert bf2.run() == []


def test_tail_loop_applies_new_events(spark, tmpdir_path, wal):
    pipe = build(spark, tmpdir_path, wal)
    res = tail_loop(pipe, max_polls=3, stop_when_idle=True)
    assert len(res) == 1  # one catch-up batch, then idle stop
    parity(spark, pipe.table, wal)
    # append new events -> next poll applies only those
    extra = generate_wal(spark, n_keys=N_KEYS, n_partitions=4).withColumn(
        "delivery_seq", F.col("delivery_seq") + 1_000_000
    ).withColumn("commit_seq", F.col("commit_seq") + 1_000_000)
    extra.write.mode("append").parquet(wal)
    res2 = tail_loop(pipe, max_polls=2, stop_when_idle=True)
    assert len(res2) == 1 and res2[0]["seq_lo"] >= res[0]["seq_hi"]
    parity(spark, pipe.table, wal)


def test_structured_streaming_windowed_rates(spark, tmpdir_path, wal):
    from ore_etl_spark.pipeline.continuous import windowed_rates

    schema = spark.read.parquet(wal).schema
    agg = windowed_rates(spark, wal, schema, window="1 day")
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName("rates_out").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM rates_out").collect()
    assert len(out) > 0
    total = sum(r["n"] for r in out)
    assert total == spark.read.parquet(wal).count()


def test_structured_streaming_foreachbatch_apply(spark, tmpdir_path, wal):
    """readStream -> decode -> foreachBatch MERGE: converges to the oracle."""
    from ore_etl_spark.pipeline.continuous import stream_decoded

    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/starget", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=8,
    )
    cols = [f.name for f in target_schema().fields] + ["op"]

    def apply_fn(batch_df, epoch_id):
        valid = batch_df.filter(F.col("is_valid")).select(*cols)
        tbl.merge(valid, batch_id=f"stream-epoch-{epoch_id}")

    schema = spark.read.parquet(wal).schema
    q = stream_decoded(spark, wal, schema, f"{tmpdir_path}/ckpt", apply_fn)
    q.awaitTermination(180)
    parity(spark, tbl, wal)


def test_multimodal_meta_and_decode_stub(spark):
    from ore_etl_spark.functions.multimodal import (
        decode_image_stub,
        extract_media_meta,
        sample_frames_plan,
    )

    png_header = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
                  + (64).to_bytes(4, "big") + (48).to_bytes(4, "big") + b"rest")
    rows = [(1, bytearray(png_header)), (2, bytearray(b"\xff\xd8\xffJPEGDATA")),
            (3, bytearray(b"garbage")), (4, None)]
    df = spark.createDataFrame(rows, "id long, media binary")
    metas = {r["id"]: r["meta"].asDict() for r in extract_media_meta(df).collect()}
    assert metas[1]["format"] == "png" and metas[1]["width"] == 64 \
        and metas[1]["height"] == 48 and metas[1]["ok"]
    assert metas[2]["format"] == "jpeg"
    assert metas[3]["format"] == "unknown" and not metas[3]["ok"]
    assert metas[4]["n_bytes"] is None

    pix = {r["id"]: r["pixels"] for r in decode_image_stub(df, target_size=(4, 4)).collect()}
    assert len(pix[1]) == 16 and all(0 <= v <= 1 for v in pix[1])
    assert pix[4] is None

    vids = spark.createDataFrame([(1, 3.0)], "id long, duration_s double")
    plan = sample_frames_plan(vids, every_s=1.0).collect()
    assert [r["frame_ts"] for r in plan] == [0.0, 1.0, 2.0, 3.0]


def test_streaming_restart_processes_only_new_files(spark, tmpdir_path, wal):
    """Exactly-once across stream restarts: run availableNow to completion,
    land NEW wal files, restart from the same checkpoint — only the new
    files are read (source offsets), replayed epochs are sink-level no-ops
    (batch-id manifest), and the table converges to the full oracle."""
    from ore_etl_spark.datagen.wal import generate_wal
    from ore_etl_spark.pipeline.continuous import stream_decoded

    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/rtarget", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=8,
    )
    cols = [f.name for f in target_schema().fields] + ["op"]
    applied = []

    def apply_fn(batch_df, epoch_id):
        valid = batch_df.filter(F.col("is_valid")).select(*cols)
        m = tbl.merge(valid, batch_id=f"restart-epoch-{epoch_id}")
        applied.append((epoch_id, m.skipped_already_committed))

    schema = spark.read.parquet(wal).schema
    q = stream_decoded(spark, wal, schema, f"{tmpdir_path}/rckpt", apply_fn)
    q.awaitTermination(180)
    n_epochs_first = len(applied)
    v_after_first = tbl.version

    # land a second WAL slice: same keys, NEWER versions (seq-shifted)
    extra = (
        generate_wal(spark, n_keys=120, n_partitions=2)
        .withColumn("delivery_seq", F.col("delivery_seq") + 10**9)
        .withColumn("commit_seq", F.col("commit_seq") + 10**9)
    )
    extra.write.mode("append").parquet(wal)

    q2 = stream_decoded(spark, wal, schema, f"{tmpdir_path}/rckpt", apply_fn)
    q2.awaitTermination(180)
    # restart did not re-apply old epochs' data as new versions
    assert len(applied) > n_epochs_first
    assert tbl.version > v_after_first
    parity(spark, tbl, wal)  # converged over old + new files

    # a replayed epoch is a sink-level no-op (idempotent batch-id)
    replay_epoch = applied[0][0]
    before = tbl.version
    m = tbl.merge(
        spark.createDataFrame([], tbl.schema()).withColumn("op", F.lit("INSERT")),
        batch_id=f"restart-epoch-{replay_epoch}",
    )
    assert m.skipped_already_committed and tbl.version == before


def sixteen_slots(monkeypatch):
    """Make every SparkContext report 16 scheduler slots: ``run()``'s
    width-2 threshold. Only the reported count changes — the session
    keeps its executor threads."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: 16))


def record_batches(pipe, monkeypatch, together: int = 0):
    """Wrap ``pipe.run_batch``: log each call's thread and whether it got
    prefetched stats, and the peak number of calls in flight at once.
    The first ``together`` calls wait until all of them are in flight, so
    a run that never overlaps them fails instead of passing by timing."""
    real, lock = pipe.run_batch, threading.Lock()
    gate = threading.Barrier(together, timeout=120) if together else None
    log = {"calls": [], "live": 0, "peak": 0}

    def counted(lo, hi, **kw):
        with lock:
            n = len(log["calls"])
            log["calls"].append((threading.get_ident(),
                                 kw.get("stats") is not None))
            log["live"] += 1
            log["peak"] = max(log["peak"], log["live"])
        try:
            if n < together:
                gate.wait()
            return real(lo, hi, **kw)
        finally:
            with lock:
                log["live"] -= 1

    monkeypatch.setattr(pipe, "run_batch", counted)
    return log


def test_pipelined_run_matches_sequential(spark, tmpdir_path, wal,
                                          monkeypatch):
    """At 16 slots COW ``run()`` prefetches batch N+1's stats pass while
    batch N merges — final table state and per-batch metrics must match
    the sequential path exactly."""
    seq = build(spark, f"{tmpdir_path}/a", wal)
    lo, hi = seq.delivery_range()
    span = max(1, (hi - lo) // 4 + 1)
    seq_log = record_batches(seq, monkeypatch)
    r_seq = seq.run(batch_span=span)
    # below 16 slots: every batch on the calling thread, none prefetched
    assert seq_log["calls"] == [(threading.get_ident(), False)] * len(r_seq)
    pipe = CdcApplyPipeline(
        spark, wal,
        MergeTable.create(
            spark, f"{tmpdir_path}/b/target", target_schema(),
            key_cols=["repo", "path"],
            version_cols=["commit_seq", "event_seq"], n_buckets=8),
        f"{tmpdir_path}/b/state")
    sixteen_slots(monkeypatch)
    pip_log = record_batches(pipe, monkeypatch)
    r_pip = pipe.run(batch_span=span)
    # every batch after the first took the stats pass run ahead for it
    assert [got for _, got in pip_log["calls"]] == \
        [False] + [True] * (len(r_pip) - 1)
    assert len(r_pip) > 1
    assert [r["batch_id"] for r in r_pip] == [r["batch_id"] for r in r_seq]
    assert [r["n_in"] for r in r_pip] == [r["n_in"] for r in r_seq]
    assert ([r["n_quarantined"] for r in r_pip]
            == [r["n_quarantined"] for r in r_seq])
    assert pipe.checkpoints.get(pipe.pipeline) == hi
    parity(spark, pipe.table, wal)


def test_concurrent_mor_batches_match_sequential(spark, tmpdir_path, wal,
                                                 monkeypatch):
    """At 16 slots a MOR ``run()`` with no compaction cadence keeps two
    delta-append batches in flight; it must converge to the same state
    and per-batch records as a sequential run, with the global hwm at the
    head."""
    def make(sub):
        tbl = MergeTable.create(
            spark, f"{tmpdir_path}/{sub}/target", target_schema(),
            key_cols=["repo", "path"],
            version_cols=["commit_seq", "event_seq"], n_buckets=8)
        return CdcApplyPipeline(spark, wal, tbl, f"{tmpdir_path}/{sub}/state",
                                mode="mor")

    seq = make("seq")
    lo, hi = seq.delivery_range()
    span = max(1, (hi - lo) // 4 + 1)
    seq_log = record_batches(seq, monkeypatch)
    r_seq = seq.run(batch_span=span)  # local[8] in tests: width 1
    assert seq_log["calls"] == [(threading.get_ident(), False)] * len(r_seq)
    seq.table.compact("final-seq")

    con = make("con")
    sixteen_slots(monkeypatch)
    con_log = record_batches(con, monkeypatch, together=2)
    r_con = con.run(batch_span=span)
    assert len(r_con) > 2
    assert con_log["peak"] == 2  # two batches in flight, never more
    assert [r["batch_id"] for r in r_con] == [r["batch_id"] for r in r_seq]
    assert [r["n_in"] for r in r_con] == [r["n_in"] for r in r_seq]
    assert ([r["n_quarantined"] for r in r_con]
            == [r["n_quarantined"] for r in r_seq])
    con.table.compact("final-con")
    assert con.checkpoints.get(con.pipeline) == hi
    parity(spark, con.table, wal)
    # both sinks converge to the identical state
    cols = ["repo", "path", "commit_seq", "event_seq", "content_sha256"]
    a = {tuple(r) for r in seq.table.read().select(*cols).collect()}
    b = {tuple(r) for r in con.table.read().select(*cols).collect()}
    assert a == b


def test_api_misuse_guards(spark, tmpdir_path, wal):
    """r6 hardening: (1) a bucket_slice batch may not publish the global
    watermark — one slice never covers the whole range, so doing so would
    permanently skip the other slices' events; (2) a parquet WAL must
    never fall through to the Kafka-archive malformed-row reader; (3)
    read_buckets rejects a pre-resolved snap passed together with
    version/as_of_ts (the snap silently winning would read the wrong
    snapshot)."""
    pipe = build(spark, tmpdir_path, wal)
    lo, hi = pipe.delivery_range()
    with pytest.raises(ValueError, match="update_global_hwm"):
        pipe.run_batch(lo - 1, hi, bucket_slice=(0, 2))
    with pytest.raises(ValueError, match="parquet"):
        pipe._events_with_malformed()
    pipe.run(batch_span=None)
    tbl = pipe.table
    with pytest.raises(ValueError, match="not both"):
        tbl.read_buckets([0], snap=tbl.snapshot(), version=tbl.version)
