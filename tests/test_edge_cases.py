"""Edge cases: empty WAL, empty batch ranges, all-corrupt batches."""

from pyspark.sql import functions as F

from ore_etl_spark.datagen.wal import generate_wal
from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
from ore_etl_spark.tables.merge_table import MergeTable


def build(spark, tmpdir_path, wal_path):
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/t", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=4,
    )
    return CdcApplyPipeline(spark, wal_path, tbl, f"{tmpdir_path}/s")


def test_empty_wal_run_is_noop(spark, tmpdir_path):
    wal = f"{tmpdir_path}/empty_wal"
    generate_wal(spark, n_keys=10).limit(0).write.parquet(wal)
    p = build(spark, tmpdir_path, wal)
    assert p.run() == []
    assert p.table.read().count() == 0


def test_empty_range_batch_commits_noop_snapshot(spark, tmpdir_path):
    wal = f"{tmpdir_path}/wal"
    generate_wal(spark, n_keys=20).write.parquet(wal)
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    rec = p.run_batch(hi + 100, hi + 200)  # range beyond the WAL head
    assert rec["n_in"] is None or rec["n_in"] == 0
    assert rec["n_inserted"] == 0
    # the empty batch is still recorded (exactly-once bookkeeping)
    assert p.table.is_committed(rec["batch_id"])


def test_all_corrupt_batch_goes_entirely_to_quarantine(spark, tmpdir_path):
    wal = f"{tmpdir_path}/wal"
    ev = generate_wal(spark, n_keys=30).withColumn(
        "payload", F.substring(F.col("payload"), 1, 6)  # truncate everything
    )
    ev.write.parquet(wal)
    p = build(spark, tmpdir_path, wal)
    res = p.run()
    assert len(res) == 1
    assert res[0]["n_quarantined"] == res[0]["n_in"] > 0
    assert p.table.read().count() == 0
    assert p.quarantine().count() == res[0]["n_in"]


def _fail_quarantine_writes(monkeypatch):
    """Make every parquet write into a quarantine dir raise."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        if "/quarantine/" in path:
            raise OSError("injected quarantine write failure")
        return real(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def test_all_corrupt_cow_batch_waits_for_durable_quarantine(
        spark, tmpdir_path, monkeypatch):
    """An all-invalid COW batch touches no bucket, so its commit carries
    only the batch id. It must still wait for its quarantine write: if
    that write fails the batch must not commit, and a rerun parks the
    rows (a committed id would be skipped forever, losing them)."""
    import pytest

    wal = f"{tmpdir_path}/wal"
    generate_wal(spark, n_keys=30).withColumn(
        "payload", F.substring(F.col("payload"), 1, 6)).write.parquet(wal)
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    with monkeypatch.context() as mp:
        _fail_quarantine_writes(mp)
        with pytest.raises(OSError, match="injected"):
            p.run_batch(lo - 1, hi)
    bid = p.batch_id_for(p.pipeline, lo - 1, hi)
    assert not p.table.is_committed(bid)
    assert p.checkpoints.get(p.pipeline) < hi

    rec = p.run_batch(lo - 1, hi)
    assert p.table.is_committed(bid)
    assert p.quarantine().count() == rec["n_quarantined"] == rec["n_in"] > 0


def test_skipped_merge_still_surfaces_quarantine_failure(
        spark, tmpdir_path, monkeypatch):
    """A merge that finds its batch already committed (a concurrent writer
    won) never reaches the pre-commit barrier; run_batch must still await
    the quarantine write and raise its error."""
    import pytest

    wal = f"{tmpdir_path}/wal"
    generate_wal(spark, n_keys=30).withColumn(
        "payload", F.substring(F.col("payload"), 1, 6)).write.parquet(wal)
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    p.run_batch(lo - 1, hi)
    # the pipeline's own is_committed check misses the commit once, as if
    # a peer committed between it and the merge
    real = p.table.is_committed
    calls = []
    monkeypatch.setattr(p.table, "is_committed",
                        lambda b, snap=None: bool(calls.append(b)) or
                        (len(calls) > 1 and real(b, snap)))
    with monkeypatch.context() as mp:
        _fail_quarantine_writes(mp)
        with pytest.raises(OSError, match="injected"):
            p.run_batch(lo - 1, hi)
    assert len(calls) >= 2  # the merge saw the committed id
