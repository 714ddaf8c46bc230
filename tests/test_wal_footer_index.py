"""Footer-indexed WAL planning: the head and the batch scan of a parquet
WAL come from per-file ``delivery_seq`` footer bounds, and must answer
exactly what the Spark aggregate / whole-directory read answers."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ore_etl_spark.datagen.wal import generate_wal
from ore_etl_spark.pipeline import apply as apply_mod
from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
from ore_etl_spark.tables.merge_table import MergeTable

from tests.jobs import jobs_run


def _pipe(spark, tmpdir_path, wal, **kw):
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/target", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=4,
    )
    return CdcApplyPipeline(spark, wal, tbl, f"{tmpdir_path}/state", **kw)


def _spark_range(spark, wal, fmt="parquet"):
    r = spark.read.format(fmt).load(wal).agg(
        F.min("delivery_seq"), F.max("delivery_seq")).collect()[0]
    return (r[0], r[1])


def _write_seqs(path, seqs):
    pq.write_table(pa.table({"delivery_seq": pa.array(seqs, pa.int64())}),
                   path)


def test_delivery_range_tracks_added_rewritten_and_hidden_files(
        spark, tmpdir_path, monkeypatch):
    wal = f"{tmpdir_path}/wal"
    generate_wal(spark, n_keys=40, n_partitions=2).select("delivery_seq") \
        .write.parquet(wal)
    # hidden files Spark's reader skips, one of them not even parquet
    with open(f"{wal}/.x", "wb") as f:
        f.write(b"not parquet")
    _write_seqs(f"{wal}/_hidden.parquet", [-5, 10 ** 15])
    assert os.path.exists(f"{wal}/_SUCCESS")

    reads = []
    real = apply_mod._footer_bounds
    monkeypatch.setattr(apply_mod, "_footer_bounds",
                        lambda p: reads.append(p) or real(p))
    p = _pipe(spark, tmpdir_path, wal)
    got, jobs = jobs_run(spark, p.delivery_range)
    assert got == _spark_range(spark, wal)
    assert jobs == 0
    n_data = len(reads)
    assert n_data >= 1 and not any(
        os.path.basename(r).startswith(("_", ".")) for r in reads)

    # a new file: only its footer is read
    _write_seqs(f"{wal}/zz-new.parquet", [got[1] + 7, got[1] + 3])
    reads.clear()
    got2, jobs = jobs_run(spark, p.delivery_range)
    assert got2 == _spark_range(spark, wal) == (got[0], got[1] + 7)
    assert jobs == 0 and [os.path.basename(r) for r in reads] == ["zz-new.parquet"]

    # rewritten at the same path (new size and mtime): re-read
    _write_seqs(f"{wal}/zz-new.parquet", [got[0] - 9, got[1] + 100, 1, 2])
    reads.clear()
    got3 = p.delivery_range()
    assert got3 == _spark_range(spark, wal) == (got[0] - 9, got[1] + 100)
    assert [os.path.basename(r) for r in reads] == ["zz-new.parquet"]

    # unchanged listing: no footer is read again
    reads.clear()
    assert p.delivery_range() == got3 and reads == []


def test_jsonl_and_null_row_group_fall_back_to_spark(spark, tmpdir_path):
    pq_wal = f"{tmpdir_path}/pq"
    generate_wal(spark, n_keys=30, n_partitions=2).write.parquet(pq_wal)
    jl = f"{tmpdir_path}/jl"
    spark.read.parquet(pq_wal).write.json(jl)
    pj = _pipe(spark, f"{tmpdir_path}/a", jl, events_format="jsonl")
    assert pj._wal_files() is None
    got, jobs = jobs_run(spark, pj.delivery_range)
    assert got == _spark_range(spark, pq_wal) and jobs > 0

    # a file whose second row group has an all-null delivery_seq: its
    # footer has no min/max for the file, so the head is Spark's aggregate
    nul = f"{tmpdir_path}/nul"
    os.makedirs(nul)
    pq.write_table(
        pa.table({"delivery_seq": pa.array([5, 9, None, None], pa.int64())}),
        f"{nul}/part-0.parquet", row_group_size=2)
    _write_seqs(f"{nul}/part-1.parquet", [3, 4])
    pn = _pipe(spark, f"{tmpdir_path}/b", nul)
    files = pn._wal_files()
    assert [b for _, _, b in files] == [None, [3, 4]]
    got, jobs = jobs_run(spark, pn.delivery_range)
    assert got == _spark_range(spark, nul) == (3, 9) and jobs > 0


def test_pruned_batch_equals_filtered_whole_dir_read(spark, tmpdir_path):
    wal = f"{tmpdir_path}/wal"
    ev = generate_wal(spark, n_keys=200, n_partitions=4)
    ev.repartitionByRange(4, "delivery_seq").write.parquet(wal)
    # a later file carrying an extra column: the whole-dir read takes its
    # schema from the first file, so the column is not in the batch
    extra = spark.read.parquet(wal).orderBy(F.desc("delivery_seq")).limit(5) \
        .withColumn("delivery_seq", F.col("delivery_seq") + 10 ** 6) \
        .withColumn("late_col", F.lit(1))
    extra.coalesce(1).write.parquet(f"{tmpdir_path}/extra")
    part, = [f for f in os.listdir(f"{tmpdir_path}/extra")
             if f.endswith(".parquet")]
    os.rename(f"{tmpdir_path}/extra/{part}", f"{wal}/zz-extra.parquet")
    # a file inside the range holding a NULL delivery_seq row: never in a
    # batch, whichever row filter the pruned read picks
    nul = spark.read.parquet(wal).orderBy("delivery_seq").limit(4) \
        .withColumn("_rn", F.expr("row_number() over (order by delivery_seq)")) \
        .withColumn("delivery_seq", F.when(F.col("_rn") <= 2, None)
                    .otherwise(F.col("delivery_seq") + 2 * 10 ** 6)) \
        .drop("_rn")
    nul.coalesce(1).write.parquet(f"{tmpdir_path}/nul")
    part, = [f for f in os.listdir(f"{tmpdir_path}/nul")
             if f.endswith(".parquet")]
    os.rename(f"{tmpdir_path}/nul/{part}", f"{wal}/zz-nul.parquet")
    assert spark.read.parquet(f"{wal}/zz-nul.parquet").filter(
        F.col("delivery_seq").isNull()).count() == 2

    p = _pipe(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    n_files = len(p._wal_files())
    mid = lo + (hi - 3 * 10 ** 6 - lo) // 2
    for a, b in [(lo - 1, hi), (mid, hi), (lo + 3, mid), (mid, mid + 1),
                 (hi - 10 ** 6, hi), (hi, hi + 5)]:
        got = p._range_events(a, b)
        exp = spark.read.parquet(wal).filter(
            (F.col("delivery_seq") > a) & (F.col("delivery_seq") <= b))
        assert got.schema == exp.schema
        assert "late_col" not in got.columns
        assert (sorted(map(repr, got.collect()))
                == sorted(map(repr, exp.collect())))
    # a narrow range opens only the files that can hold it
    assert len(p._range_events(mid, mid + 1).inputFiles()) < n_files
