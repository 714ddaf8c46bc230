"""One resolve-and-rewrite step for every bucket-replacing write.

``merge``, ``update_where``, ``compact`` and ``rebucket`` all lay out and
resolve through ``MergeTable._rewrite``: one Exchange, each written bucket
placed by its rank in the write's sorted bucket set, so a sparse or
sliced set spreads one bucket per write task.
"""

from pyspark.sql import functions as F

from ore_etl_spark.datagen.wal import generate_wal
from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
from ore_etl_spark.tables.merge_table import MergeTable

from tests.jobs import jobs_run
from tests.test_merge_table import df, make_table, state

SPARSE = {0, 4, 8, 12}


def _spy_writes(tbl):
    """Record the frame each commit of ``tbl`` writes."""
    written, write = [], tbl._write_and_commit

    def spy(snap, batch_id, out, *a, **kw):
        written.append(out)
        return write(snap, batch_id, out, *a, **kw)

    tbl._write_and_commit = spy
    return written


def _buckets_per_task(out):
    return out.rdd.glom().map(
        lambda rows: sorted({r["_bucket"] for r in rows})).collect()


def _rows_in(spark, tbl, buckets, n, v):
    """``n`` rows (version ``v``) whose keys all hash into ``buckets``."""
    keys = (spark.range(4 * n * 16 // len(buckets))
            .select(F.lit("r").alias("repo"),
                    F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"))
            .withColumn("_b", tbl.bucket_expr())
            .filter(F.col("_b").isin(*buckets)).limit(n).collect())
    assert {k["_b"] for k in keys} == set(buckets)
    return [(k["repo"], k["path"], v, 0, f"v{v}", "UPDATE") for k in keys]


def test_sparse_compaction_and_merge_put_one_bucket_per_task(
        spark, tmpdir_path):
    """A compaction of dirty buckets {0, 4, 8, 12} of 16, and a COW merge
    over the same set, each write one bucket in each of 4 tasks."""
    tbl = make_table(spark, tmpdir_path, n_buckets=16)
    rows1 = _rows_in(spark, tbl, SPARSE, 40, 1)
    for v in (1, 2):
        tbl.merge_mor(df(spark, [(*r[:2], v, *r[3:]) for r in rows1]), f"b{v}")
    written = _spy_writes(tbl)
    assert tbl.compact("c1").n_buckets_touched == 4
    assert _buckets_per_task(written[-1]) == [[0], [4], [8], [12]]

    m = tbl.merge(df(spark, [(*r[:2], 3, *r[3:]) for r in rows1]), "b3")
    assert m.n_buckets_touched == 4 and m.n_updated == len(rows1)
    assert _buckets_per_task(written[-1]) == [[0], [4], [8], [12]]
    assert state(tbl) == {r[:2]: (3, "v1") for r in rows1}


def test_bucket_sliced_cow_batch_puts_one_bucket_per_task(spark, tmpdir_path):
    """Slice (1, 4) of a 16-bucket COW batch touches buckets {1, 5, 9, 13};
    the write puts one of them in each of 4 tasks."""
    wal = f"{tmpdir_path}/events"
    generate_wal(spark, n_keys=200, n_partitions=2).write.parquet(wal)
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/target", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=16)
    pipe = CdcApplyPipeline(spark, wal, tbl, f"{tmpdir_path}/state")
    written = _spy_writes(tbl)
    lo, hi = pipe.delivery_range()
    pipe.run_batch(lo - 1, hi, update_global_hwm=False, bucket_slice=(1, 4))
    assert _buckets_per_task(written[-1]) == [[1], [5], [9], [13]]


def test_update_where_with_deltas_plans_one_exchange(spark, tmpdir_path):
    """The repair resolves the touched buckets' deltas and lays them out
    in one Exchange; every assignment sees the pre-repair row."""
    tbl = make_table(spark, tmpdir_path, n_buckets=8)
    tbl.merge_mor(df(spark, [("r", f"p{k}", 1, k, "broken", "INSERT")
                             for k in range(16)]), "b1")
    tbl.merge_mor(df(spark, [("r", "p0", 2, 0, "ok", "UPDATE")]), "b2")
    written = _spy_writes(tbl)
    m = tbl.update_where(F.col("content") == "broken",
                         {"content": F.lit("fixed"),
                          "event_seq": F.when(F.col("content") == "broken",
                                              F.lit(99))},
                         "fix1")
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert m.n_updated == 15
    want = {("r", f"p{k}"): (1, "fixed") for k in range(1, 16)}
    want[("r", "p0")] = (2, "ok")
    assert state(tbl) == want
    assert {r["event_seq"] for r in tbl.read().collect()
            if r["path"] != "p0"} == {99}


def test_merge_without_bucket_set_leaves_nothing_persisted(spark, tmpdir_path):
    """A merge that names no bucket set evaluates its source once, from a
    cache it releases before returning."""
    tbl = make_table(spark, tmpdir_path)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    m = tbl.merge(df(spark, [("a", "x", 1, 0, "v", "INSERT"),
                             ("b", "y", 1, 0, "v", "INSERT")]), "b1")
    assert m.n_inserted == 2
    assert persisted().size() == before
    assert state(tbl) == {("a", "x"): (1, "v"), ("b", "y"): (1, "v")}


def test_lookup_probe_starts_no_job(spark, tmpdir_path):
    """The key probe is a local relation: building the lookup, for a key
    with a NULL component too, starts no Spark job."""
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT"),
                         (None, "y", 1, 0, "v2", "INSERT"),
                         ("c", "z", 1, 0, "v3", "INSERT")]), "b1")
    frame, n_jobs = jobs_run(spark, lambda: tbl.lookup([("a", "x"), (None, "y")]))
    assert n_jobs == 0
    assert {(r["repo"], r["path"], r["content"]) for r in frame.collect()} == \
        {("a", "x", "v1"), (None, "y", "v2")}
