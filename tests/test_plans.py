"""Physical-plan assertions: the optimizations we rely on must stay in the
plan (predicate pushdown, column pruning, partial aggregation, broadcast).
A plan regression at sandbox scale is a cliff at 100 TB.
"""

import pytest
from pyspark.sql import functions as F

from ore_etl_spark.datagen.wal import generate_wal


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def wal_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "wal")
    generate_wal(spark, n_keys=200, n_partitions=2).write.parquet(p)
    return p


def test_watermark_filter_pushed_to_parquet(spark, wal_path):
    df = spark.read.parquet(wal_path).filter(
        (F.col("delivery_seq") > 100) & (F.col("delivery_seq") <= 2000)
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(delivery_seq,100)" in plan
    assert "LessThanOrEqual(delivery_seq,2000)" in plan


def test_column_pruning_reaches_scan(spark, wal_path):
    df = spark.read.parquet(wal_path).select("repo", "commit_seq")
    plan = plan_of(df)
    # ReadSchema must contain only the projected columns — a scan that
    # reads payload/content for a 2-column projection is wrong
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "repo" in rs and "commit_seq" in rs
    assert "payload" not in rs and "lang" not in rs


def test_decode_stays_in_wholestage_codegen(spark, wal_path):
    from ore_etl_spark.operators.decode import decode_events

    plan = plan_of(decode_events(spark.read.parquet(wal_path)))
    # '*(n)' prefixes mark WholeStageCodegen stages in executedPlan output
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "ArrowEvalPython" not in plan  # JVM fast path has zero Python


def test_lww_dedup_is_partial_agg_no_sort(spark, wal_path):
    from ore_etl_spark.operators.lww import dedupe_lww

    df = spark.read.parquet(wal_path)
    plan = plan_of(dedupe_lww(df, ["repo", "path"], ["commit_seq", "event_seq"]))
    assert "Window" not in plan
    assert "partial_max" in plan
    # exactly one exchange (the key hash), nothing more
    assert plan.count("Exchange hashpartitioning") == 1


def test_small_dim_join_broadcasts(spark):
    big = spark.range(100000).withColumn("k", F.col("id") % 100)
    small = spark.range(100).withColumnRenamed("id", "k2")
    j = big.join(F.broadcast(small), big.k == small.k2)
    assert "BroadcastHashJoin" in plan_of(j)


def test_topk_uses_take_ordered(spark, wal_path):
    df = (spark.read.parquet(wal_path)
          .orderBy(F.desc("commit_seq")).limit(10))
    assert "TakeOrderedAndProject" in plan_of(df)


def test_mor_fastpath_apply_has_no_exchange(spark, wal_path, tmpdir_path):
    """read -> decode -> select is narrow (no Exchange); the MOR append
    adds exactly one, the bucket exchange that gives each touched bucket
    one delta file."""
    from ore_etl_spark.operators.decode import decode_events
    from ore_etl_spark.pipeline.apply import TARGET_FIELDS, target_schema
    from ore_etl_spark.tables.merge_table import MergeTable

    cols = [n for n, _ in TARGET_FIELDS] + ["op"]
    df = decode_events(spark.read.parquet(wal_path)) \
        .filter(F.col("is_valid")).select(*cols)
    assert "Exchange" not in plan_of(df)

    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/mor", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=8)
    written = []
    write = tbl._write_and_commit

    def spy(snap, batch_id, out, *a, **kw):
        written.append(out)
        return write(snap, batch_id, out, *a, **kw)

    tbl._write_and_commit = spy
    tbl.merge_mor(df, "b1")
    plan = plan_of(written[0])
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Exchange shufflepartitionidpassthrough("
                      "direct_shuffle_partition_id(_rank") == 1, plan


def test_sessionize_single_exchange(spark):
    """Both windows (lag, running sum) and the session aggregate group on
    user_id — the plan must hash-exchange once, then stay partition-local."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_win_sessionize(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_changelog_scans_only_changed_bucket_files(spark, tmp_path_factory):
    """changes() must read only the manifest-diff buckets: the files behind
    the changelog scan exclude untouched buckets entirely."""
    import pyspark.sql.types as T

    from ore_etl_spark.tables.merge_table import MergeTable

    root = str(tmp_path_factory.mktemp("cdf") / "tbl")
    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit_seq", T.LongType()),
        T.StructField("event_seq", T.LongType()),
        T.StructField("content", T.StringType()),
        T.StructField("op", T.StringType()),
    ])
    tbl = MergeTable.create(
        spark, root, T.StructType(schema.fields[:-1]),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=8,
    )
    rows = [("r", f"p{i}", 1, i, f"v{i}", "INSERT") for i in range(64)]
    tbl.merge(spark.createDataFrame(rows, schema), "b1")
    v1 = tbl.version
    tbl.merge(spark.createDataFrame([("r", "p7", 2, 0, "x", "UPDATE")], schema), "b2")
    files = tbl.changes(v1).inputFiles()
    buckets = {f.split("_bucket=")[1].split("/")[0] for f in files}
    assert len(buckets) == 1  # only the touched bucket's files are read


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark gram side must broadcast — a shuffled join on the
    gram would move the full corpus gram set for a tiny benchmark."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_text_decontaminate(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_changes_join_is_not_nested_loop(spark, tmp_path_factory):
    """Null-safe key equality must still plan as a hash/sort-merge join —
    a nested-loop here would be quadratic at scale."""
    import pyspark.sql.types as T

    from ore_etl_spark.tables.merge_table import MergeTable

    root = str(tmp_path_factory.mktemp("nsj") / "tbl")
    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit_seq", T.LongType()),
        T.StructField("event_seq", T.LongType()),
        T.StructField("content", T.StringType()),
        T.StructField("op", T.StringType()),
    ])
    tbl = MergeTable.create(
        spark, root, T.StructType(schema.fields[:-1]),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=4,
    )
    rows = [("r", f"p{i}", 1, i, "v", "INSERT") for i in range(32)]
    tbl.merge(spark.createDataFrame(rows, schema), "b1")
    tbl.merge(spark.createDataFrame([("r", "p1", 2, 0, "x", "UPDATE")], schema), "b2")
    plan = plan_of(tbl.changes(tbl.version - 1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_is_never_all_pairs(spark):
    """KNN join must stay blocked: candidates come from an equi-join on
    (band, band_key) — a cartesian/nested-loop here is N^2 at scale."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_sim_knn_join(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
