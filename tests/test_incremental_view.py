"""IncrementalAggView: changelog-driven materialized aggregates.

Invariant pinned here: after every refresh, the view equals a full
groupBy-recompute of the source table — through inserts, value updates,
group-moving updates (a row's group column changes), deletes, group
extinction, idempotent re-refresh, and the expired-base full-rebuild
fallback. The refresh itself must be O(delta): its MERGE touches only the
changed groups' buckets.
"""

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from ore_etl_spark.pipeline.incremental_view import IncrementalAggView
from ore_etl_spark.tables.merge_table import MergeTable

from tests.jobs import jobs_run

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit_seq", T.LongType()),
    T.StructField("event_seq", T.LongType()),
    T.StructField("lang", T.StringType()),
    T.StructField("size", T.DoubleType()),
])


@pytest.fixture()
def source(spark, tmpdir_path):
    return MergeTable.create(
        spark, f"{tmpdir_path}/src", SCHEMA,
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=4,
    )


def df(spark, rows):
    schema = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])
    return spark.createDataFrame(rows, schema)


def brute(source):
    out = {}
    for r in (source.read().groupBy("lang")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("size").alias("s")).collect()):
        out[r["lang"]] = (r["n"], round(r["s"], 6))
    return out


def view_state(view):
    out = {}
    for r in view.read().collect():
        out[r["lang"]] = (r["n_rows"], round(r["sum_size"], 6))
    return out


def make_view(spark, source, tmpdir_path):
    return IncrementalAggView(
        spark, source, f"{tmpdir_path}/view",
        group_cols=["lang"], sum_cols=["size"], n_buckets=4,
    )


def test_view_tracks_source_through_all_change_types(spark, source, tmpdir_path):
    view = make_view(spark, source, tmpdir_path)
    rows = [("r", f"p{i}", 1, i, "py" if i % 2 else "go", float(i)) for i in range(20)]
    source.merge(df(spark, [(*r, "INSERT") for r in rows]), "b1")
    assert view.refresh()["mode"] == "full"  # first build
    assert view_state(view) == brute(source)

    # updates (size change), group-moving updates (lang change), deletes,
    # fresh inserts — all in one batch
    source.merge(df(spark, [
        ("r", "p1", 2, 0, "py", 100.0, "UPDATE"),    # size change
        ("r", "p3", 2, 1, "rs", 3.0, "UPDATE"),      # group move py -> rs
        ("r", "p2", 2, 2, None, None, "DELETE"),     # delete a go row
        ("r", "p99", 2, 3, "go", 7.5, "INSERT"),     # new row
    ]), "b2")
    res = view.refresh()
    assert res["mode"] == "incremental"
    assert view_state(view) == brute(source)

    # re-refresh with no source change is a no-op
    assert view.refresh()["mode"] == "noop"
    assert view_state(view) == brute(source)


def test_group_extinction_tombstones_view_row(spark, source, tmpdir_path):
    view = make_view(spark, source, tmpdir_path)
    source.merge(df(spark, [
        ("r", "a", 1, 0, "py", 1.0, "INSERT"),
        ("r", "b", 1, 1, "rs", 2.0, "INSERT"),
    ]), "b1")
    view.refresh()
    source.merge(df(spark, [("r", "b", 2, 0, None, None, "DELETE")]), "b2")
    assert view.refresh()["mode"] == "incremental"
    assert view_state(view) == brute(source)
    assert "rs" not in view_state(view)  # extinct group is gone, not zero


def test_refresh_touches_only_changed_group_buckets(spark, source, tmpdir_path):
    view = make_view(spark, source, tmpdir_path)
    langs = [f"l{i}" for i in range(16)]
    rows = [("r", f"p{i}", 1, i, langs[i % 16], 1.0) for i in range(64)]
    source.merge(df(spark, [(*r, "INSERT") for r in rows]), "b1")
    view.refresh()
    refs_before = {r["bucket"]: r["path"] for r in view.table.snapshot()["refs"]}
    source.merge(df(spark, [("r", "p0", 2, 0, "l0", 50.0, "UPDATE")]), "b2")
    res = view.refresh()
    assert res["mode"] == "incremental" and res["groups_touched"] == 1
    refs_after = {r["bucket"]: r["path"] for r in view.table.snapshot()["refs"]}
    changed = {b for b in refs_before if refs_after[b] != refs_before[b]}
    assert len(changed) == 1  # one group -> one bucket rewritten
    assert view_state(view) == brute(source)


def test_incremental_refresh_evaluates_its_delta_once(spark, source, tmpdir_path):
    """The view merge names no bucket set, so it takes the set from the
    pass that materializes its source and writes from that, instead of
    running the changelog scan, delta aggregate and view join twice."""
    view = make_view(spark, source, tmpdir_path)
    langs = [f"l{i}" for i in range(50)]
    source.merge(df(spark, [("r", f"p{i}", 1, i, langs[i % 50], 1.0, "INSERT")
                            for i in range(100)]), "b1")
    view.refresh()
    source.merge(df(spark, [("r", f"p{i}", 2, i, langs[(i + 1) % 50], 2.0,
                             "UPDATE") for i in range(0, 100, 3)]), "b2")
    res, n_jobs = jobs_run(spark, view.refresh)
    assert res["mode"] == "incremental"
    assert n_jobs <= 9  # 10 when the source ran twice
    assert view_state(view) == brute(source)


def test_expired_base_falls_back_to_full_rebuild(spark, source, tmpdir_path):
    view = make_view(spark, source, tmpdir_path)
    source.merge(df(spark, [("r", "a", 1, 0, "py", 1.0, "INSERT")]), "b1")
    view.refresh()
    for i in range(4):
        source.merge(df(spark, [("r", "a", 2 + i, 0, "py", 2.0 + i, "UPDATE")]),
                     f"u{i}")
    source.expire_snapshots(keep_last=2)  # drops the view's base snapshot
    res = view.refresh()
    assert res["mode"] == "full"
    assert view_state(view) == brute(source)
    # and incremental service resumes from the new base
    source.merge(df(spark, [("r", "z", 10, 0, "go", 9.0, "INSERT")]), "b9")
    assert view.refresh()["mode"] == "incremental"
    assert view_state(view) == brute(source)


def test_null_group_accumulates_not_overwrites(spark, source, tmpdir_path):
    """NULL group values must null-safe-join to their stored row — a
    second refresh increments the NULL group instead of resetting it."""
    view = make_view(spark, source, tmpdir_path)
    source.merge(df(spark, [
        ("r", "a", 1, 0, None, 2.0, "INSERT"),
        ("r", "b", 1, 1, None, 3.0, "INSERT"),
        ("r", "c", 1, 2, "py", 1.0, "INSERT"),
    ]), "b1")
    view.refresh()
    source.merge(df(spark, [("r", "d", 2, 0, None, 5.0, "INSERT")]), "b2")
    assert view.refresh()["mode"] == "incremental"
    got = {r["lang"]: (r["n_rows"], r["sum_size"]) for r in view.read().collect()}
    assert got[None] == (3, 10.0) and got["py"] == (1, 1.0)
    # full rebuild (via expired base) must not declare the NULL group gone
    source.merge(df(spark, [("r", "e", 3, 0, "py", 4.0, "INSERT")]), "b3")
    source.expire_snapshots(keep_last=1)
    assert view.refresh()["mode"] == "full"
    got2 = {r["lang"]: (r["n_rows"], r["sum_size"]) for r in view.read().collect()}
    assert got2[None] == (3, 10.0) and got2["py"] == (2, 5.0)


def test_crash_before_checkpoint_does_not_double_fold(spark, source, tmpdir_path):
    """Crash between the view merge and the checkpoint write: the view
    table's own batch-id manifest (atomic with the data) is authoritative,
    so the next refresh resumes from the folded version instead of
    re-applying the overlapping interval and double-counting."""
    view = make_view(spark, source, tmpdir_path)
    source.merge(df(spark, [("r", "a", 1, 0, "py", 5.0, "INSERT")]), "b1")
    view.refresh()
    v1 = source.version
    source.merge(df(spark, [("r", "a", 2, 0, "py", 50.0, "UPDATE")]), "b2")
    view.refresh()  # folds delta: sum_size 5 -> 50
    view.state.set("view", v1)  # simulate the lost checkpoint write
    source.merge(df(spark, [("r", "b", 3, 0, "py", 1.0, "INSERT")]), "b3")
    assert view.refresh()["mode"] == "incremental"
    assert view_state(view) == brute(source)  # 51.0, not 96.0 double-fold
