"""Changelog read (Delta CDF / Iceberg incremental-read parity), snapshot
expiry + vacuum GC, and manifest-bounds file skipping.

These are the table features a downstream consumer of the CDC engine needs:
pull keyed deltas between two versions instead of re-reading the table
(``changes``), keep storage bounded under continuous ingest
(``expire_snapshots`` + ``vacuum``), and skip files by footer bounds on
range scans (``read_where``). Reference analog: the publish/lineage hooks in
/root/reference/src/services/deploy-etl.ts push downstream notifications;
``changes()`` is the scalable pull-based replacement.
"""

import os

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from ore_etl_spark.tables.merge_table import MergeTable

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit_seq", T.LongType()),
    T.StructField("event_seq", T.LongType()),
    T.StructField("content", T.StringType()),
])


def make_table(spark, tmpdir_path, n_buckets=4, **kw):
    return MergeTable.create(
        spark, f"{tmpdir_path}/tbl", SCHEMA,
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=n_buckets, **kw,
    )


def df(spark, rows):
    schema = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])
    return spark.createDataFrame(rows, schema)


def change_set(tbl, v_from, v_to=None):
    return {
        (r["_change_type"], r["repo"], r["path"], r["commit_seq"], r["content"])
        for r in tbl.changes(v_from, v_to).collect()
    }


# ---------------------------------------------------------------- changes()

def test_changes_insert_update_delete(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [
        ("a", "k1", 1, 0, "v1", "INSERT"),
        ("a", "k2", 1, 1, "v1", "INSERT"),
        ("a", "k3", 1, 2, "v1", "INSERT"),
    ]), "b1")
    v1 = tbl.version
    tbl.merge(df(spark, [
        ("a", "k2", 2, 0, "v2", "UPDATE"),
        ("a", "k3", 2, 1, None, "DELETE"),
        ("a", "k4", 2, 2, "v1", "INSERT"),
    ]), "b2")
    got = change_set(tbl, v1)
    assert got == {
        ("insert", "a", "k4", 2, "v1"),
        ("update_preimage", "a", "k2", 1, "v1"),
        ("update_postimage", "a", "k2", 2, "v2"),
        ("delete", "a", "k3", 1, "v1"),
    }
    # k1 unchanged -> no phantom row even though its bucket may be rewritten
    assert not any(r[2] == "k1" for r in got)
    meta = tbl.changes(v1).select("_from_version", "_to_version").first()
    assert (meta["_from_version"], meta["_to_version"]) == (v1, tbl.version)


def test_changes_scans_only_changed_buckets(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=8)
    rows = [("r", f"p{i}", 1, i, f"v{i}", "INSERT") for i in range(64)]
    tbl.merge(df(spark, rows), "b1")
    v1 = tbl.version
    tbl.merge(df(spark, [("r", "p7", 2, 0, "fixed", "UPDATE")]), "b2")
    def refs(snap):
        return {(r["bucket"], r["path"]) for r in snap["refs"]}
    diff = refs(tbl.snapshot_at(v1)) ^ refs(tbl.snapshot())
    assert len({b for b, _ in diff}) == 1  # manifest diff: one touched bucket
    assert change_set(tbl, v1) == {
        ("update_preimage", "r", "p7", 1, "v7"),
        ("update_postimage", "r", "p7", 2, "fixed"),
    }


def test_changes_across_mor_and_compaction(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge_mor(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    v1 = tbl.version
    tbl.merge_mor(df(spark, [("a", "x", 2, 0, "v2", "UPDATE"),
                             ("a", "y", 2, 1, "v1", "INSERT")]), "b2")
    assert change_set(tbl, v1) == {
        ("update_preimage", "a", "x", 1, "v1"),
        ("update_postimage", "a", "x", 2, "v2"),
        ("insert", "a", "y", 2, "v1"),
    }
    v2 = tbl.version
    tbl.compact("c1")
    # compaction rewrites files but changes no winners -> empty changelog
    assert tbl.changes(v2).count() == 0


def test_changes_net_insert_then_delete_is_empty(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    v1 = tbl.version
    tbl.merge(df(spark, [("a", "t", 2, 0, "tmp", "INSERT")]), "b2")
    tbl.merge(df(spark, [("a", "t", 3, 0, None, "DELETE")]), "b3")
    # key created and deleted inside the interval: net effect is nothing
    assert change_set(tbl, v1) == set()


def test_changes_identical_versions_empty(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    v = tbl.version
    assert tbl.changes(v, v).count() == 0


# ---------------------------------------------------- expire + vacuum (GC)

def test_expire_and_vacuum_reclaim_old_versions(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=2)
    for i in range(5):
        tbl.merge(df(spark, [("a", "x", i + 1, 0, f"v{i + 1}", "UPDATE")]), f"b{i}")
    before = {(r["repo"], r["path"], r["commit_seq"]) for r in tbl.read().collect()}
    expired = tbl.expire_snapshots(keep_last=2)
    assert expired and max(expired) == tbl.version - 2
    with pytest.raises(FileNotFoundError):
        tbl.snapshot_at(expired[-1])  # time travel past retention raises
    stats = tbl.vacuum(min_age_s=0)
    assert stats["removed_dirs"] > 0 and stats["freed_bytes"] > 0
    # current state and in-retention time travel are untouched
    after = {(r["repo"], r["path"], r["commit_seq"]) for r in tbl.read().collect()}
    assert after == before
    assert tbl.read(version=tbl.version - 1).count() == 1
    # every remaining data dir is referenced by some retained snapshot
    assert tbl.vacuum(min_age_s=0) == {
        "removed_dirs": 0, "freed_bytes": 0, "kept_young_dirs": 0}


def test_vacuum_removes_aborted_commit_orphans(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=8)
    rows = [("r", f"p{i}", 1, i, f"v{i}", "INSERT") for i in range(32)]
    src = df(spark, rows)
    tbl.merge(src, "b1")
    bucketed = src.withColumn("_b", tbl.bucket_expr())
    buckets = sorted({r["_b"] for r in bucketed.select("_b").distinct().collect()})
    with pytest.raises(RuntimeError, match="superset"):
        tbl.merge(df(spark, [("r", f"p{i}", 2, i, "x", "UPDATE") for i in range(32)]),
                  "bad", touched_buckets=buckets[:-1])
    # the failed merge left orphan v{N} files whose pointer never flipped
    data_dirs = set(os.listdir(os.path.join(tbl.root, "data")))
    referenced = {r["path"].split(os.sep)[1] for r in tbl.snapshot()["refs"]}
    assert data_dirs - referenced  # orphans exist...
    stats = tbl.vacuum(min_age_s=0)
    assert stats["removed_dirs"] > 0  # ...and vacuum reclaims them
    assert {r["commit_seq"] for r in tbl.read().collect()} == {1}


# ------------------------------------------------- manifest bounds skipping

def test_refs_carry_footer_bounds(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=2)
    tbl.merge(df(spark, [("a", "x", 5, 0, "v", "INSERT"),
                         ("a", "y", 9, 1, "v", "INSERT")]), "b1")
    for r in tbl.snapshot()["refs"]:
        assert "bounds" in r and "commit_seq" in r["bounds"]
        mn, mx = r["bounds"]["commit_seq"]
        assert 5 <= mn <= mx <= 9


def test_read_where_skips_disjoint_files(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=4)
    # make commit_seq correlate with the bucket so per-ref bounds separate
    repos = [f"org{i}" for i in range(16)]
    probe = spark.createDataFrame([(r, "p") for r in repos], ["repo", "path"])
    bmap = {r["repo"]: r["_b"] for r in
            probe.withColumn("_b", tbl.bucket_expr()).collect()}
    rows = [(r, "p", bmap[r] * 100 + i, i, f"c{i}", "INSERT")
            for i, r in enumerate(repos)]
    tbl.merge(df(spark, rows), "b1")
    kept, total = tbl.prune_refs(tbl.snapshot(), "commit_seq", lo=0, hi=99)
    assert total == len({b for b in bmap.values()})
    assert len(kept) == 1  # only bucket 0's file can hold seq <= 99
    got = tbl.read_where("commit_seq", lo=0, hi=99).collect()
    want = [r for r in rows if 0 <= r[2] <= 99]
    assert {(r["repo"], r["commit_seq"]) for r in got} == {(r[0], r[2]) for r in want}


def test_read_where_never_prunes_delta_buckets(spark, tmpdir_path):
    """MOR safety: pruning a delta file could resurrect a stale LWW loser,
    so buckets holding deltas are read in full (residual filter still
    applies)."""
    tbl = make_table(spark, tmpdir_path, n_buckets=1)
    tbl.merge_mor(df(spark, [("a", "x", 10, 0, "old", "INSERT")]), "b1")
    tbl.merge_mor(df(spark, [("a", "x", 500, 0, "new", "UPDATE")]), "b2")
    kept, total = tbl.prune_refs(tbl.snapshot(), "commit_seq", lo=0, hi=50)
    assert len(kept) == total == 2  # nothing pruned despite disjoint bounds
    # winner (seq=500) is outside the range -> key excluded entirely,
    # and the stale seq=10 row must NOT leak through
    assert tbl.read_where("commit_seq", lo=0, hi=50).count() == 0


def test_changes_across_schema_evolution(spark, tmpdir_path):
    """An interval that widens the schema: preimages of rows written
    before the new column existed carry NULL for it; postimages carry the
    new value. The changelog schema is always the TO-side schema."""
    import pyspark.sql.types as T

    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    v1 = tbl.version
    evolved = T.StructType(SCHEMA.fields + [
        T.StructField("stars", T.LongType()),
        T.StructField("op", T.StringType()),
    ])
    tbl.merge(spark.createDataFrame(
        [("a", "x", 2, 0, "v2", 7, "UPDATE")], evolved), "b2")
    rows = {r["_change_type"]: r for r in tbl.changes(v1).collect()}
    assert set(rows) == {"update_preimage", "update_postimage"}
    assert rows["update_preimage"]["stars"] is None   # pre-evolution row
    assert rows["update_postimage"]["stars"] == 7
    assert rows["update_postimage"]["content"] == "v2"


def test_changes_still_works_after_vacuum_of_interior_versions(spark, tmpdir_path):
    """Vacuum keeps every file referenced by ANY retained snapshot — refs
    carried forward from expired versions survive, so changes() between
    two retained versions is unaffected by GC of the interval's history."""
    tbl = make_table(spark, tmpdir_path, n_buckets=2)
    for i in range(5):
        tbl.merge(df(spark, [("a", f"k{i}", i + 1, 0, f"v{i + 1}", "INSERT")]),
                  f"b{i}")
    v3, v5 = tbl.version - 2, tbl.version
    tbl.expire_snapshots(keep_last=3)  # v1, v2 gone
    tbl.vacuum(min_age_s=0)
    got = change_set(tbl, v3, v5)
    assert got == {
        ("insert", "a", "k3", 4, "v4"),
        ("insert", "a", "k4", 5, "v5"),
    }
    # rows written back at v1/v2 are still readable through v3's manifest
    assert tbl.read(version=v3).count() == 3


def test_changes_sees_update_where_repairs(spark, tmpdir_path):
    """A repair rewrites values WITHOUT bumping versions — the changelog
    must still emit update pre/post images (full-row comparison), or
    downstream consumers diverge from the table."""
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "k1", 1, 0, "broken", "INSERT"),
                         ("a", "k2", 1, 1, "fine", "INSERT")]), "b1")
    v1 = tbl.version
    tbl.update_where(F.col("content") == "broken",
                     {"content": F.lit("fixed")}, "repair1")
    got = change_set(tbl, v1)
    assert got == {
        ("update_preimage", "a", "k1", 1, "broken"),
        ("update_postimage", "a", "k1", 1, "fixed"),
    }
    # and compaction-style no-op rewrites still emit nothing
    tbl.compact("c1")
    assert tbl.changes(tbl.version - 1).count() == 0


def test_lookup_respects_key_cols_order(spark, tmpdir_path):
    """key_cols order differs from schema field order: probe tuples bind
    by key_cols position, not schema position."""
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/swapped", SCHEMA,
        key_cols=["path", "repo"],  # reversed vs schema order (repo, path)
        version_cols=["commit_seq", "event_seq"], n_buckets=4,
    )
    rows = [("r", f"p{i}", 1, i, f"v{i}", "INSERT") for i in range(16)]
    schema = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])
    tbl.merge(spark.createDataFrame(rows, schema), "b1")
    out = tbl.lookup([("p3", "r")])  # (path, repo) order
    got = [(r["repo"], r["path"], r["content"]) for r in out.collect()]
    assert got == [("r", "p3", "v3")]
