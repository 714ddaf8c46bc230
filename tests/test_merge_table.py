"""MergeTable: conditional LWW MERGE, tombstones, exactly-once, evolution.

Mirrors the reference's upsert-sink semantics tests (SURVEY §5) but asserts
the *stronger* contract: stale replays never overwrite newer state.
"""

from dataclasses import asdict

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from ore_etl_spark.tables.merge_table import MergeTable

from tests.jobs import jobs_run

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit_seq", T.LongType()),
    T.StructField("event_seq", T.LongType()),
    T.StructField("content", T.StringType()),
])


def make_table(spark, tmpdir_path, n_buckets=4):
    return MergeTable.create(
        spark, f"{tmpdir_path}/tbl", SCHEMA,
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=n_buckets,
    )


def df(spark, rows, extra_schema=None):
    schema = T.StructType(
        SCHEMA.fields + [T.StructField("op", T.StringType())]
        + (extra_schema or [])
    )
    return spark.createDataFrame(rows, schema)


def state(tbl):
    return {
        (r["repo"], r["path"]): (r["commit_seq"], r["content"])
        for r in tbl.read().collect()
    }


def test_insert_update_delete(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    m1 = tbl.merge(df(spark, [
        ("a", "x", 1, 0, "v1", "INSERT"),
        ("a", "y", 1, 1, "v1", "INSERT"),
        ("b", "z", 1, 2, "v1", "INSERT"),
    ]), "b1")
    assert m1.n_inserted == 3 and m1.n_updated == 0
    m2 = tbl.merge(df(spark, [
        ("a", "x", 2, 0, "v2", "UPDATE"),
        ("b", "z", 2, 1, None, "DELETE"),
        ("c", "w", 2, 2, "v1", "INSERT"),
    ]), "b2")
    assert m2.n_updated >= 1 and m2.n_deleted == 1
    s = state(tbl)
    assert s[("a", "x")] == (2, "v2")
    assert s[("a", "y")] == (1, "v1")
    assert ("b", "z") not in s
    assert s[("c", "w")] == (2, "v1")


def test_conditional_lww_rejects_stale(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 5, 0, "new", "INSERT")]), "b1")
    m = tbl.merge(df(spark, [("a", "x", 3, 0, "old", "UPDATE")]), "b2")
    assert m.n_stale_ignored == 1 and m.n_updated == 0
    assert state(tbl)[("a", "x")] == (5, "new")


def test_tombstone_blocks_out_of_order_resurrection(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    tbl.merge(df(spark, [("a", "x", 9, 0, None, "DELETE")]), "b2")
    # late out-of-order update older than the delete must NOT resurrect
    tbl.merge(df(spark, [("a", "x", 5, 0, "late", "UPDATE")]), "b3")
    assert ("a", "x") not in state(tbl)
    # but a genuinely newer insert revives the key
    tbl.merge(df(spark, [("a", "x", 12, 0, "reborn", "INSERT")]), "b4")
    assert state(tbl)[("a", "x")] == (12, "reborn")


def test_in_batch_dedup_single_survivor(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [
        ("a", "x", 1, 0, "first", "INSERT"),
        ("a", "x", 3, 0, "winner", "UPDATE"),
        ("a", "x", 2, 0, "middle", "UPDATE"),
        ("a", "x", 3, 0, "winner", "UPDATE"),  # verbatim duplicate
    ]), "b1")
    assert state(tbl)[("a", "x")] == (3, "winner")


def test_exactly_once_batch_replay_noop(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    rows = [("a", "x", 1, 0, "v1", "INSERT")]
    m1 = tbl.merge(df(spark, rows), "batch-1")
    v1 = tbl.version
    m2 = tbl.merge(df(spark, [("a", "x", 7, 0, "SHOULD_NOT_APPLY", "UPDATE")]),
                   "batch-1")  # same batch id -> no-op
    assert m2.skipped_already_committed
    assert tbl.version == v1
    assert state(tbl)[("a", "x")] == (1, "v1")
    assert not m1.skipped_already_committed


def test_bucket_pruning_rewrites_only_touched(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=8)
    rows = [(f"r{i}", f"p{i}", 1, i, "v1", "INSERT") for i in range(40)]
    tbl.merge(df(spark, rows), "b1")
    snap1 = tbl.snapshot()
    m = tbl.merge(df(spark, [("r0", "p0", 2, 0, "v2", "UPDATE")]), "b2")
    snap2 = tbl.snapshot()
    assert m.n_buckets_touched == 1
    # untouched buckets keep their old file refs
    refs1 = {r["bucket"]: r["path"] for r in snap1["refs"]}
    refs2 = {r["bucket"]: r["path"] for r in snap2["refs"]}
    changed = [b for b in refs1 if refs1[b] != refs2.get(b)]
    assert len(changed) == 1
    assert len(state(tbl)) == 40


def test_schema_evolution_additive_and_widening(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    # additive column size_bytes + widening: send int where table has long
    extra = [T.StructField("size_bytes", T.LongType())]
    d2 = df(spark, [("a", "y", 2, 0, "v1", "INSERT", 123)], extra)
    tbl.merge(d2, "b2")
    out = {(r["repo"], r["path"]): r.asDict() for r in tbl.read().collect()}
    assert out[("a", "x")]["size_bytes"] is None  # old rows readable, null-filled
    assert out[("a", "y")]["size_bytes"] == 123
    # widening: int commit_seq source into long table column works
    d3 = spark.createDataFrame(
        [("a", "x", 3, 0, "v3", "UPDATE")],
        "repo string, path string, commit_seq int, event_seq int, "
        "content string, op string",
    )
    tbl.merge(d3, "b3")
    assert state(tbl)[("a", "x")] == (3, "v3")


@pytest.mark.parametrize("row,ddl", [
    (("a", "x", "not-a-number", 0, "v", "INSERT"),
     "repo string, path string, commit_seq string, event_seq long, "
     "content string, op string"),
    # a key type no widening covers: rejected before the join key is built
    (("a", 7, 1, 0, "v", "INSERT"),
     "repo string, path long, commit_seq long, event_seq long, "
     "content string, op string"),
], ids=["version_col", "key_col"])
def test_incompatible_type_change_rejected(spark, tmpdir_path, row, ddl):
    tbl = make_table(spark, tmpdir_path)
    bad = spark.createDataFrame([row], ddl)
    with pytest.raises(ValueError, match="incompatible"):
        tbl.merge(bad, "b1")
    assert tbl.version == 0


def test_update_where_repair_pass(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [
        ("a", "x", 1, 0, "broken", "INSERT"),
        ("a", "y", 1, 1, "fine", "INSERT"),
    ]), "b1")
    m = tbl.update_where(F.col("content") == "broken",
                         {"content": F.lit("repaired")}, "fix-1")
    assert m.n_updated == 1
    s = state(tbl)
    assert s[("a", "x")][1] == "repaired" and s[("a", "y")][1] == "fine"
    # repair is idempotent by batch id too
    m2 = tbl.update_where(F.col("content") == "broken",
                          {"content": F.lit("repaired")}, "fix-1")
    assert m2.skipped_already_committed


def _commit_kinds(spark, tbl):
    """One call per commit kind, each committing a fresh batch id."""
    row = [("a", "x", 2, 0, "v2", "UPDATE")]
    return {
        "merge": lambda bid: tbl.merge(df(spark, row), bid),
        "merge_mor": lambda bid: tbl.merge_mor(df(spark, row), bid),
        "compact": lambda bid: tbl.compact(bid),
        "rebucket": lambda bid: tbl.rebucket(8, bid),
        "update_where": lambda bid: tbl.update_where(
            F.col("content") == "v1", {"content": F.lit("fixed")}, bid),
    }


@pytest.mark.parametrize(
    "kind", ["merge", "merge_mor", "compact", "rebucket", "update_where"])
def test_every_commit_kind_logs_lineage_once_and_replays_as_skip(
        spark, tmpdir_path, kind):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge_mor(df(spark, [("a", "x", 1, 0, "v1", "INSERT"),
                             ("a", "y", 1, 1, "v1", "INSERT")]), "seed")
    commit = _commit_kinds(spark, tbl)[kind]
    v0, n0 = tbl.version, len(tbl.lineage())
    m = commit("k1")
    assert not m.skipped_already_committed
    assert m.version == tbl.version == v0 + 1
    row = asdict(m)
    del row["skipped_already_committed"]
    assert tbl.lineage()[n0:] == [row]
    again = commit("k1")
    assert again.skipped_already_committed
    assert tbl.version == v0 + 1
    assert len(tbl.lineage()) == n0 + 1


@pytest.mark.parametrize("n_rows", [1, 0])
@pytest.mark.parametrize("kind", ["merge", "merge_mor"])
def test_raising_pre_commit_aborts_the_commit(spark, tmpdir_path, kind, n_rows):
    """The barrier runs on every path, the zero-row (id-only) commit
    included: if it raises, the batch is not committed."""
    tbl = make_table(spark, tmpdir_path)
    rows = [("a", "x", 1, 0, "v1", "INSERT")][:n_rows]

    def barrier():
        raise OSError("side write failed")

    with pytest.raises(OSError, match="side write failed"):
        getattr(tbl, kind)(df(spark, rows), "b1", pre_commit=barrier)
    assert tbl.version == 0
    assert not tbl.is_committed("b1")
    assert tbl.lineage() == []


def test_cow_merge_counts_ride_the_write(spark, tmpdir_path):
    """Insert/update/stale/delete counts are observed on the bucket write:
    with the touched buckets given, the merge runs the 2 jobs its write
    needs (the bucket exchange of target rows ∪ batch, then the resolve
    and write) and none more for counting."""
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 5, 0, "v", "INSERT"),
                         ("a", "y", 1, 0, "v", "INSERT"),
                         ("a", "z", 1, 0, "v", "INSERT")]), "b1")
    src = df(spark, [("a", "x", 3, 0, "old", "UPDATE"),    # stale
                     ("a", "y", 2, 0, "new", "UPDATE"),    # update
                     ("a", "z", 2, 0, None, "DELETE"),     # update + delete
                     ("b", "w", 1, 0, "n", "INSERT")])     # insert
    touched = sorted({r["_b"] for r in src.select(
        tbl.bucket_expr().alias("_b")).distinct().collect()})
    m, n_jobs = jobs_run(
        spark, lambda: tbl.merge(src, "b2", touched_buckets=touched))
    assert (m.n_inserted, m.n_updated, m.n_stale_ignored, m.n_deleted) == \
        (1, 2, 1, 1)
    assert n_jobs <= 2
