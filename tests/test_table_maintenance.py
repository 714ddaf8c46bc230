"""Round-2 table-maintenance hardening:

- bounded applied-batch manifest (retention window): snapshot stays
  O(window) at 1000 batches; in-window replay is an exact no-op;
  beyond-window replay re-applies but conditional LWW converges to the
  identical state;
- bucket-pruned update_where: a repair touching one bucket rewrites only
  that bucket — untouched buckets keep their exact file refs;
- touched_buckets superset guard: a lying caller raises BEFORE the
  snapshot pointer flips (no silent key duplication).
"""

import json
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


def make_table(spark, tmpdir_path, n_buckets=4, batch_window=256):
    return MergeTable.create(
        spark, f"{tmpdir_path}/tbl", SCHEMA,
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=n_buckets, batch_window=batch_window,
    )


def df(spark, rows):
    schema = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])
    return spark.createDataFrame(rows, schema)


def state(tbl):
    return {(r["repo"], r["path"]): (r["commit_seq"], r["content"])
            for r in tbl.read().collect()}


def test_manifest_stays_bounded_at_1000_batches(spark, tmpdir_path):
    """1000 commits: applied_batch_ids stays O(window), lineage counters
    keep the full history, snapshot JSON size is bounded."""
    tbl = make_table(spark, tmpdir_path, batch_window=50)
    snap = tbl.snapshot()
    for i in range(1000):  # bookkeeping-level commits (no data files needed)
        snap = {**snap, **tbl._commit_fields(snap, f"b{i}")}
        tbl._write_snapshot(snap)
    snap = tbl.snapshot()
    assert snap["version"] == 1000
    assert snap["n_batches_total"] == 1000
    assert len(snap["applied_batch_ids"]) == 50
    # recent batches: exact no-op detection; expired: not remembered
    assert tbl.is_committed("b999") and tbl.is_committed("b950")
    assert not tbl.is_committed("b949") and not tbl.is_committed("b0")
    with open(os.path.join(tbl.root, "snapshots", "v1000.json")) as f:
        assert len(f.read()) < 8192  # O(window), not O(batches)


def test_replay_inside_window_is_noop(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, batch_window=8)
    b1 = df(spark, [("a", "x", 1, 0, "v1", "INSERT")])
    tbl.merge(b1, "b1")
    m = tbl.merge(b1, "b1")
    assert m.skipped_already_committed
    assert state(tbl) == {("a", "x"): (1, "v1")}


def test_replay_beyond_window_converges_via_lww(spark, tmpdir_path):
    """A batch replayed after its id expired from the window re-applies —
    and MUST converge: every row is stale against the newer state, so the
    conditional MERGE changes nothing."""
    tbl = make_table(spark, tmpdir_path, batch_window=2)
    b1 = df(spark, [("a", "x", 1, 0, "v1", "INSERT"),
                    ("a", "y", 1, 1, "v1", "INSERT")])
    tbl.merge(b1, "b1")
    tbl.merge(df(spark, [("a", "x", 2, 0, "v2", "UPDATE")]), "b2")
    tbl.merge(df(spark, [("b", "z", 3, 0, "v1", "INSERT")]), "b3")
    before = state(tbl)
    assert not tbl.is_committed("b1")  # expired from the window
    m = tbl.merge(b1, "b1")            # re-applies...
    assert not m.skipped_already_committed
    assert m.n_stale_ignored == 2      # ...but every row loses LWW
    assert state(tbl) == before


def test_replay_beyond_window_converges_mor(spark, tmpdir_path):
    """Same convergence for the MOR path: re-appended deltas lose the
    read-time LWW resolution."""
    tbl = make_table(spark, tmpdir_path, batch_window=2)
    b1 = df(spark, [("a", "x", 1, 0, "v1", "INSERT")])
    tbl.merge_mor(b1, "b1")
    tbl.merge_mor(df(spark, [("a", "x", 2, 0, "v2", "UPDATE")]), "b2")
    tbl.merge_mor(df(spark, [("b", "z", 3, 0, "v1", "INSERT")]), "b3")
    before = state(tbl)
    assert not tbl.is_committed("b1")
    tbl.merge_mor(b1, "b1")
    assert state(tbl) == before


def test_update_where_rewrites_only_touched_buckets(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=8)
    rows = [("r", f"p{i}", 1, i, f"v{i}", "INSERT") for i in range(64)]
    tbl.merge(df(spark, rows), "b1")
    refs_before = {r["bucket"]: r["path"] for r in tbl.snapshot()["refs"]}
    assert len(refs_before) > 4  # keys spread over several buckets

    m = tbl.update_where(F.col("path") == "p7",
                         {"content": F.lit("fixed")}, "repair1")
    assert m.n_updated == 1
    refs_after = {r["bucket"]: r["path"] for r in tbl.snapshot()["refs"]}
    changed = {b for b in refs_before if refs_after[b] != refs_before[b]}
    assert len(changed) == m.n_buckets_touched == 1  # one bucket rewritten
    untouched = set(refs_before) - changed
    assert untouched and all(refs_after[b] == refs_before[b] for b in untouched)
    s = state(tbl)
    assert s[("r", "p7")] == (1, "fixed")
    assert s[("r", "p8")] == (1, "v8")  # neighbors untouched


def test_update_where_no_match_is_metadata_only(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    refs_before = tbl.snapshot()["refs"]
    m = tbl.update_where(F.col("content") == "nope",
                         {"content": F.lit("?")}, "repair1")
    assert m.n_updated == 0 and m.n_buckets_touched == 0
    assert tbl.snapshot()["refs"] == refs_before
    assert tbl.is_committed("repair1")  # still recorded (idempotent)


def test_update_where_resolves_mor_deltas_in_touched_buckets(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=2)
    tbl.merge_mor(df(spark, [("a", "x", 1, 0, "old", "INSERT")]), "b1")
    tbl.merge_mor(df(spark, [("a", "x", 2, 0, "broken", "UPDATE")]), "b2")
    m = tbl.update_where(F.col("content") == "broken",
                         {"content": F.lit("fixed")}, "repair1")
    assert m.n_updated == 1
    s = state(tbl)
    assert s[("a", "x")] == (2, "fixed")  # LWW winner repaired, loser gone
    rows = tbl.read().collect()
    assert len(rows) == 1  # rewrite resolved the delta (no duplicate key)


def test_merge_raises_on_non_superset_touched_buckets(spark, tmpdir_path):
    """A touched_buckets set missing one of the source's buckets must fail
    loudly before the commit — the old snapshot stays current."""
    tbl = make_table(spark, tmpdir_path, n_buckets=8)
    rows = [("r", f"p{i}", 1, i, f"v{i}", "INSERT") for i in range(32)]
    src = df(spark, rows)
    bucketed = src.withColumn("_b", tbl.bucket_expr())
    buckets = sorted({r["_b"] for r in bucketed.select("_b").distinct().collect()})
    assert len(buckets) >= 2
    v_before = tbl.version
    with pytest.raises(RuntimeError, match="superset"):
        tbl.merge(src, "bad", touched_buckets=buckets[:-1])  # lie: drop one
    assert tbl.version == v_before          # pointer never flipped
    assert not tbl.is_committed("bad")
    m = tbl.merge(src, "good", touched_buckets=buckets)  # honest superset OK
    assert m.n_inserted == 32


def test_rebucket_preserves_state_and_future_merges(spark, tmpdir_path):
    """Bucket-spec evolution: same rows at a new bucket count, later
    merges derive buckets from the new spec, and time travel through the
    old snapshot still resolves with the OLD bucket count."""
    tbl = make_table(spark, tmpdir_path, n_buckets=2)
    rows = [("r", f"p{i}", 1, i, f"v{i}", "INSERT") for i in range(32)]
    tbl.merge(df(spark, rows), "b1")
    v_before = tbl.version
    before = state(tbl)

    m = tbl.rebucket(8, "rb1")
    assert m.n_buckets_touched > 2  # data actually spread wider
    assert tbl.snapshot()["n_buckets"] == 8
    assert state(tbl) == before
    assert {r["bucket"] for r in tbl.snapshot()["refs"]} <= set(range(8))
    # time travel to the pre-rebucket snapshot still reads correctly
    assert tbl.read(version=v_before).count() == 32
    # replay is a no-op
    assert tbl.rebucket(8, "rb1").skipped_already_committed

    # a merge after rebucketing prunes against the NEW spec
    m2 = tbl.merge(df(spark, [("r", "p3", 2, 0, "fixed", "UPDATE")]), "b2")
    assert m2.n_updated == 1 and m2.n_buckets_touched == 1
    s = state(tbl)
    assert s[("r", "p3")] == (2, "fixed") and s[("r", "p4")] == (1, "v4")

    # so does a MOR append on the same instance: its deltas land in the
    # new spec's buckets (a bucket expression kept from the 2-bucket spec
    # would write them all to buckets 0-1, where lookup() never looks)
    m3 = tbl.merge_mor(df(spark, [("r", f"p{i}", 3, 0, f"w{i}", "UPDATE")
                                  for i in range(32)]), "b3")
    assert m3.n_buckets_touched > 2
    assert state(tbl) == {("r", f"p{i}"): (3, f"w{i}") for i in range(32)}
    assert [r["content"] for r in tbl.lookup([("r", "p7")]).collect()] == ["w7"]


def test_rebucket_resolves_mor_deltas(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=2)
    tbl.merge_mor(df(spark, [("a", "x", 1, 0, "old", "INSERT")]), "b1")
    tbl.merge_mor(df(spark, [("a", "x", 2, 0, "new", "UPDATE"),
                             ("a", "y", 2, 1, "v1", "INSERT")]), "b2")
    tbl.rebucket(16, "rb1")
    assert tbl.delta_depth() == 0  # rewrite folded the delta chain
    assert state(tbl) == {("a", "x"): (2, "new"), ("a", "y"): (2, "v1")}


def test_lookup_is_bucket_pruned_point_read(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=8)
    rows = [("r", f"p{i}", 1, i, f"v{i}", "INSERT") for i in range(64)]
    tbl.merge(df(spark, rows), "b1")
    out = tbl.lookup([("r", "p7"), ("r", "p9")])
    got = {(r["repo"], r["path"], r["content"]) for r in out.collect()}
    assert got == {("r", "p7", "v7"), ("r", "p9", "v9")}
    # the scan behind the lookup touches only the probed keys' buckets
    touched = {f.split("_bucket=")[1].split("/")[0] for f in out.inputFiles()}
    all_buckets = {str(r["bucket"]) for r in tbl.snapshot()["refs"]}
    assert len(touched) <= 2 < len(all_buckets)


def test_file_stats_and_delta_depth(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=2)
    for i in range(3):
        tbl.merge_mor(df(spark, [("a", "x", i + 1, 0, f"v{i + 1}", "UPDATE")]),
                      f"b{i}")
    assert tbl.delta_depth() == 3
    st = tbl.file_stats()
    assert st["total_rows"] == 3          # physical rows, unresolved
    assert st["max_delta_depth"] == 3 and st["n_files"] >= 3
    tbl.compact("c1")
    assert tbl.delta_depth() == 0
    st2 = tbl.file_stats()
    assert st2["total_rows"] == 1 and st2["max_delta_depth"] == 0


def test_compact_depth_policy_bounds_read_amplification(spark, tmpdir_path):
    """MOR pipeline with compact_depth: after a many-batch replay no bucket
    carries more unresolved deltas than the bound."""
    from ore_etl_spark.datagen.wal import generate_wal
    from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema

    wal = f"{tmpdir_path}/events"
    generate_wal(spark, n_keys=300, n_partitions=4).write.parquet(wal)
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/target", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=8,
    )
    p = CdcApplyPipeline(spark, wal, tbl, f"{tmpdir_path}/state",
                         mode="mor", compact_depth=2)
    lo, hi = p.delivery_range()
    p.run(batch_span=max(1, (hi - lo) // 6))
    assert tbl.delta_depth() <= 2


def test_compact_rewrites_only_dirty_buckets(spark, tmpdir_path):
    """Compaction is bucket-pruned: buckets without delta refs keep their
    exact file refs; only delta-holding buckets are read and rewritten."""
    tbl = make_table(spark, tmpdir_path, n_buckets=8)
    rows = [("r", f"p{i}", 1, i, f"v{i}", "INSERT") for i in range(64)]
    tbl.merge(df(spark, rows), "b1")  # COW base: one ref per bucket
    refs_before = {r["bucket"]: r["path"] for r in tbl.snapshot()["refs"]}
    tbl.merge_mor(df(spark, [("r", "p7", 2, 0, "new", "UPDATE")]), "b2")
    dirty = {r["bucket"] for r in tbl.snapshot()["refs"] if r.get("delta")}
    assert len(dirty) == 1

    m = tbl.compact("c1")
    assert m.n_buckets_touched == 1
    refs_after = {r["bucket"]: r["path"] for r in tbl.snapshot()["refs"]}
    assert tbl.delta_depth() == 0
    for b, p in refs_before.items():
        if b not in dirty:
            assert refs_after[b] == p  # clean buckets carried untouched
    s = state(tbl)
    assert s[("r", "p7")] == (2, "new") and s[("r", "p8")] == (1, "v8")


def test_lookup_after_rebucket_uses_new_spec(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=2)
    rows = [("r", f"p{i}", 1, i, f"v{i}", "INSERT") for i in range(32)]
    tbl.merge(df(spark, rows), "b1")
    tbl.rebucket(16, "rb1")
    got = {(r["repo"], r["path"]): r["content"]
           for r in tbl.lookup([("r", "p5"), ("r", "p6")]).collect()}
    assert got == {("r", "p5"): "v5", ("r", "p6"): "v6"}


def test_maintain_runs_compact_expire_vacuum(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=2)
    for i in range(6):
        tbl.merge_mor(df(spark, [("a", "x", i + 1, 0, f"v{i + 1}", "UPDATE")]),
                      f"b{i}")
    assert tbl.delta_depth() == 6
    # keep only the post-compaction snapshot so the folded delta dirs are
    # actually unreferenced (keeping N>1 retains them via older manifests)
    res = tbl.maintain(compact_depth=4, keep_snapshots=1, vacuum_min_age_s=0)
    assert res["compacted"] and tbl.delta_depth() == 0
    assert res["expired_versions"] and res["removed_dirs"] > 0
    assert state(tbl) == {("a", "x"): (6, "v6")}
    # idempotent re-run: nothing left to do
    res2 = tbl.maintain(compact_depth=4, keep_snapshots=1, vacuum_min_age_s=0)
    assert not res2["compacted"] and res2["removed_dirs"] == 0
    assert state(tbl) == {("a", "x"): (6, "v6")}


def test_snapshot_isolation_for_inflight_readers(spark, tmpdir_path):
    """A reader that resolved the snapshot BEFORE a merge keeps seeing its
    version's consistent file set (immutable snapshots; files survive
    until vacuum), while new readers see the new version."""
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 1, 0, "old", "INSERT")]), "b1")
    reader = tbl.read()  # plan resolved against v1's refs
    tbl.merge(df(spark, [("a", "x", 2, 0, "new", "UPDATE")]), "b2")
    assert [r["content"] for r in reader.collect()] == ["old"]  # isolated
    assert [r["content"] for r in tbl.read().collect()] == ["new"]
    # after expiry + vacuum the old files are gone - pinned plans may
    # fail, fresh reads are unaffected (documented single-writer GC)
    tbl.expire_snapshots(keep_last=1)
    tbl.vacuum(min_age_s=0)
    assert [r["content"] for r in tbl.read().collect()] == ["new"]


def test_maintain_rerun_compacts_new_deltas(spark, tmpdir_path):
    """maintain() re-run after NEW deltas landed must compact again (the
    compact id derives from the table version, so each run is idempotent
    against the state it saw, not against a caller-supplied string)."""
    tbl = make_table(spark, tmpdir_path, n_buckets=2)
    for i in range(6):
        tbl.merge_mor(df(spark, [("a", "x", i + 1, 0, f"v{i + 1}", "UPDATE")]),
                      f"b{i}")
    assert tbl.maintain(compact_depth=4)["compacted"]
    for i in range(6):
        tbl.merge_mor(df(spark, [("a", "x", 10 + i, 0, f"w{i}", "UPDATE")]),
                      f"c{i}")
    assert tbl.delta_depth() == 6
    assert tbl.maintain(compact_depth=4)["compacted"]
    assert tbl.delta_depth() == 0
    assert state(tbl) == {("a", "x"): (15, "w5")}


def test_lookup_is_null_safe_on_key_components(spark, tmpdir_path):
    """Engine invariant: every keyed comparison is null-safe. A lookup for
    a key tuple containing NULL (legal for view tables grouped on nullable
    columns) must return the stored NULL-keyed row, not silently nothing."""
    tbl = make_table(spark, tmpdir_path, n_buckets=4)
    tbl.merge(df(spark, [("a", None, 1, 0, "null-path", "INSERT"),
                         ("a", "x", 1, 0, "x-path", "INSERT")]), "b1")
    got = tbl.lookup([("a", None)]).collect()
    assert [(r["repo"], r["path"], r["content"]) for r in got] == [
        ("a", None, "null-path")]
    both = tbl.lookup([("a", None), ("a", "x")]).collect()
    assert {r["content"] for r in both} == {"null-path", "x-path"}


def test_sorted_compaction_enables_file_skipping(spark, tmpdir_path):
    """Round-3: sort-within-bucket + range-split compaction makes the
    footer bounds actually prune. After compact(rows_per_file=...) each
    bucket holds several commit_seq-disjoint files; a narrow read_where
    must open strictly fewer files than the bucket total, and return the
    same rows as a plain filtered read."""
    tbl = make_table(spark, tmpdir_path, n_buckets=2)
    for b in range(4):  # MOR loads -> delta refs -> compact folds them
        rows = [(f"r{i % 7}", f"p{i}", i + 1, 0, f"v{i}", "INSERT")
                for i in range(b * 100, (b + 1) * 100)]
        tbl.merge_mor(df(spark, rows), f"load{b}")
    tbl.compact("sorted-compact", rows_per_file=50)
    snap = tbl.snapshot()
    assert all("file_bounds" in r for r in snap["refs"]), snap["refs"]
    total_files = sum(len(r["file_bounds"]) for r in snap["refs"])
    assert total_files >= 8  # the split actually happened

    narrow = tbl.read_where("commit_seq", lo=100, hi=120)
    opened = narrow.inputFiles()
    assert 0 < len(opened) < total_files / 2, (len(opened), total_files)
    got = sorted((r["repo"], r["path"], r["commit_seq"])
                 for r in narrow.collect())
    exp = sorted((r["repo"], r["path"], r["commit_seq"])
                 for r in tbl.read().filter(
                     "commit_seq between 100 and 120").collect())
    assert got == exp and len(got) == 21


def test_tags_pin_snapshots_through_expiry_and_vacuum(spark, tmpdir_path):
    """Iceberg named-ref parity (round 4): a tag survives expire_snapshots
    + vacuum, read_tag time-travels to it, drop_tag releases it."""
    tbl = make_table(spark, tmpdir_path, n_buckets=2)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    tbl.tag("release-1")
    v1 = tbl.version
    for i in range(2, 8):
        tbl.merge(df(spark, [("a", "x", i, 0, f"v{i}", "UPDATE")]), f"b{i}")

    assert tbl.tags() == {"release-1": v1}
    tbl.expire_snapshots(keep_last=2)
    tbl.vacuum(min_age_s=0)
    # the tagged snapshot and its files survived
    got = tbl.read_tag("release-1").collect()
    assert [(r["content"], r["commit_seq"]) for r in got] == [("v1", 1)]
    # current state is unaffected
    assert tbl.read().collect()[0]["content"] == "v7"
    # unknown tag fails loudly; tagging a missing version fails loudly
    import pytest as _pytest
    with _pytest.raises(KeyError):
        tbl.read_tag("nope")
    with _pytest.raises(FileNotFoundError):
        tbl.tag("bad", version=999)
    # dropping the tag releases the snapshot for the next expiry cycle;
    # dropping an unknown tag raises instead of silently 'succeeding'
    tbl.drop_tag("release-1")
    with _pytest.raises(KeyError):
        tbl.drop_tag("release-1")
    tbl.expire_snapshots(keep_last=2)
    with _pytest.raises(FileNotFoundError):
        tbl.snapshot_at(v1)


def test_rollback_restores_state_and_allows_replay(spark, tmpdir_path):
    """Iceberg rollback parity (round 4): a new version copies the old
    snapshot's state; history stays append-only; undone batches leave the
    applied manifest so their delivery ranges can re-apply; writes resume
    on top of the rolled-back state."""
    tbl = make_table(spark, tmpdir_path, n_buckets=4)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    v_good = tbl.version
    tbl.merge(df(spark, [("a", "x", 2, 0, "bad", "UPDATE"),
                         ("b", "y", 1, 0, "junk", "INSERT")]), "b2")
    v_bad = tbl.version

    snap = tbl.rollback(v_good)
    assert snap["version"] == v_bad + 1  # forward history, not erased
    got = {(r["repo"], r["path"]): r["content"] for r in tbl.read().collect()}
    assert got == {("a", "x"): "v1"}
    # time travel to the undone version still works
    assert {r["content"] for r in
            tbl.read(version=v_bad).collect()} == {"bad", "junk"}
    # idempotent: same rollback batch-id is a no-op
    assert tbl.rollback(v_good)["version"] == snap["version"]

    # the undone batch is OUT of the manifest -> its range can re-apply
    assert not tbl.is_committed("b2")
    tbl.merge(df(spark, [("a", "x", 2, 0, "fixed", "UPDATE")]), "b2")
    got = {(r["repo"], r["path"]): r["content"] for r in tbl.read().collect()}
    assert got == {("a", "x"): "fixed"}

    # a SECOND rollback to the same version after the repair commit must
    # roll back again (the manifest can't swallow it) — semantic
    # idempotency only short-circuits when the state already matches
    v_before = tbl.version
    snap2 = tbl.rollback(v_good)
    assert snap2["version"] == v_before + 1
    assert {r["content"] for r in tbl.read().collect()} == {"v1"}
    tbl.merge(df(spark, [("a", "x", 2, 0, "fixed", "UPDATE")]), "b2-again")

    # maintenance after rollback: current state's files survive vacuum
    tbl.expire_snapshots(keep_last=2)
    tbl.vacuum(min_age_s=0)
    got = {(r["repo"], r["path"]): r["content"] for r in tbl.read().collect()}
    assert got == {("a", "x"): "fixed"}


def test_distributed_bounds_harvest_matches_driver_path(spark, tmpdir_path):
    """Round-4: the footer-bounds harvest can run as one Spark job over
    the written file list (executors share the table's storage) instead of
    a driver pyarrow loop — the driver's commit tail then stays O(1) in
    file count. Both paths call the identical per-file function; the refs
    they produce must be byte-identical, and the distributed table must
    still file-skip."""
    rows = [(f"r{i % 7}", f"p{i}", i + 1, 0, f"v{i}", "INSERT")
            for i in range(200)]

    tbl_drv = make_table(spark, f"{tmpdir_path}/drv", n_buckets=4)
    tbl_drv.stats_harvest_mode = "driver"
    tbl_drv.merge(df(spark, rows), "load")
    tbl_dist = make_table(spark, f"{tmpdir_path}/dist", n_buckets=4)
    tbl_dist.stats_harvest_mode = "distributed"
    tbl_dist.merge(df(spark, rows), "load")

    def norm_refs(snap):
        return [
            {k: v for k, v in r.items() if k != "path"}
            for r in sorted(snap["refs"], key=lambda r: r["bucket"])
        ]

    a, b = norm_refs(tbl_drv.snapshot()), norm_refs(tbl_dist.snapshot())
    # file names embed job-specific part numbers; compare bounds shape
    for ra, rb in zip(a, b):
        assert ra["bucket"] == rb["bucket"]
        assert ra.get("bounds") == rb.get("bounds")
        assert ra.get("bounds"), ra  # bounds actually harvested
    got = tbl_dist.read_where("commit_seq", lo=10, hi=20).count()
    exp = tbl_dist.read().filter("commit_seq between 10 and 20").count()
    assert got == exp > 0


def test_vacuum_grace_period_protects_inflight_attempts(spark, tmpdir_path):
    """Round-3: a concurrent writer's attempt dir (files written, CAS not
    yet landed) is indistinguishable from an aborted commit — vacuum must
    keep unreferenced dirs younger than min_age_s (Iceberg
    remove_orphan_files(older_than) contract) and reclaim them only past
    the horizon."""
    import time

    tbl = make_table(spark, tmpdir_path, n_buckets=2)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    # simulate an in-flight writer mid-commit
    rel = tbl._attempt_dir(tbl.snapshot())
    bdir = os.path.join(tbl.root, rel, "_bucket=0")
    os.makedirs(bdir)
    with open(os.path.join(bdir, "part-0.parquet"), "w") as f:
        f.write("placeholder")
    stats = tbl.vacuum()  # default 1h grace
    assert stats["removed_dirs"] == 0 and stats["kept_young_dirs"] == 1
    assert os.path.exists(bdir)
    # past the horizon it is an abort leftover -> reclaimed
    past = time.time() - 7200
    os.utime(bdir, (past, past))
    stats = tbl.vacuum()
    assert stats["removed_dirs"] == 1 and not os.path.exists(bdir)
    # committed data untouched throughout
    assert state(tbl) == {("a", "x"): (1, "v1")}


def test_timestamp_time_travel_and_history(spark, tmpdir_path):
    """TIMESTAMP AS OF parity: every commit path stamps committed_at, so
    read(as_of_ts=) resolves to the newest version committed at or
    before the timestamp — including across a rollback, whose commit
    gets its OWN wall-clock (an as-of just before the rollback still
    sees the undone state). history() lists the surviving commit log
    oldest-first."""
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    tbl.merge(df(spark, [("a", "x", 2, 0, "v2", "UPDATE")]), "b2")

    h = tbl.history()
    assert [r["version"] for r in h] == [0, 1, 2]
    assert [r["batch_id"] for r in h] == [None, "b1", "b2"]
    stamps = [r["committed_at"] for r in h]
    assert all(isinstance(t, float) for t in stamps)
    assert stamps == sorted(stamps)
    t1, t2 = stamps[1], stamps[2]
    assert t1 < t2  # Spark commits are well past clock resolution

    # as-of between the two commits -> v1's state; as-of now -> current
    mid = t1 + (t2 - t1) / 2
    assert tbl.version_at(mid) == 1
    assert {r["content"] for r in tbl.read(as_of_ts=mid).collect()} == {"v1"}
    assert tbl.version_at(t2) == 2
    assert {r["content"] for r in tbl.read(as_of_ts=t2).collect()} == {"v2"}

    # before the table existed -> explicit error; both selectors -> error
    with pytest.raises(ValueError):
        tbl.version_at(stamps[0] - 100.0)
    with pytest.raises(ValueError):
        tbl.read(version=1, as_of_ts=mid)

    # rollback commits a NEW version with its own stamp: as-of after it
    # sees v1's state, as-of just before it still sees v2's
    tbl.rollback(1)
    h2 = tbl.history()
    assert [r["version"] for r in h2] == [0, 1, 2, 3]
    t3 = h2[3]["committed_at"]
    assert t3 > t2
    assert tbl.version_at(t3) == 3
    assert {r["content"] for r in tbl.read(as_of_ts=t3).collect()} == {"v1"}
    assert tbl.version_at(t3 - (t3 - t2) / 2) == 2

    # an in-flight (not-yet-CURRENT) or torn snapshot file is invisible
    with open(os.path.join(tbl.root, "snapshots", "v9.json"), "w") as f:
        f.write('{"version": 9, "committed_at"')  # mid-write torn JSON
    assert [r["version"] for r in tbl.history()] == [0, 1, 2, 3]
    assert tbl.version_at(t3 + 100.0) == 3

    # every read surface time-travels through the same resolver: the
    # pruned range read and the bucket-pruned point read both see v2's
    # state at an as-of between the b2 commit and the rollback
    between = t2 + (t3 - t2) / 2
    assert {r["content"] for r in
            tbl.read_where("commit_seq", lo=1, as_of_ts=between)
            .collect()} == {"v2"}
    assert {r["content"] for r in
            tbl.lookup([("a", "x")], as_of_ts=between).collect()} == {"v2"}
    assert {r["content"] for r in
            tbl.lookup([("a", "x")], version=1).collect()} == {"v1"}


def test_timestamp_time_travel_pre_upgrade_snapshots(spark, tmpdir_path):
    """A table whose snapshots predate the committed_at field must not
    make TIMESTAMP AS OF unusable: resolution falls back to the snapshot
    file's mtime (written once at commit), so every readable version
    stays reachable by timestamp."""
    import time as _t

    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    # simulate pre-upgrade metadata: strip the stamp from v0 and v1
    for v in (0, 1):
        p = os.path.join(tbl.root, "snapshots", f"v{v}.json")
        s = json.load(open(p))
        s.pop("committed_at", None)
        with open(p, "w") as f:
            json.dump(s, f)
    assert all(r["committed_at"] is not None for r in tbl.history())
    assert tbl.version_at(_t.time() + 1) == 1
    assert state(tbl) == {("a", "x"): (1, "v1")}
    assert {r["content"] for r in
            tbl.read(as_of_ts=_t.time() + 1).collect()} == {"v1"}
