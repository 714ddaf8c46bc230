"""MOR compaction off the tail's commit path.

A tombstone-retaining ``compact`` commits at the ref level: it swaps
exactly the refs it read, so it rebases over a delta append that landed
while it ran and conflicts only when one of its input refs is gone. A MOR
``run_batch`` whose cadence trips runs the fold beside its own append and
joins it last. Reading the table lists its refs on the driver, and the
compaction's rewrite plans one Exchange.
"""

import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ore_etl_spark.datagen.wal import (decode_payload_py, generate_wal,
                                       replay_oracle)
from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
from ore_etl_spark.tables.merge_table import MergeTable

from tests.jobs import jobs_run
from tests.test_merge_table import df, make_table, state
from tests.tie_events import _payload

COLS = ["repo", "path", "commit", "lang", "commit_seq", "event_seq",
        "content_sha256", "content_len"]
KEY = ["repo", "path"]


def _sorted(pdf):
    return pdf[COLS].sort_values(KEY).reset_index(drop=True)


def _assert_oracle(frame, expected):
    got = frame.select(*COLS).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(expected),
                                  check_dtype=False)


def _spy_cas(tbl, before=None):
    """Wrap ``tbl._cas_commit``: record (batch_id, parent version, committed
    version) per call, after calling ``before(batch_id, n_calls)``."""
    cas, calls = tbl._cas_commit, []

    def spy(ours, batch_id, *a, **kw):
        n = sum(1 for b, _, _ in calls if b == batch_id)
        if before is not None:
            before(batch_id, n)
        rec = [batch_id, ours["version"], None]
        calls.append(rec)
        out = cas(ours, batch_id, *a, **kw)
        rec[2] = out[0]["version"]
        return out

    tbl._cas_commit = spy
    return calls


@pytest.fixture()
def wal(spark, tmpdir_path):
    """A generated WAL written as the events up to a cut, plus a function
    that appends the rest as a second file (the head moving)."""
    path = f"{tmpdir_path}/events"
    full = generate_wal(spark, n_keys=120, n_partitions=2)
    pdf = full.toPandas()
    lo, hi = int(pdf["delivery_seq"].min()) - 1, int(pdf["delivery_seq"].max())
    cuts = [lo + (hi - lo) * i // 4 for i in range(5)]
    full.filter(F.col("delivery_seq") <= cuts[3]).write.parquet(path)

    def move_head():
        full.filter(F.col("delivery_seq") > cuts[3]) \
            .write.mode("append").parquet(path)

    return path, pdf, cuts, move_head


def _pipe(spark, tmpdir_path, path, **kw):
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/t", target_schema(), key_cols=KEY,
        version_cols=["commit_seq", "event_seq"], n_buckets=8)
    return CdcApplyPipeline(spark, path, tbl, f"{tmpdir_path}/s",
                            mode="mor", **kw)


def test_read_over_many_refs_starts_no_job(spark, tmpdir_path):
    """More refs than Spark's parallel-listing threshold (32) are read in
    driver-listed chunks: building ``read()`` starts no Spark job, and the
    rows are the LWW winners over every ref."""
    tbl = make_table(spark, tmpdir_path, n_buckets=24)
    want = {}
    for v in (1, 2):
        rows = [("r", f"p{k}", v, k, f"v{v}-{k}", "UPDATE") for k in range(96)]
        tbl.merge_mor(df(spark, rows), f"b{v}")
        want.update({("r", f"p{k}"): (v, f"v{v}-{k}") for k in range(96)})
    assert len(tbl.snapshot()["refs"]) > 32
    frame, n_jobs = jobs_run(spark, tbl.read)
    assert n_jobs == 0
    got = {(r["repo"], r["path"]): (r["commit_seq"], r["content"])
           for r in frame.collect()}
    assert got == want


def test_compaction_rewrite_plans_one_exchange(spark, tmpdir_path):
    """The rewrite lays rows out by bucket once; the per-key resolution and
    the sorted write reuse that layout. Two Spark jobs in all."""
    tbl = make_table(spark, tmpdir_path, n_buckets=8)
    for v in (1, 2):
        tbl.merge_mor(df(spark, [("r", f"p{k}", v, k, f"v{v}", "UPDATE")
                                 for k in range(64)]), f"b{v}")
    written = []
    write = tbl._write_and_commit

    def spy(snap, batch_id, out, *a, **kw):
        written.append(out)
        return write(snap, batch_id, out, *a, **kw)

    tbl._write_and_commit = spy
    m, n_jobs = jobs_run(spark, lambda: tbl.compact("c1"))
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert n_jobs <= 2
    assert m.n_buckets_touched == 8 and tbl.delta_depth() == 0
    assert state(tbl) == {("r", f"p{k}"): (2, "v2") for k in range(64)}


def test_compaction_rebases_over_a_concurrent_append(spark, tmpdir_path, wal):
    """A compaction computed on snapshot v commits after a MOR append that
    landed while it ran — an older-version event for a compacted key and a
    newer one for another key — with no conflict, and every read surface
    matches the replay oracle."""
    path, pdf, cuts, _ = wal
    pipe = _pipe(spark, tmpdir_path, path)
    tbl = pipe.table
    pipe.run_batch(cuts[0], cuts[1])
    pipe.run_batch(cuts[1], cuts[2])
    v = tbl.version
    live = replay_oracle(pdf[pdf["delivery_seq"] <= cuts[2]])
    # two keys the rest of the appended range leaves alone: one gets an
    # event older than its folded winner, the other a newer one, both
    # delivered after every WAL event
    rest = pdf[(pdf["delivery_seq"] > cuts[2]) & (pdf["delivery_seq"] <= cuts[3])]
    quiet = live[~live.set_index(KEY).index.isin(
        rest.set_index(KEY).index)].reset_index(drop=True)
    old, new = quiet.iloc[0], quiet.iloc[1]
    assert old["commit_seq"] >= 1
    hi = int(pdf["delivery_seq"].max())
    late = []
    for row, seq, tag in ((old, int(old["commit_seq"]) - 1, "older"),
                          (new, int(pdf["commit_seq"].max()) + 1, "newer")):
        src = pdf[(pdf["repo"] == row["repo"])
                  & (pdf["path"] == row["path"])].iloc[0].to_dict()
        src.update(event_id=f"late-{tag}", op="UPDATE", commit_seq=seq,
                   event_seq=0, delivery_seq=hi + 1 + len(late),
                   payload=_payload(seq, f"late {tag} content"))
        late.append(src)
    wal_df = spark.read.parquet(path)
    spark.createDataFrame(pd.DataFrame(late)[wal_df.columns],
                          schema=wal_df.schema) \
        .write.mode("append").parquet(path)
    pdf_all = pd.concat([pdf[pdf["delivery_seq"] <= cuts[3]],
                         pd.DataFrame(late)])

    def append_first(batch_id, n):
        if batch_id == "c1" and n == 0:
            pipe.run_batch(cuts[2], hi + 2)

    calls = _spy_cas(tbl, append_first)
    m = tbl.compact("c1")
    folds = [c for c in calls if c[0] == "c1"]
    assert [c[1] for c in folds] == [v]  # computed once, on v
    assert m.version == folds[0][2] == v + 2
    # the append's delta refs survive the fold
    assert tbl.delta_depth() > 0

    expected = replay_oracle(pdf_all)
    _assert_oracle(tbl.read(), expected)
    keys = [(old["repo"], old["path"]), (new["repo"], new["path"])]
    exp_keys = expected.set_index(KEY).loc[keys].reset_index()
    _assert_oracle(tbl.lookup(keys), exp_keys)
    assert exp_keys.iloc[0]["commit_seq"] == old["commit_seq"]  # older lost
    assert exp_keys.iloc[1]["commit_seq"] == late[1]["commit_seq"]  # newer won

    # changes(v): v's state plus the changelog is the oracle's state
    ch = tbl.changes(v).toPandas()
    before = _sorted(live).set_index(KEY)
    after = before.drop(
        [tuple(k) for k in ch[ch["_change_type"] == "delete"][KEY].values])
    post = ch[ch["_change_type"].isin(["insert", "update_postimage"])]
    after = after.drop([k for k in map(tuple, post[KEY].values)
                        if k in after.index])
    after = pd.concat([after, post[COLS].set_index(KEY)]).reset_index()
    pd.testing.assert_frame_equal(_sorted(after), _sorted(expected),
                                  check_dtype=False)


def test_second_compaction_over_the_same_refs_recomputes(spark, tmpdir_path):
    """Two compactions computed on the same refs: the one committing second
    finds its inputs gone and recomputes. So does a compaction whose refs a
    COW merge replaced while it ran."""
    tbl = make_table(spark, tmpdir_path, n_buckets=4)
    for v in (1, 2):
        tbl.merge_mor(df(spark, [("r", f"p{k}", v, k, f"v{v}", "UPDATE")
                                 for k in range(32)]), f"b{v}")
    v0 = tbl.version

    def other_first(batch_id, n):
        if batch_id == "cB" and n == 0:
            tbl.compact("cA")
        if batch_id == "cD" and n == 0:
            tbl.merge(df(spark, [("r", f"p{k}", 9, k, "cow", "UPDATE")
                                 for k in range(32)]), "cow1")

    calls = _spy_cas(tbl, other_first)
    tbl.compact("cB")
    assert [c[1] for c in calls if c[0] == "cB"] == [v0, v0 + 1]
    assert [c[1] for c in calls if c[0] == "cA"] == [v0]
    assert state(tbl) == {("r", f"p{k}"): (2, "v2") for k in range(32)}

    tbl.merge_mor(df(spark, [("r", "p0", 10, 0, "mor", "UPDATE")]), "b3")
    v1 = tbl.version
    tbl.compact("cD")
    assert [c[1] for c in calls if c[0] == "cD"] == [v1, v1 + 1]
    want = {("r", f"p{k}"): (9, "cow") for k in range(32)}
    want[("r", "p0")] = (10, "mor")
    assert state(tbl) == want and tbl.delta_depth() == 0


def test_tripping_batch_commits_before_its_fold(spark, tmpdir_path, wal):
    """A batch whose cadence trips appends and commits first; the fold,
    computed on the pre-append snapshot, commits after it without a
    conflict and is joined before ``run_batch`` returns, leaving no thread
    behind. The batch record carries the fold."""
    path, pdf, cuts, _ = wal
    pipe = _pipe(spark, tmpdir_path, path, compact_depth=1)
    tbl = pipe.table
    first = pipe.run_batch(cuts[0], cuts[1])
    assert first["compaction"] is None and tbl.delta_depth() == 1
    append_id = pipe.batch_id_for(pipe.pipeline, cuts[1], cuts[2])
    appended = threading.Event()

    def fold_waits(batch_id, n):
        if batch_id.startswith("compact:"):
            assert appended.wait(timeout=120)

    calls = _spy_cas(tbl, fold_waits)
    cas = tbl._cas_commit

    def mark(ours, batch_id, *a, **kw):
        out = cas(ours, batch_id, *a, **kw)
        if batch_id == append_id:
            appended.set()
        return out

    tbl._cas_commit = mark
    v = tbl.version
    n_threads = threading.active_count()
    rec = pipe.run_batch(cuts[1], cuts[2])
    assert threading.active_count() == n_threads
    assert [c[0] for c in calls] == [append_id, f"compact:{append_id}"]
    assert calls[0][1:] == [v, v + 1]
    assert calls[1][1:] == [v, v + 2]  # pre-append parent, rebased
    assert rec["table_version"] == v + 1
    assert rec["compaction"]["version"] == v + 2
    assert rec["compaction"]["n_buckets_touched"] > 0
    assert rec["compaction"]["wall_ms"] > 0
    assert pipe.metrics.records()[-1]["compaction"] == rec["compaction"]
    assert tbl.delta_depth() == 1  # only the append's deltas remain
    _assert_oracle(tbl.read(), replay_oracle(pdf[pdf["delivery_seq"] <= cuts[2]]))


def test_failed_compaction_leaves_the_batch_checkpointed(
        spark, tmpdir_path, wal, monkeypatch):
    """A fold that raises surfaces from ``run_batch`` only after the batch
    is committed and checkpointed: the global hwm is the batch's seq_hi,
    so the next tail round over a moved head starts above it and parks no
    WAL row in quarantine twice."""
    path, pdf, cuts, move_head = wal
    pipe = _pipe(spark, tmpdir_path, path, compact_depth=1)
    tbl = pipe.table
    pipe.run_batch(cuts[0], cuts[1])

    def boom(batch_id, **kw):
        raise RuntimeError("fold failed")

    monkeypatch.setattr(tbl, "compact", boom)
    with pytest.raises(RuntimeError, match="fold failed"):
        pipe.run_batch(cuts[1], cuts[3])
    assert tbl.is_committed(pipe.batch_id_for(pipe.pipeline, cuts[1], cuts[3]))
    assert pipe.checkpoints.get(pipe.pipeline) == cuts[3]
    assert pipe.metrics.records()[-1]["compaction"] is None
    monkeypatch.undo()

    move_head()
    hwm = pipe.checkpoints.get(pipe.pipeline)
    head = pipe.delivery_range()[1]
    assert head > hwm
    pipe.run_batch(hwm, head)

    q = pipe.quarantine().toPandas()
    assert q["event_id"].is_unique
    n_bad = sum(1 for p in pdf["payload"] if decode_payload_py(p) is None)
    assert len(q) == n_bad > 0
    _assert_oracle(tbl.read(), replay_oracle(pdf))
