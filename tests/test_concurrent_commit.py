"""Optimistic multi-writer commits (round-3: Iceberg optimistic-concurrency
parity; the reference runs 4 concurrent chunk processors,
/root/reference/src/etl/transaction-transformer.ts:109-131).

Covered here:
- two racing COW merges from the same parent: both land, no lost update
  (disjoint buckets union in; overlapping buckets recompute via
  CommitConflict retry) and the result equals the serial application;
- racing MOR delta appends always union (read-time LWW resolves);
- the same batch_id submitted by two writers applies exactly once;
- concurrent ADDITIVE schema evolution from both writers merges;
- 4-worker concurrent backfill converges to the serial replay oracle.
"""

import threading
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.types as T
import pytest

from ore_etl_spark.datagen.wal import generate_wal, replay_oracle
from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
from ore_etl_spark.pipeline.backfill import BackfillRunner
from ore_etl_spark.tables.merge_table import MergeTable

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


def df(spark, rows, extra_field=None):
    fields = list(SCHEMA.fields) + [T.StructField("op", T.StringType())]
    if extra_field is not None:
        fields.append(extra_field)
    return spark.createDataFrame(rows, T.StructType(fields))


def state(tbl):
    return {(r["repo"], r["path"]): (r["commit_seq"], r["content"])
            for r in tbl.read().collect()}


def _race(*thunks):
    """Run thunks concurrently, released together; re-raise first error."""
    barrier = threading.Barrier(len(thunks))

    def wrap(fn):
        def run():
            barrier.wait()
            return fn()
        return run

    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futs = [ex.submit(wrap(t)) for t in thunks]
        return [f.result() for f in futs]


def test_racing_cow_merges_both_land(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    keys = [("a", "x"), ("b", "y"), ("c", "z"), ("d", "w")]
    m1, m2 = _race(
        lambda: tbl.merge(df(spark, [(r, p, 1, 0, f"one-{r}", "INSERT")
                                     for r, p in keys[:2]]), "w1"),
        lambda: tbl.merge(df(spark, [(r, p, 1, 0, f"two-{r}", "INSERT")
                                     for r, p in keys[2:]]), "w2"),
    )
    assert not m1.skipped_already_committed
    assert not m2.skipped_already_committed
    assert {m1.version, m2.version} == {1, 2}  # serialized commits
    assert state(tbl) == {
        ("a", "x"): (1, "one-a"), ("b", "y"): (1, "one-b"),
        ("c", "z"): (1, "two-c"), ("d", "w"): (1, "two-d"),
    }
    snap = tbl.snapshot()
    assert snap["version"] == 2 and snap["n_batches_total"] == 2


def test_racing_cow_merges_same_key_converge_to_serial(spark, tmpdir_path):
    """Same bucket from both writers: the loser's rebase detects the
    overlap, recomputes against the fresh snapshot, and conditional LWW
    picks the same winner a serial application would."""
    tbl = make_table(spark, tmpdir_path)
    _race(
        lambda: tbl.merge(df(spark, [("a", "x", 5, 0, "v5", "UPDATE")]), "w1"),
        lambda: tbl.merge(df(spark, [("a", "x", 9, 0, "v9", "UPDATE")]), "w2"),
    )
    assert state(tbl) == {("a", "x"): (9, "v9")}
    assert tbl.snapshot()["version"] == 2


def test_racing_mor_appends_union_and_resolve(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    _race(
        lambda: tbl.merge_mor(df(spark, [("a", "x", 3, 0, "old", "UPDATE")]), "w1"),
        lambda: tbl.merge_mor(df(spark, [("a", "x", 7, 0, "new", "UPDATE")]), "w2"),
    )
    snap = tbl.snapshot()
    assert snap["version"] == 2
    assert sum(1 for r in snap["refs"] if r.get("delta")) == 2  # both landed
    assert state(tbl) == {("a", "x"): (7, "new")}  # read-time LWW


def test_same_batch_id_applies_exactly_once(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    src = [("a", "x", 1, 0, "once", "INSERT")]
    m1, m2 = _race(
        lambda: tbl.merge(df(spark, src), "dup"),
        lambda: tbl.merge(df(spark, src), "dup"),
    )
    assert sorted([m1.skipped_already_committed,
                   m2.skipped_already_committed]) == [False, True]
    snap = tbl.snapshot()
    assert snap["version"] == 1 and snap["n_batches_total"] == 1
    assert state(tbl) == {("a", "x"): (1, "once")}


def test_concurrent_additive_schema_evolution_merges(spark, tmpdir_path):
    """Writer A adds col_a, writer B adds col_b: whoever rebases recomputes
    against the evolved snapshot, so the final schema carries BOTH."""
    tbl = make_table(spark, tmpdir_path)
    fa = T.StructField("col_a", T.LongType())
    fb = T.StructField("col_b", T.StringType())
    _race(
        lambda: tbl.merge(
            df(spark, [("a", "x", 1, 0, "ra", "INSERT", 11)], fa), "wa"),
        lambda: tbl.merge(
            df(spark, [("b", "y", 1, 0, "rb", "INSERT", "bee")], fb), "wb"),
    )
    names = set(tbl.schema().fieldNames())
    assert {"col_a", "col_b"} <= names
    rows = {(r["repo"], r["path"]): (r["col_a"], r["col_b"])
            for r in tbl.read().collect()}
    assert rows == {("a", "x"): (11, None), ("b", "y"): (None, "bee")}


def test_concurrent_backfill_converges_to_oracle(spark, tmpdir_path):
    """4 chunk workers (reference concurrency=4, src/config/index.ts:25-29)
    over a file-locked ledger + CAS commits: the final table equals the
    pandas replay oracle, every chunk completes, no chunk double-applies."""
    import pandas as pd

    wal_path = f"{tmpdir_path}/events"
    generate_wal(spark, n_keys=300, n_partitions=4).write.parquet(wal_path)
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/target", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=8,
    )
    pipe = CdcApplyPipeline(spark, wal_path, tbl, f"{tmpdir_path}/state")
    lo, hi = pipe.delivery_range()
    chunk_size = max(1, (hi - lo) // 7)  # ~8 chunks across 4 workers
    bf = BackfillRunner(pipe, f"{tmpdir_path}/state/chunks.json", chunk_size,
                        stale_after_s=None)  # live peers: never steal
    done = bf.run(n_workers=4)
    chunks = bf.ledger.chunks()
    assert all(c["status"] == "completed" for c in chunks)
    assert len(done) == len(chunks)  # each chunk processed exactly once

    exp = replay_oracle(spark.read.parquet(wal_path).toPandas())
    got = (
        tbl.read()
        .select("repo", "path", "commit", "lang", "commit_seq", "event_seq",
                "content_sha256", "content_len")
        .toPandas()
        .sort_values(["repo", "path"]).reset_index(drop=True)
    )
    exp = exp[got.columns.tolist()].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # re-run: fully backfilled ledger is a no-op
    assert bf.run(n_workers=4) == []


def test_cross_process_writers_both_land(spark, tmpdir_path):
    """The CAS + file-lock protocol must hold across PROCESSES, not just
    threads (the reference's chunk processors are separate workers; the
    lock/CAS live on the shared filesystem). Two subprocesses with their
    own SparkSessions merge different keys from the same parent snapshot;
    both commits must land with no lost update."""
    import subprocess
    import sys
    import textwrap

    tbl = make_table(spark, tmpdir_path)
    script = textwrap.dedent("""
        import sys
        sys.path.insert(0, "/root/repo")
        import pyspark.sql.types as T
        from ore_etl_spark.session import get_spark
        from ore_etl_spark.tables.merge_table import MergeTable

        root, who = sys.argv[1], sys.argv[2]
        spark = get_spark(f"xproc-{who}", cpus=2, shuffle_partitions=2)
        tbl = MergeTable.load(spark, root)
        schema = T.StructType([
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit_seq", T.LongType()),
            T.StructField("event_seq", T.LongType()),
            T.StructField("content", T.StringType()),
            T.StructField("op", T.StringType()),
        ])
        rows = [(who, "x", 1, 0, f"c-{who}", "INSERT")]
        m = tbl.merge(spark.createDataFrame(rows, schema), f"b-{who}")
        assert not m.skipped_already_committed
        spark.stop()
    """)
    procs = [
        subprocess.Popen([sys.executable, "-c", script, tbl.root, who],
                         stdout=subprocess.DEVNULL)
        for who in ("p1", "p2")
    ]
    for p in procs:
        assert p.wait(timeout=300) == 0
    assert tbl.snapshot()["version"] == 2
    assert state(tbl) == {("p1", "x"): (1, "c-p1"), ("p2", "x"): (1, "c-p2")}


def test_global_hwm_never_passes_a_gap(spark, tmpdir_path):
    """Out-of-order chunk completion must not advance the global watermark
    past an unapplied range: the global hwm means "everything <= hwm is
    applied" and a later incremental run() resumes above it. The runner
    publishes only the CONTIGUOUS-completed prefix; after the gap chunk is
    skipped, a plain run() still converges to the replay oracle."""
    import pandas as pd

    wal_path = f"{tmpdir_path}/events"
    generate_wal(spark, n_keys=300, n_partitions=4).write.parquet(wal_path)
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/target", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=8,
    )
    pipe = CdcApplyPipeline(spark, wal_path, tbl, f"{tmpdir_path}/state")
    lo, hi = pipe.delivery_range()
    bf = BackfillRunner(pipe, f"{tmpdir_path}/state/chunks.json",
                        max(1, (hi - lo) // 3))
    chunks = bf.plan()
    assert len(chunks) >= 3
    c0, c2 = chunks[0], chunks[2]
    # complete chunk 2 FIRST (out of order); chunk 1 is the gap
    bf._process_chunk(c2)
    bf.ledger.update(c2["chunk_id"], status="completed", last_seq=c2["seq_hi"])
    bf._advance_global_hwm()
    assert pipe.checkpoints.get(pipe.pipeline) == -1  # nothing contiguous yet
    bf._process_chunk(c0)
    bf.ledger.update(c0["chunk_id"], status="completed", last_seq=c0["seq_hi"])
    bf._advance_global_hwm()
    # stops at the prefix, NOT at chunk 2's high end
    assert pipe.checkpoints.get(pipe.pipeline) == c0["seq_hi"]

    # an incremental run() resumes above the prefix -> covers the gap
    pipe.run()
    exp = replay_oracle(spark.read.parquet(wal_path).toPandas())
    got = (
        tbl.read()
        .select("repo", "path", "commit", "lang", "commit_seq", "event_seq",
                "content_sha256", "content_len")
        .toPandas()
        .sort_values(["repo", "path"]).reset_index(drop=True)
    )
    exp = exp[got.columns.tolist()].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_bucket_sliced_backfill_converges_and_commits_disjoint(
        spark, tmpdir_path):
    """Round-5: bucket-sliced COW backfill. 4 workers with slice affinity
    (slice k owns buckets ≡ k mod 4) — every in-flight pair of commits is
    bucket-disjoint, so the CAS rebases instead of recomputing. Must still
    equal the pandas replay oracle, every slice entry completes, batch ids
    are slice-qualified (each slice is its own idempotency unit), and a
    range's seq_hi only reaches the global hwm when ALL its slices are
    done."""
    import pandas as pd

    wal_path = f"{tmpdir_path}/events"
    generate_wal(spark, n_keys=300, n_partitions=4).write.parquet(wal_path)
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/target", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=8,
    )
    pipe = CdcApplyPipeline(spark, wal_path, tbl, f"{tmpdir_path}/state")
    lo, hi = pipe.delivery_range()
    chunk_size = max(1, (hi - lo) // 3)  # ~4 ranges x 4 slices = 16 units
    bf = BackfillRunner(pipe, f"{tmpdir_path}/state/chunks.json", chunk_size,
                        stale_after_s=None, bucket_slices=4)
    done = bf.run(n_workers=4)
    chunks = bf.ledger.chunks()
    assert all(c["status"] == "completed" for c in chunks)
    assert len(done) == len(chunks)
    assert {c["slice_id"] for c in chunks} == {0, 1, 2, 3}
    batch_ids = [b["batch_id"] for d in done for b in d["batches"]]
    assert all(":s" in b for b in batch_ids)
    assert len(set(batch_ids)) == len(batch_ids)  # no double-apply

    # global hwm reached the full head (every slice completed)
    assert pipe.checkpoints.get(pipe.pipeline) == hi

    exp = replay_oracle(spark.read.parquet(wal_path).toPandas())
    got = (
        tbl.read()
        .select("repo", "path", "commit", "lang", "commit_seq", "event_seq",
                "content_sha256", "content_len")
        .toPandas()
        .sort_values(["repo", "path"]).reset_index(drop=True)
    )
    exp = exp[got.columns.tolist()].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # idempotent: drained sliced ledger is a no-op
    assert bf.run(n_workers=4) == []


def test_sliced_hwm_waits_for_all_slices(tmpdir_path):
    """A single completed slice of the FIRST range must not publish that
    range's seq_hi — the walk groups by range and requires every slice."""
    from ore_etl_spark.state.stores import ChunkLedger

    led = ChunkLedger(f"{tmpdir_path}/led.json")
    led.plan(1, 200, 100, n_slices=2)
    led.update("chunk_1_100_s0", status="completed")

    class _Pipe:
        pipeline = "p"

        class checkpoints:
            published = {}

            @classmethod
            def set(cls, name, v, monotone=True):
                cls.published[name] = v

    bf = BackfillRunner.__new__(BackfillRunner)
    bf.ledger = led
    bf.pipe = _Pipe()
    bf._advance_global_hwm()
    assert _Pipe.checkpoints.published == {}  # slice 1 still pending
    led.update("chunk_1_100_s1", status="completed")
    bf._advance_global_hwm()
    assert _Pipe.checkpoints.published == {"p": 100}


def test_stats_phase_slices_partition_every_row_once(spark, tmpdir_path):
    """Each WAL row — valid OR invalid — is owned by exactly one bucket
    slice (key bucket mod S over the RAW key columns, so the filter sits
    below the payload decode); invalid rows must be quarantined once, by
    their owning slice, not S times or zero."""
    wal_path = f"{tmpdir_path}/events"
    generate_wal(spark, n_keys=120, n_partitions=2).write.parquet(wal_path)
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/target", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=8,
    )
    pipe = CdcApplyPipeline(spark, wal_path, tbl, f"{tmpdir_path}/state")
    lo, hi = pipe.delivery_range()
    S = 4
    seqs = []
    n_bad_total = 0
    for k in range(S):
        decoded, part_stats = pipe._stats_phase(lo - 1, hi,
                                                bucket_slice=(k, S))
        seqs.append({r["delivery_seq"]
                     for r in decoded.select("delivery_seq").collect()})
        n_bad_total += sum(r["n_bad"] or 0 for r in part_stats)
        for r in part_stats:
            for b in r["buckets"]:
                assert b % S == k  # slice owns exactly its residue class
    full, _ = pipe._stats_phase(lo - 1, hi)
    all_seqs = {r["delivery_seq"]
                for r in full.select("delivery_seq").collect()}
    assert set().union(*seqs) == all_seqs          # no row dropped
    assert sum(len(s) for s in seqs) == len(all_seqs)  # no row duplicated
    full_bad = sum(r["n_bad"] or 0
                   for r in pipe._stats_phase(lo - 1, hi)[1])
    assert n_bad_total == full_bad and full_bad > 0
