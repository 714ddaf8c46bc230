"""Round-2 resilience hardening:

- ChunkLedger: lock-serialized claims (no double-claim under concurrency),
  stale-'running' reclaim (crash mid-chunk must not strand its range),
  plan() extension without overlapping tail chunks;
- BackfillRunner: empty-WAL no-op, crash-resume convergence;
- quarantine redrive: transient failures recover on re-drive, permanent
  failures dead-letter at attempts == max (reference x-retry-count <= 3,
  transaction-consumer.ts:145-174);
- decode: JVM path and pandas parity path agree on invalid-UTF-8 bodies.
"""

import base64
import struct
import threading

import pyspark.sql.functions as F
import pytest

from ore_etl_spark.datagen.wal import generate_wal
from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
from ore_etl_spark.pipeline.backfill import BackfillRunner
from ore_etl_spark.state.stores import ChunkLedger
from ore_etl_spark.tables.merge_table import MergeTable


# ---------------------------------------------------------------------------
# ChunkLedger claim protocol
# ---------------------------------------------------------------------------

def test_concurrent_claimers_never_double_claim(tmpdir_path):
    ledger = ChunkLedger(f"{tmpdir_path}/chunks.json")
    ledger.plan(0, 199, 10)  # 20 chunks
    claimed: list[list[str]] = [[], [], [], []]

    def worker(i):
        while True:
            c = ledger.claim_next(stale_after_s=None)  # never steal running
            if c is None:
                return
            claimed[i].append(c["chunk_id"])

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    all_claims = [cid for lst in claimed for cid in lst]
    assert len(all_claims) == 20                 # every chunk claimed...
    assert len(set(all_claims)) == 20            # ...exactly once


def test_stale_running_chunk_is_reclaimable(tmpdir_path):
    ledger = ChunkLedger(f"{tmpdir_path}/chunks.json")
    ledger.plan(0, 9, 10)
    c1 = ledger.claim_next()
    assert c1["status"] == "running"
    # a live peer is NOT stolen from
    assert ledger.claim_next(stale_after_s=3600) is None
    # the single-runner model reclaims a crash leftover immediately
    c2 = ledger.claim_next(stale_after_s=0)
    assert c2 is not None and c2["chunk_id"] == c1["chunk_id"]


def test_plan_extends_without_overlapping_tail(tmpdir_path):
    ledger = ChunkLedger(f"{tmpdir_path}/chunks.json")
    ledger.plan(0, 120, 50)   # 0-49, 50-99, 100-120 (truncated tail)
    ledger.plan(0, 170, 50)   # head advanced: must START AFTER 120
    chunks = ledger.chunks()
    spans = [(c["seq_lo"], c["seq_hi"]) for c in chunks]
    assert spans == sorted(spans)
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert lo2 == hi1 + 1   # gapless AND overlap-free
    assert spans[-1][1] == 170


# ---------------------------------------------------------------------------
# Backfill crash-resume + empty WAL
# ---------------------------------------------------------------------------

def _build(spark, tmpdir_path, wal_path):
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/target", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=8,
    )
    return CdcApplyPipeline(spark, wal_path, tbl, f"{tmpdir_path}/state")


def test_backfill_empty_wal_is_noop(spark, tmpdir_path):
    path = f"{tmpdir_path}/empty_events"
    generate_wal(spark, n_keys=5, n_partitions=1).filter("false") \
        .write.parquet(path)
    pipe = _build(spark, tmpdir_path, path)
    bf = BackfillRunner(pipe, f"{tmpdir_path}/state/chunks.json", 100)
    assert bf.plan() == []
    assert bf.run() == []


def test_backfill_resumes_chunk_stuck_in_running(spark, tmpdir_path):
    """Crash mid-chunk: the chunk sits in 'running' with a partial
    last_seq. A restarted runner must re-claim it and converge — the old
    pending/error-only claim rule silently skipped its remaining range."""
    from ore_etl_spark.datagen.wal import replay_oracle

    wal_path = f"{tmpdir_path}/events"
    generate_wal(spark, n_keys=200, n_partitions=2).write.parquet(wal_path)
    pipe = _build(spark, tmpdir_path, wal_path)
    lo, hi = pipe.delivery_range()
    chunk_size = max(1, (hi - lo) // 3)
    bf = BackfillRunner(pipe, f"{tmpdir_path}/state/chunks.json", chunk_size)
    bf.run(max_chunks=1)

    # simulate a crash: claim the next chunk, apply HALF of it, then stop
    crash = bf.ledger.claim_next(stale_after_s=None)
    mid = (crash["seq_lo"] + crash["seq_hi"]) // 2
    pipe.run_batch(crash["seq_lo"] - 1, mid)
    bf.ledger.update(crash["chunk_id"], last_seq=mid)   # still 'running'

    # restart: default single-runner staleness reclaims the running chunk
    bf2 = BackfillRunner(pipe, f"{tmpdir_path}/state/chunks.json", chunk_size)
    bf2.run()
    assert all(c["status"] == "completed" for c in bf2.ledger.chunks())

    import pandas as pd

    exp = replay_oracle(spark.read.parquet(wal_path).toPandas())
    got = (
        pipe.table.read()
        .select("repo", "path", "commit", "lang", "commit_seq", "event_seq",
                "content_sha256", "content_len")
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp[got.columns.tolist()]
                                  .reset_index(drop=True), check_dtype=False)


# ---------------------------------------------------------------------------
# Quarantine redrive (T6 retry semantics)
# ---------------------------------------------------------------------------

def _payload(version: int, body: bytes, corrupt_len: bool = False) -> str:
    raw = struct.pack("<II", version, len(body) + (7 if corrupt_len else 0)) + body
    return base64.b64encode(raw).decode()


def _mini_wal(spark):
    rows = [
        # (delivery_seq, event_id, partition_id, repo, path, commit, lang,
        #  op, commit_seq, event_seq, payload)
        (1, "e1", 0, "r", "good", "c1", "py", "INSERT", 1, 0,
         _payload(1, b"hello")),
        (2, "e2", 0, "r", "transient", "c2", "py", "INSERT", 2, 0,
         "!!!not-base64!!!"),
        (3, "e3", 0, "r", "permanent", "c3", "py", "INSERT", 3, 0,
         _payload(1, b"body", corrupt_len=True)),
    ]
    return spark.createDataFrame(rows, (
        "delivery_seq long, event_id string, partition_id int, repo string, "
        "path string, commit string, lang string, op string, "
        "commit_seq long, event_seq long, payload string"
    ))


def test_redrive_recovers_transient_and_deadletters_permanent(spark, tmpdir_path):
    wal_path = f"{tmpdir_path}/events"
    _mini_wal(spark).write.parquet(wal_path)
    pipe = _build(spark, tmpdir_path, wal_path)
    res = pipe.run()
    assert res[0]["n_quarantined"] == 2
    q = {r["path"]: r.asDict() for r in pipe.quarantine().collect()}
    assert q["transient"]["attempts"] == 1 and q["permanent"]["attempts"] == 1

    # redrive 1: nothing fixed upstream -> both fail again, attempts=2
    r1 = pipe.redrive(batch_id="rd1")
    assert r1["n_recovered"] == 0 and r1["n_still_failed"] == 2
    q = {r["path"]: r.asDict() for r in pipe.quarantine().collect()}
    assert q["transient"]["attempts"] == 2

    # redrive 2: upstream repaired the transient payload -> it recovers;
    # the permanent row hits attempts=3 and is dead-lettered for good
    def fix(df):
        return df.withColumn(
            "payload",
            F.when(F.col("path") == "transient",
                   F.lit(_payload(2, b"recovered"))).otherwise(F.col("payload")),
        )

    r2 = pipe.redrive(batch_id="rd2", fix_fn=fix, max_attempts=3)
    assert r2["n_recovered"] == 1 and r2["n_still_failed"] == 1
    state = {(r["repo"], r["path"]): r["content"]
             for r in pipe.table.read().collect()}
    assert state[("r", "transient")] == "recovered"
    assert state[("r", "good")] == "hello"
    assert ("r", "permanent") not in state

    q = {r["path"]: r.asDict() for r in pipe.quarantine().collect()}
    assert set(q) == {"permanent"}
    assert q["permanent"]["attempts"] == 3
    assert q["permanent"]["error"] == "payload_decode_failed_final"

    # redrive 3: only dead rows left -> no-op, dead row persists untouched
    r3 = pipe.redrive(batch_id="rd3")
    assert r3.get("skipped") and r3["n_dead"] == 1
    assert pipe.quarantine().count() == 1


# ---------------------------------------------------------------------------
# decode: invalid-UTF-8 parity between JVM and pandas paths
# ---------------------------------------------------------------------------

def test_decode_paths_agree_on_invalid_utf8(spark):
    from ore_etl_spark.operators.decode import decode_events

    from tests.oracles import decode_events_pandas

    bad_utf8 = struct.pack("<II", 1, 2) + b"\xff\xfe"          # len OK, bytes bad
    overlong = struct.pack("<II", 1, 2) + b"\xc0\xaf"          # overlong '/'
    good = struct.pack("<II", 1, 2) + "é".encode("utf-8")      # 2-byte valid
    rows = [(1, base64.b64encode(bad_utf8).decode()),
            (2, base64.b64encode(overlong).decode()),
            (3, base64.b64encode(good).decode())]
    df = spark.createDataFrame(rows, "id long, payload string")
    jvm = {r["id"]: (r["is_valid"], r["content_sha256"])
           for r in decode_events(df).collect()}
    pdp = {r["id"]: (r["is_valid"], r["content_sha256"])
           for r in decode_events_pandas(df).collect()}
    assert jvm == pdp
    assert jvm[1][0] is False and jvm[2][0] is False and jvm[3][0] is True


def test_stale_file_lock_is_reclaimed(tmpdir_path):
    """A lock left by a dead holder must not deadlock every future
    claimer: past the timeout horizon it is broken and reclaimed."""
    import os
    import time

    from ore_etl_spark.state.stores import _file_lock

    path = f"{tmpdir_path}/ledger.json"
    lock = path + ".lock"
    open(lock, "w").close()
    past = time.time() - 3600
    os.utime(lock, (past, past))  # orphaned an hour ago
    t0 = time.time()
    with _file_lock(path, timeout_s=5.0):
        pass  # must acquire by breaking the stale lock, well under timeout
    assert time.time() - t0 < 2.0
    assert not os.path.exists(lock)


def test_quarantine_recovers_mid_swap_crash(spark, tmpdir_path):
    """Crash between redrive()'s generation renames: current dir missing,
    .next fully written -> quarantine() promotes .next, nothing is lost."""
    import os
    import shutil

    from ore_etl_spark.datagen.wal import generate_wal
    from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
    from ore_etl_spark.tables.merge_table import MergeTable

    wal = f"{tmpdir_path}/events"
    generate_wal(spark, n_keys=300, n_partitions=2).write.parquet(wal)
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/target", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=4,
    )
    p = CdcApplyPipeline(spark, wal, tbl, f"{tmpdir_path}/state")
    p.run()
    n_q = p.quarantine().count()
    assert n_q > 0
    # simulate the crash window: current renamed away, .next in place
    os.rename(p.quarantine_dir, f"{p.quarantine_dir}.next.tmp")
    shutil.rmtree(f"{p.quarantine_dir}.next", ignore_errors=True)
    os.rename(f"{p.quarantine_dir}.next.tmp", f"{p.quarantine_dir}.next")
    assert p.quarantine().count() == n_q  # recovered, nothing lost
    assert os.path.exists(p.quarantine_dir)


def test_heartbeat_protects_live_holder_past_stale_horizon(tmpdir_path):
    """Round-4 ADVICE fix: a LIVE holder stalled inside its critical
    section longer than the stale horizon must NOT get its lock stolen —
    the heartbeat refreshes the lock mtime (every timeout/4), so a
    concurrent waiter times out instead of breaking in and running the
    read-modify-write concurrently (the lost-commit scenario)."""
    import threading
    import time

    from ore_etl_spark.state import stores

    path = f"{tmpdir_path}/current.json"
    entered = threading.Event()
    release = threading.Event()
    outcome = {}

    def holder():
        with stores._file_lock(path, timeout_s=1.0):
            entered.set()
            release.wait(10)  # stalled WAY past the 1s stale horizon

    def waiter():
        try:
            with stores._file_lock(path, timeout_s=3.0):
                outcome["stole"] = True
        except TimeoutError:
            outcome["stole"] = False

    h = threading.Thread(target=holder)
    h.start()
    assert entered.wait(5)
    time.sleep(1.5)  # holder is now past the 1s horizon — but beating
    w = threading.Thread(target=waiter)
    w.start()
    w.join(10)
    assert outcome == {"stole": False}  # live holder was never stolen
    release.set()
    h.join(5)
    # lock released cleanly after the stall; next acquisition is instant
    t0 = time.time()
    with stores._file_lock(path, timeout_s=2.0):
        pass
    assert time.time() - t0 < 1.0


def test_lock_steal_toctou_keeps_fresh_holder(tmpdir_path, monkeypatch):
    """TOCTOU guard on the stale-lock steal: between the staleness check
    and the steal, the stale lock can be replaced by a NEW live holder's
    fresh incarnation. Under the steal-mutex the stealer re-verifies
    (inode, mtime_ns, staleness) before the in-place unlink — a swapped
    fresh lock must survive untouched and the waiter must time out."""
    import os
    import time

    from ore_etl_spark.state import stores

    path = f"{tmpdir_path}/ledger.json"
    lock = path + ".lock"
    open(lock, "w").close()
    past = time.time() - 3600
    os.utime(lock, (past, past))  # genuinely stale
    real_open = os.open

    def racy_open(p, flags, *a, **kw):
        fd = real_open(p, flags, *a, **kw)
        if p == lock + ".steal":
            # simulate the race at the worst moment: the instant this
            # stealer wins the steal-mutex, the stale lock has already
            # been replaced by a live holder's fresh lock
            os.unlink(lock)
            with open(lock, "w") as f:
                f.write("fresh-holder-token")
            # future mtime so the fresh lock can't age past the staleness
            # horizon while the waiter spins toward its deadline
            fut = time.time() + 60
            os.utime(lock, (fut, fut))
            monkeypatch.setattr(stores.os, "open", real_open)
        return fd

    monkeypatch.setattr(stores.os, "open", racy_open)
    with pytest.raises(TimeoutError):
        with stores._file_lock(path, timeout_s=1.0):
            pass
    # the live holder's lock survives, content intact
    assert os.path.exists(lock)
    with open(lock) as f:
        assert f.read() == "fresh-holder-token"
    assert not os.path.exists(lock + ".steal")  # mutex released


def test_stale_steal_mutex_is_cleared(tmpdir_path):
    """A stealer that died between acquiring the steal-mutex and releasing
    it must not deadlock future stealers: a stale mutex corpse is removed
    and the (stale) lock is then broken normally."""
    import os
    import time

    from ore_etl_spark.state import stores

    path = f"{tmpdir_path}/ledger.json"
    lock = path + ".lock"
    past = time.time() - 3600
    for p in (lock, lock + ".steal"):
        open(p, "w").close()
        os.utime(p, (past, past))
    t0 = time.time()
    with stores._file_lock(path, timeout_s=5.0):
        pass
    assert time.time() - t0 < 2.0
    assert not os.path.exists(lock) and not os.path.exists(lock + ".steal")


def test_lock_timeout_names_the_holder(tmpdir_path):
    """Round-4 ADVICE: the heartbeat means a live-but-stalled holder pins
    the lock forever, so the waiter's TimeoutError must say WHO holds it
    (pid/host from the lock file's identity line) and how fresh the
    heartbeat is — an operator-diagnosable stall, not an opaque one."""
    import os
    import re
    import time

    from ore_etl_spark.state import stores

    path = f"{tmpdir_path}/ledger.json"
    # a genuine holder writes the two-line token+identity format
    with stores._file_lock(path, timeout_s=30.0):
        lock = path + ".lock"
        with open(lock) as f:
            content = f.read()
        assert "\n" in content and '"pid"' in content
        # the waiter's timeout is also its staleness horizon, and the
        # holder's heartbeat period (its own timeout/4) is longer than
        # this waiter's whole wait — pin mtime forward so the short
        # waiter cannot (legitimately, per the horizon rule) steal
        fut = time.time() + 60
        os.utime(lock, (fut, fut))
        # a second waiter (fresh mtime -> unstealable) times out loudly
        with pytest.raises(TimeoutError) as ei:
            with stores._file_lock(path, timeout_s=0.3):
                pass
        msg = str(ei.value)
        assert str(os.getpid()) in msg and "host" in msg
        assert re.search(r"mtime age -?\d+\.\d+s", msg)
    # released cleanly despite the failed waiter
    assert not os.path.exists(path + ".lock")


def test_lock_timeout_on_pre_identity_lock(tmpdir_path):
    """A lock file from an older (single-line) writer still yields a
    diagnosable timeout message rather than an IndexError."""
    import os
    import time

    from ore_etl_spark.state import stores

    path = f"{tmpdir_path}/ledger.json"
    lock = path + ".lock"
    with open(lock, "w") as f:
        f.write("bare-token-no-identity")
    fut = time.time() + 60  # keep it unstealable for the whole wait
    os.utime(lock, (fut, fut))
    with pytest.raises(TimeoutError) as ei:
        with stores._file_lock(path, timeout_s=0.3):
            pass
    assert "pre-identity lock" in str(ei.value)
