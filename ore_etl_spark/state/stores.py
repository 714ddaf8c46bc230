"""Engine state: checkpoints, backfill chunk ledger, metrics (FIXTURES §5).

Reference analogs: ``etl_state`` per-type high-watermark docs
(/root/reference/src/types/schemas.ts:159-168) and the ``transform_chunks``
claim/resume ledger (schemas.ts:170-180,
src/etl/transaction-transformer.ts:187-265).

All stores are tiny (O(partitions + batches) rows, never O(events)) so they
live as JSON on the driver-visible filesystem with atomic ``os.replace``
writes — on a real cluster this path is the shared object store / HDFS, and
the same rename-based protocol applies (or the checkpoint table moves into
the lakehouse catalog). Data-plane exactly-once does NOT depend on these:
the batch-id manifest inside the MergeTable snapshot is the authority; the
checkpoint is a restart hint. Re-applying an already-committed range is a
snapshot-level no-op.
"""

from __future__ import annotations

import contextlib
import json
import os
import socket
import threading
import time
import uuid


def _lock_holder(lock: str) -> str:
    """Best-effort description of who holds ``lock`` (round-4 ADVICE: with
    the heartbeat, a live-but-stalled holder pins the lock forever, and a
    bare TimeoutError left the operator blind to WHO is stuck)."""
    try:
        with open(lock) as f:
            content = f.read()
        who = content.split("\n", 1)[1].strip() if "\n" in content else "pre-identity lock"
        age = time.time() - os.path.getmtime(lock)
        return f"held by {who or 'unknown'}; mtime age {age:.1f}s (a fresh mtime means the holder is alive and heartbeating)"
    except OSError:
        return "lock file vanished while timing out"


@contextlib.contextmanager
def _file_lock(path: str, timeout_s: float = 30.0, poll_s: float = 0.005):
    """O_CREAT|O_EXCL advisory lock: makes read-modify-write sections atomic
    across processes sharing the store (the reference gets the same
    guarantee from Mongo findOneAndUpdate, transaction-transformer.ts:261).
    POSIX open(O_EXCL) is atomic on local FS and NFS; on an object store
    this maps to a conditional PUT.

    While held, a daemon heartbeat refreshes the lock's mtime every
    ``timeout_s/4`` so a LIVE holder is never past the stale horizon — a
    holder stalled longer than ``timeout_s`` inside its section (slow
    shared FS, GC pause, a long CAS rebase walk) must not get its lock
    silently stolen, which would let two writers run the read-merge-write
    concurrently and lose a commit. The steal path's inode+mtime_ns
    re-verification means any beat between its two stats vetoes the steal.
    Each beat re-checks the token before touching, so a stealer that DID
    legitimately replace a dead holder's file is never kept alive by the
    dead holder's stray beat."""
    lock = path + ".lock"
    token = uuid.uuid4().hex
    deadline = time.time() + timeout_s
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            # line 1: the ownership token (all compare sites read only this
            # line); line 2: holder identity for stuck-lock diagnostics
            os.write(fd, (token + "\n" + json.dumps(
                {"pid": os.getpid(), "host": socket.gethostname(),
                 "acquired_at": round(time.time(), 3)})).encode())
            os.close(fd)
            break
        except FileExistsError:
            # stale-lock break: a holder that died mid-section leaves the
            # lock file forever; past the timeout horizon no live holder
            # can still be inside (sections are sub-second). The steal must
            # never leave the lock NAME free while a live holder exists
            # (rename-away-then-restore does, letting a third waiter's
            # O_EXCL slip in), so instead: serialize stealers behind a
            # steal-mutex, re-verify under it that the SAME incarnation
            # (inode + mtime_ns) is still past the horizon, then unlink in
            # place. A live holder's lock always has a fresh mtime and its
            # creation requires the name to be free — under the mutex no
            # one else can remove the stale file first — so the verified
            # unlink provably removes only the dead holder's file.
            # deadline FIRST: every path below (steal attempt, mutex
            # contention, persistent unlink errors) must stay bounded —
            # a continue that skipped this check could busy-spin forever
            if time.time() > deadline:
                raise TimeoutError(
                    f"could not acquire {lock} in {timeout_s}s "
                    f"({_lock_holder(lock)})")
            stole = False
            try:
                st = os.stat(lock)
                if time.time() - st.st_mtime > timeout_s:
                    smx = lock + ".steal"
                    try:
                        sfd = os.open(smx, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    except FileExistsError:
                        # another stealer is at it; clear ITS corpse if the
                        # mutex itself went stale (stealer died mid-steal)
                        with contextlib.suppress(OSError):
                            if time.time() - os.path.getmtime(smx) > timeout_s:
                                os.unlink(smx)
                    else:
                        try:
                            st2 = os.stat(lock)
                            if (st2.st_ino == st.st_ino
                                    and st2.st_mtime_ns == st.st_mtime_ns
                                    and time.time() - st2.st_mtime > timeout_s):
                                os.unlink(lock)
                                stole = True
                        except OSError:
                            pass
                        finally:
                            os.close(sfd)
                            with contextlib.suppress(OSError):
                                os.unlink(smx)
            except OSError:
                pass  # lock vanished or another stealer won — poll again
            if not stole:
                time.sleep(poll_s)
    stop_beat = threading.Event()

    def _beat():
        while not stop_beat.wait(timeout_s / 4):
            try:
                with open(lock) as f:
                    if f.read().split("\n", 1)[0] != token:
                        return  # our lock was (wrongly) stolen — stop
                os.utime(lock)
            except OSError:
                return  # released or replaced under us — stop beating

    beat = threading.Thread(target=_beat, daemon=True)
    beat.start()
    try:
        yield
    finally:
        stop_beat.set()
        beat.join(timeout=1.0)
        # release by token: if a (wrongly-presumed-stale) break replaced
        # our lock, do NOT remove the new holder's file
        try:
            with open(lock) as f:
                if f.read().split("\n", 1)[0] == token:
                    os.unlink(lock)
        except OSError:
            pass


class _JsonStore:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def _read(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def _write(self, data: dict) -> None:
        tmp = f"{self.path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(json.dumps(data))  # json.dump runs the pure-Python encoder
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)


class CheckpointStore(_JsonStore):
    """Per-(pipeline, partition) high-watermark on ``delivery_seq``."""

    GLOBAL = "_global"

    def get(self, pipeline: str, partition: str | int = GLOBAL) -> int:
        return self._read().get(pipeline, {}).get(str(partition), {}).get("hwm", -1)

    def set(self, pipeline: str, hwm: int, partition: str | int = GLOBAL,
            extra: dict | None = None, monotone: bool = False) -> None:
        """``monotone=True``: keep max(existing, hwm) — high-watermark
        semantics for concurrent writers whose batches complete out of
        order (chunk 3 finishing before chunk 2 must not drag the hint
        backwards). File-locked read-modify-write either way so parallel
        chunk processors never lose each other's partitions."""
        with _file_lock(self.path):
            data = self._read()
            p = data.setdefault(pipeline, {})
            if monotone:
                hwm = max(hwm, p.get(str(partition), {}).get("hwm", hwm))
            p[str(partition)] = {"hwm": hwm, "updated_at": time.time(),
                                 **(extra or {})}
            self._write(data)

    def set_many(self, pipeline: str, hwms: dict, monotone: bool = False) -> None:
        with _file_lock(self.path):
            data = self._read()
            p = data.setdefault(pipeline, {})
            now = time.time()
            for part, hwm in hwms.items():
                hwm = int(hwm)
                if monotone:
                    hwm = max(hwm, p.get(str(part), {}).get("hwm", hwm))
                p[str(part)] = {"hwm": hwm, "updated_at": now}
            self._write(data)


class ChunkLedger(_JsonStore):
    """Backfill work ledger: seq-range chunks with claim/resume status.

    Reference: transform_chunks with status pending/running/completed/error
    and mid-chunk ``lastProcessedSlot`` resume
    (transaction-transformer.ts:267-432). In Spark the *execution* unit is
    the task, so the ledger exists for restartability + lineage, not for
    work distribution inside a job.
    """

    def plan(self, seq_lo: int, seq_hi: int, chunk_size: int,
             n_slices: int = 1) -> list[dict]:
        """Extend the ledger up to ``seq_hi``. New chunks start AFTER the
        max seq_hi already planned — re-planning when the WAL head has
        advanced never regenerates an overlapping tail chunk (which would
        re-read and re-merge an already-applied range and leave a
        double-entry lineage).

        ``n_slices`` > 1 plans BUCKET-SLICED work units: each seq range
        becomes ``n_slices`` entries, one per key-bucket residue class
        (slice k owns buckets ≡ k mod n_slices). Entries from different
        slices touch disjoint buckets by construction, so concurrent COW
        commits rebase (manifest union) instead of recomputing under the
        optimistic CAS — the multi-writer scaling path. A range is fully
        applied only when ALL its slices complete (the global-hwm walk
        groups by range)."""
        with _file_lock(self.path):
            data = self._read()
            chunks = data.get("chunks", {})
            prev_hi = max((c["seq_hi"] for c in chunks.values()),
                          default=seq_lo - 1)
            lo = max(seq_lo, prev_hi + 1)
            created = []
            while lo <= seq_hi:
                hi = min(lo + chunk_size - 1, seq_hi)
                for k in range(max(1, n_slices)):
                    cid = (f"chunk_{lo}_{hi}" if n_slices <= 1
                           else f"chunk_{lo}_{hi}_s{k}")
                    chunks[cid] = {"chunk_id": cid, "seq_lo": lo,
                                   "seq_hi": hi, "status": "pending",
                                   "last_seq": lo - 1,
                                   "slice_id": k,
                                   "n_slices": max(1, n_slices),
                                   "updated_at": time.time()}
                    created.append(chunks[cid])
                lo = hi + 1
            data["chunks"] = chunks
            self._write(data)
            return created

    def claim_next(self, stale_after_s: float | None = None,
                   slice_id: int | None = None) -> dict | None:
        """Atomically claim the next workable chunk (file-locked
        read-modify-write: two concurrent claimers can never double-claim).

        'pending' and 'error' chunks are always claimable. 'running'
        chunks are re-claimable once their updated_at is older than
        ``stale_after_s`` — a hard crash mid-chunk must not strand its
        remaining range forever (reference claims status in
        pending/error/running, transaction-transformer.ts:261). Pass 0 for
        the single-runner model (any 'running' chunk is a crash leftover),
        None to never steal (multi-runner with live peers).

        ``slice_id``: claim only entries of that bucket slice (affinity
        for sliced plans — entries without a slice field count as slice
        0). Callers fall back to a slice-less claim when their own slice
        is drained (work stealing; correctness is the CAS's job)."""
        with _file_lock(self.path):
            data = self._read()
            now = time.time()
            for c in sorted(data.get("chunks", {}).values(),
                            key=lambda c: (c["seq_lo"], c.get("slice_id", 0))):
                if slice_id is not None and c.get("slice_id", 0) != slice_id:
                    continue
                claimable = c["status"] in ("pending", "error") or (
                    c["status"] == "running"
                    and stale_after_s is not None
                    and now - c.get("updated_at", 0.0) >= stale_after_s
                )
                if claimable:
                    c["status"] = "running"
                    c["updated_at"] = now
                    self._write(data)
                    return dict(c)
            return None

    def update(self, chunk_id: str, status: str | None = None,
               last_seq: int | None = None, error: str | None = None) -> None:
        # file-locked: concurrent runners updating DIFFERENT chunks must
        # not lose each other's writes in the read-modify-write
        with _file_lock(self.path):
            data = self._read()
            c = data["chunks"][chunk_id]
            if status is not None:
                c["status"] = status
            if last_seq is not None:
                c["last_seq"] = int(last_seq)
            if error is not None:
                c["error"] = error
            c["updated_at"] = time.time()
            self._write(data)

    def chunks(self) -> list[dict]:
        return sorted(self._read().get("chunks", {}).values(),
                      key=lambda c: (c["seq_lo"], c.get("slice_id", 0)))


class MetricsLog(_JsonStore):
    """Append-only per-batch / per-partition metrics (north rule: lineage +
    throughput). JSONL append, one line per record."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def append(self, record: dict) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(record) + "\n")

    def records(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]
