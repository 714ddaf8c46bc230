"""Chunked, resumable backfill (reference lifecycle §3.2, SURVEY T2).

The reference splits the slot range into 5000-slot chunks, claims them via
findOneAndUpdate, resumes mid-chunk from lastProcessedSlot, and runs 4
chunks concurrently (/root/reference/src/etl/transaction-transformer.ts:
187-265, 267-432). In Spark, *intra-chunk* parallelism is the executors'
job — a chunk is a delivery_seq range applied as one micro-batch — so
the ledger exists for restartability and lineage, not for work
distribution. Chunks also bound the state each MERGE touches, which
keeps per-commit rewrite amplification predictable at 10^10 events.

Resume semantics: a chunk interrupted mid-way restarts above its recorded
``last_seq`` (batches are idempotent by batch-id, so replaying a range is
safe — stronger than the reference, which can double-apply its last
batch).
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from ..state.stores import ChunkLedger
from .apply import CdcApplyPipeline


class BackfillRunner:
    def __init__(self, pipeline: CdcApplyPipeline, ledger_path: str,
                 chunk_size: int, stale_after_s: float | None = 0.0,
                 bucket_slices: int | None = None):
        """``stale_after_s``: how old a 'running' chunk's heartbeat must be
        before this runner re-claims it (crash recovery). Default 0 = the
        single-runner model: any 'running' chunk at claim time is a crash
        leftover and is resumed from its last_seq. Set a real staleness
        window (or None = never steal) when several runners share a
        ledger.

        ``bucket_slices``: plan each seq range as S bucket-slice work
        units (slice k owns key buckets ≡ k mod S; see
        ``ChunkLedger.plan``). Concurrent workers get slice AFFINITY, so
        in-flight COW commits touch disjoint buckets and the optimistic
        CAS rebases (manifest union) instead of recomputing against every
        peer's snapshot — the measured 0.54×@4-workers COW contention
        cliff becomes parallel speedup. Typically set to the worker count
        for COW sinks; pointless (but harmless) for MOR, whose appends
        always rebase."""
        self.pipe = pipeline
        self.ledger = ChunkLedger(ledger_path)
        self.chunk_size = chunk_size
        self.stale_after_s = stale_after_s
        self.bucket_slices = bucket_slices if (bucket_slices or 0) > 1 else None

    def plan(self) -> list[dict]:
        # JSONL archives: park fully-malformed lines first — they have no
        # delivery_seq, so no chunk's watermark range could ever see them
        self.pipe.quarantine_malformed_source()
        lo, hi = self.pipe.delivery_range()
        if hi is None:  # empty WAL — nothing to plan (mirror apply.run())
            return []
        return self.ledger.plan(lo, hi, self.chunk_size,
                                n_slices=self.bucket_slices or 1)

    def run(self, max_chunks: int | None = None,
            n_workers: int = 1) -> list[dict]:
        """Claim and process chunks until none are pending, or until
        ``max_chunks`` were claimed, with ``n_workers`` chunk processors in
        flight (reference parity: concurrency=4,
        /root/reference/src/config/index.ts:25-29).

        Each worker loops claim → apply → complete. Safety comes from the
        layers below, not from this loop: ledger claims/updates are
        file-locked atomic (no double-claim, no lost status), table commits
        go through the optimistic CAS (disjoint-bucket chunk merges union
        into the snapshot; overlapping ones recompute against the fresh
        snapshot), and checkpoints are monotone. Spark time-slices the
        concurrent jobs across executor slots, so extra workers pay off
        when a single chunk's jobs cannot saturate the cluster (small
        batches, skewed stages, commit latency). A failed chunk is marked
        'error' (re-claimable) and its exception propagates, after the
        other workers drain.
        """
        self.plan()
        done: list[dict] = []
        claimed = 0
        guard = threading.Lock()
        # stale_after_s=0.0 is the SINGLE-runner crash-recovery setting
        # ("any running chunk is a leftover"); with live peers in this
        # process it would make every just-claimed chunk instantly
        # re-claimable and all workers pile onto the same chunk. Treat it
        # as never-steal here; pass a real staleness window to reclaim
        # chunks from crashed EXTERNAL runners.
        stale = self.stale_after_s
        if n_workers > 1 and stale is not None and stale <= 0:
            stale = None

        def claim(widx: int) -> dict | None:
            nonlocal claimed
            with guard:
                if max_chunks is not None and claimed >= max_chunks:
                    return None
                claimed += 1  # reserve a slot BEFORE claiming (no over-claim)
            chunk = None
            # slice affinity: worker w drains slice (w mod S) first, so
            # concurrently-running COW commits touch disjoint buckets and
            # rebase under the CAS. When its own slice is drained it
            # steals from any slice — disjointness is a performance
            # property; correctness is the CAS's regardless.
            if n_workers > 1 and self.bucket_slices:
                chunk = self.ledger.claim_next(
                    stale_after_s=stale, slice_id=widx % self.bucket_slices)
            if chunk is None:
                chunk = self.ledger.claim_next(stale_after_s=stale)
            if chunk is None:
                with guard:
                    claimed -= 1  # release: a None claim must not burn
            return chunk          # the budget other workers still need

        def worker(widx: int) -> None:
            while (chunk := claim(widx)) is not None:
                try:
                    res = self._process_chunk(chunk)
                    self.ledger.update(chunk["chunk_id"], status="completed",
                                       last_seq=chunk["seq_hi"])
                    self._advance_global_hwm()
                except Exception as e:  # back to error -> re-claimable
                    self.ledger.update(chunk["chunk_id"], status="error",
                                       error=str(e))
                    raise
                with guard:
                    done.append(res)

        # the calling thread is worker 0: one worker starts no thread
        with ThreadPoolExecutor(max_workers=max(1, n_workers)) as pool:
            futs = [pool.submit(worker, w) for w in range(1, n_workers)]
            worker(0)
            for f in futs:
                f.result()  # propagate a worker failure
        return done

    def _advance_global_hwm(self) -> None:
        """Publish the CONTIGUOUS-completed prefix as the pipeline's global
        watermark. The global hwm's contract is "everything <= hwm is
        applied" (``CdcApplyPipeline.run`` resumes above it); with chunks
        completing out of order, advancing it per-batch to any finished
        chunk's seq_hi would let a later incremental run skip the gap a
        crashed worker left behind. Chunk batches therefore never touch
        the global hwm (``update_global_hwm=False``) — only this prefix
        walk does, and it stops at the first non-completed chunk. With a
        sliced plan a range counts as applied only when EVERY slice of it
        completed — a single completed slice of a range must never
        publish that range's seq_hi."""
        from itertools import groupby

        hwm = None
        chunks = self.ledger.chunks()  # sorted by seq_lo, ranges contiguous
        for (_, hi), grp in groupby(chunks,
                                    key=lambda c: (c["seq_lo"], c["seq_hi"])):
            if all(c["status"] == "completed" for c in grp):
                hwm = hi
            else:
                break
        if hwm is not None:
            self.pipe.checkpoints.set(self.pipe.pipeline, hwm, monotone=True)

    def _process_chunk(self, chunk: dict) -> dict:
        """Apply a chunk as ONE batch, from above whatever it already
        applied to its seq_hi."""
        start = max(chunk["seq_lo"] - 1, chunk["last_seq"])
        hi = chunk["seq_hi"]
        # heartbeat: the chunk's one batch can run long, and the ledger's
        # only other mtime bump is its end — a peer using a staleness
        # window would steal a live-but-slow chunk. Tick updated_at every
        # 30 s while the chunk runs so only true crashes look stale.
        stop = threading.Event()

        def beat() -> None:
            while not stop.wait(30.0):
                try:
                    self.ledger.update(chunk["chunk_id"])
                except Exception:  # heartbeat must never kill the chunk
                    pass

        ticker = threading.Thread(target=beat, daemon=True)
        ticker.start()
        bucket_slice = None
        if chunk.get("n_slices", 1) > 1:
            bucket_slice = (chunk["slice_id"], chunk["n_slices"])
        results = []
        try:
            if start < hi:  # the caller records last_seq=hi with 'completed'
                results.append(self.pipe.run_batch(start, hi,
                                                   update_global_hwm=False,
                                                   bucket_slice=bucket_slice))
        finally:
            stop.set()
            ticker.join(timeout=5.0)
        return {"chunk_id": chunk["chunk_id"], "batches": results}
