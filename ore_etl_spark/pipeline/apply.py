"""Micro-batch CDC apply: the engine's core loop (reference lifecycle §3.1).

One batch = one delivery_seq range above the checkpoint:

    read events (delivery_seq in (lo, hi])     -- watermark-bounded scan
      -> vectorized decode (JVM expressions)    -- payload -> typed columns
      -> split valid / quarantine               -- never fail the batch
      -> LWW MERGE (touched buckets ∪ batch)    -- one bucket shuffle
      -> atomic snapshot commit w/ batch-id     -- exactly-once
      -> checkpoint hwm (global + per source partition) + metrics row
    (MOR: a due compaction of the pre-append snapshot runs beside all of
    this on a worker thread and is joined last)

Reference shape: DeployETL.run's fetch->process->save->updateETLState loop
(/root/reference/src/etl/deploy-etl.ts:19-100), with its two weaknesses
fixed by construction: the non-atomic state-after-save window (batch-id is
inside the committed snapshot) and the unconditional upsert (conditional
LWW in the MERGE).

Scale notes: for a parquet WAL the head and the batch scan are planned
from per-file ``delivery_seq`` footer bounds (Iceberg manifest parity):
the head is a footer read per NEW file, with no Spark job, and a batch
reads only the files whose bounds meet its range, with the row filter
pushed down on top (row-group pruning, since the WAL is written in
arrival order). Decode is narrow — no shuffle. COW's only shuffle is the
bucket exchange of the batch with the target rows of the buckets it
touches, which the per-key LWW resolution reuses; MOR's only shuffle is
the bucket exchange of the batch itself, so each touched bucket gets one
delta file, written on every core. Per-batch driver work is O(buckets +
partitions + new WAL files), never O(events), and the batch's Column
expressions are built once per pipeline and table, not per batch.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.decode import Decoder
from ..operators.lww import ARRIVAL_COL
from ..state.stores import CheckpointStore, MetricsLog
from ..tables.merge_table import (ExprCache, MergeTable, _pyarrow_file_bounds,
                                   local_frame)

TARGET_FIELDS = [
    ("repo", T.StringType()),
    ("path", T.StringType()),
    ("commit", T.StringType()),
    ("lang", T.StringType()),
    ("content", T.StringType()),
    ("commit_seq", T.LongType()),
    ("event_seq", T.LongType()),
    ("payload_version", T.LongType()),
    ("content_len", T.LongType()),
    ("content_sha256", T.StringType()),
]


def target_schema() -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in TARGET_FIELDS])


# columns the Decoder attaches — everything else in a decoded frame is the
# raw event row (preserved whole in quarantine so a redrive can re-decode)
DECODE_ADDED = ("payload_version", "content", "content_len",
                "content_sha256", "is_valid")


def _spark_hidden(name: str) -> bool:
    """Names Spark's file listing skips (HadoopFSUtils.shouldFilterOutPathName)."""
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def _footer_bounds(path: str) -> list | None:
    """[min, max] of one WAL file's ``delivery_seq`` from its footer, or
    None when they are missing or not integers."""
    try:
        b = _pyarrow_file_bounds(path, ["delivery_seq"]).get("delivery_seq")
    except (OSError, ValueError):  # gone or not parquet (ArrowInvalid):
        return None                # leave it to Spark's reader
    if b is None or not all(type(v) is int for v in b):
        return None
    return b


class CdcApplyPipeline:
    def __init__(
        self,
        spark: SparkSession,
        events_path: str,
        table: MergeTable,
        state_dir: str,
        pipeline: str = "cdc_apply",
        optional_cols: tuple[str, ...] = ("size_bytes",),
        mode: str = "cow",
        compact_every: int | None = None,
        compact_depth: int | None = None,
        events_format: str = "parquet",
        source_schema: T.StructType | None = None,
        source_options: dict | None = None,
    ):
        """``mode``: 'cow' (copy-on-write conditional MERGE — read-optimized)
        or 'mor' (merge-on-read delta append — write-optimized; bytes
        written per batch are O(batch) not O(table); readers resolve LWW).
        ``compact_every``: in MOR mode, fold deltas into the base every N
        batches (amortized read cost). ``compact_depth``: keep every
        bucket's unresolved delta-ref count at or below this — bounds read
        amplification by what readers actually pay rather than a blind
        batch counter. Both are checked when a MOR batch starts (a
        metadata-only check, no Spark job): a batch that would push a
        bucket past ``compact_depth`` (the depth already equals it) folds
        the snapshot it starts from, on a worker thread beside its own
        append, and joins the fold before it returns (``run_batch``)."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown mode {mode!r}")
        if events_format not in ("parquet", "jsonl", "kafka"):
            raise ValueError(f"unknown events_format {events_format!r}")
        self.events_format = events_format
        # wire-path schema evolution seam: a JSONL WAL carrying additive
        # columns (e.g. a Debezium stream whose upstream ALTER TABLE added
        # a field — from_debezium passes it through) is read with this
        # wider schema; list the new column in ``optional_cols`` and the
        # MERGE lands it in the target additively (int→long widening via
        # MergeTable._evolved). None = the engine's base WAL schema.
        # For events_format="kafka" (an archived broker record dump,
        # sources/kafka.py) this is the ENVELOPE schema instead — extras
        # ride in the after-image and surface through from_debezium.
        self.source_schema = source_schema
        # format-specific reader kwargs — for "kafka": seq_fallback
        # ("broker"/"quarantine") and partition_stride (see
        # sources/kafka.py for when each is correct)
        self.source_options = dict(source_options or {})
        self.spark = spark
        self.events_path = events_path
        self.table = table
        self.pipeline = pipeline
        self.optional_cols = optional_cols
        self.mode = mode
        self.compact_every = compact_every
        self.compact_depth = compact_depth
        self._batches_since_compact = 0
        self._expr = ExprCache()
        # WAL footer index: path -> ((size, mtime_ns), [min, max] of
        # delivery_seq or None); the schema the whole-dir read infers,
        # keyed by the listing facts it depends on
        self._footer_index: dict[str, tuple] = {}
        self._wal_schema_cache: tuple | None = None
        self._footer_lock = threading.Lock()
        self.checkpoints = CheckpointStore(f"{state_dir}/checkpoints.json")
        self.metrics = MetricsLog(f"{state_dir}/metrics.jsonl")
        self.quarantine_dir = f"{state_dir}/quarantine"

    # ------------------------------------------------------------------
    def events(self) -> DataFrame:
        if self.events_format == "jsonl":
            from ..sources.cdc_json import read_jsonl_wal

            return read_jsonl_wal(self.spark, self.events_path,
                                  schema=self.source_schema)
        if self.events_format == "kafka":
            from ..sources.kafka import read_kafka_archive

            return read_kafka_archive(self.spark, self.events_path,
                                      envelope_schema=self.source_schema,
                                      **self.source_options)
        return self.spark.read.parquet(self.events_path)

    def _events_with_malformed(self) -> DataFrame:
        """Source rows INCLUDING the dead ones (NULL delivery_seq), with
        the raw line/value in ``_malformed`` where recoverable. Only the
        wire formats have a malformed-row notion; a parquet WAL must
        never fall through to the Kafka-archive reader."""
        if self.events_format == "parquet":
            raise ValueError(
                "parquet WALs have no malformed-row path "
                "(quarantine_malformed_source early-returns for them)")
        if self.events_format == "jsonl":
            from ..sources.cdc_json import read_jsonl_wal

            return read_jsonl_wal(self.spark, self.events_path,
                                  schema=self.source_schema,
                                  keep_malformed=True)
        from ..sources.kafka import read_kafka_archive

        return read_kafka_archive(self.spark, self.events_path,
                                  envelope_schema=self.source_schema,
                                  keep_malformed=True,
                                  **self.source_options)

    def _wal_files(self) -> list[tuple] | None:
        """``(path, (size, mtime_ns), bounds)`` for each data file Spark's
        reader would list in a flat local parquet WAL dir, sorted by path.
        ``bounds`` is the file's ``delivery_seq`` [min, max] from its
        footer, or None when the footer has no integer min/max (an
        all-null row group, an empty file). Footers are read only for
        files that are new or changed since the last call. None when the
        WAL is not such a dir (other formats, a URI, a nested/partitioned
        layout): callers then take the Spark path."""
        if self.events_format != "parquet" or not os.path.isdir(self.events_path):
            return None
        listing = []
        with os.scandir(self.events_path) as it:
            for e in it:
                if e.name.startswith(("_metadata", "_common_metadata")):
                    return None  # summary files steer Spark's inference
                if _spark_hidden(e.name):
                    continue
                if not e.is_file():
                    return None
                st = e.stat()
                listing.append((e.path, (st.st_size, st.st_mtime_ns)))
        listing.sort()
        with self._footer_lock:
            old, index = self._footer_index, {}
            for path, sig in listing:
                hit = old.get(path)
                index[path] = (hit if hit is not None and hit[0] == sig
                               else (sig, _footer_bounds(path)))
            self._footer_index = index
        return [(path, sig, index[path][1]) for path, sig in listing]

    def _wal_schema(self, files: list[tuple]) -> T.StructType:
        """The schema ``events()`` infers for the WAL dir. Spark takes it
        from the first data file by path (from every file under
        mergeSchema), so it is inferred again only when those change."""
        merge = self.spark.conf.get("spark.sql.parquet.mergeSchema",
                                    "false").lower() == "true"
        key = files if merge else files[:1]
        cached = self._wal_schema_cache
        if cached is None or cached[0] != key:
            cached = self._wal_schema_cache = (key, self.events().schema)
        return cached[1]

    def _range_events(self, seq_lo: int, seq_hi: int) -> DataFrame:
        """WAL rows with ``delivery_seq`` in (seq_lo, seq_hi]. A flat local
        parquet WAL reads only the files whose footer bounds meet the
        range, with the schema the whole-dir read infers — the batch's
        columns do not depend on which files it reads."""
        # a SQL string is one py4j round trip; the same predicate built
        # from F.col/>/<=/& is ~60
        rng = f"delivery_seq > {int(seq_lo)} AND delivery_seq <= {int(seq_hi)}"
        files = self._wal_files()
        if not files:
            return self.events().filter(rng)
        schema = self._wal_schema(files)
        keep = [(p, b) for p, _, b in files
                if b is None or (b[1] > seq_lo and b[0] <= seq_hi)]
        if not keep:
            return local_frame(self.spark, schema)
        reader = self.spark.read.schema(schema)
        # past this many root paths Spark lists them in a Spark job; the
        # whole dir is one root, listed on the driver
        limit = int(self.spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "32"))
        if len(keep) > limit:
            return reader.parquet(self.events_path).filter(rng)
        # when every file read lies inside the range (a tail batch over
        # newly landed files), the footers prove the range predicate for
        # each non-null delivery_seq, so the row filter is just IS NOT
        # NULL. That matters for cost: Spark inlines long literals into
        # the generated code, so a new (lo, hi] each batch would compile
        # every stage scanning the batch anew (~6 classes, ~0.2 s a batch
        # on 4 cores); the literal-free filter hits the codegen cache.
        inside = all(b is not None and seq_lo < b[0] and b[1] <= seq_hi
                     for _, b in keep)
        return reader.parquet(*[p for p, _ in keep]).filter(
            self._expr("seq_not_null", lambda: F.col("delivery_seq").isNotNull())
            if inside else rng)

    def delivery_range(self) -> tuple[int, int]:
        """(min, max) ``delivery_seq`` of the WAL. A flat local parquet WAL
        answers from its footer index (no Spark job); anything else —
        other formats, or a file without footer bounds — runs the Spark
        aggregate."""
        files = self._wal_files()
        if files and all(b is not None for _, _, b in files):
            return (min(b[0] for _, _, b in files),
                    max(b[1] for _, _, b in files))
        r = self.events().agg(
            F.min("delivery_seq").alias("lo"), F.max("delivery_seq").alias("hi")
        ).collect()[0]
        return (r["lo"], r["hi"])

    @staticmethod
    def batch_id_for(pipeline: str, lo: int, hi: int) -> str:
        return f"{pipeline}:{lo}:{hi}"

    def quarantine_malformed_source(self) -> int:
        """JSONL archives can hold lines that can never enter a watermark
        batch: lines that are not valid JSON at all (``_malformed`` holds
        the raw text) AND valid-JSON lines that lack or null
        ``delivery_seq``. Either way the batch loop would silently never
        see them — park them in the quarantine (error=
        ``malformed_source_line`` / ``missing_delivery_seq``, raw line in
        ``payload`` so a ``redrive(fix_fn=...)`` can repair them) before
        processing. The payload is the ORIGINAL source line whenever the
        source can supply one (JSONL's ``_raw`` carries every line's true
        bytes; round-4 ADVICE closed the lossy ``to_json``-re-render hole
        where two lines differing only in non-schema fields collapsed and
        one became unrecoverable); a schema-field re-render remains only
        as the last-resort fallback for sources with no raw form. Dedup
        is BY CONTENT (the payload column is the quarantine's idempotency
        key): verbatim-duplicate lines park as ONE row, so a redrive
        repairs/re-injects one event, not duplicates — while any byte
        difference keeps lines distinct.
        Idempotent: rewrites one fixed quarantine sub-dir from the source
        each call. Returns the count of newly parked rows.

        ``events_format="kafka"``: poison broker records (NULL value /
        unparseable envelope / unknown op) arrive the same way — NULL
        delivery_seq with the raw value in ``_malformed`` — so this is
        the engine's DLQ analog of the reference's nack→DLQ path
        (transaction-consumer.ts:150-174)."""
        if self.events_format == "parquet":
            return 0
        bad = self._events_with_malformed().filter(
            F.col("delivery_seq").isNull())
        raw_cols = [c for c in bad.columns if c not in ("_malformed", "_raw")]
        raw_line = F.coalesce(
            F.col("_malformed"),
            *([F.col("_raw")] if "_raw" in bad.columns else []),
            F.to_json(F.struct(*[F.col(c) for c in raw_cols])))
        out = bad.select(
            *[F.col(c) if c != "payload"
              else raw_line.alias("payload") for c in raw_cols],
            F.when(F.col("_malformed").isNotNull(),
                   F.lit("malformed_source_line"))
            .otherwise(F.lit("missing_delivery_seq")).alias("error"),
            F.lit(1).alias("attempts"),
        ).dropDuplicates(["payload"])
        self._quarantine_recover()
        # idempotent across runs AND across redrive's generation swaps: a
        # line already tracked anywhere in the quarantine (possibly at
        # attempts=2+, or dead-lettered) must not be re-parked at
        # attempts=1 — that would resurrect dead letters forever
        existing = self.quarantine().select("payload").distinct()
        out = out.join(existing, "payload", "left_anti").persist()
        n = out.count()  # persist: one archive parse serves count + write
        if n > 0:
            out.write.mode("append").parquet(
                f"{self.quarantine_dir}/batch_id=malformed_source")
        out.unpersist()
        return n

    # ------------------------------------------------------------------
    def _stats_phase(self, seq_lo: int, seq_hi: int,
                     bucket_slice: tuple[int, int] | None = None):
        """Job 1: every per-batch fact in one pass — counters, per-source-
        partition watermarks, touched buckets (for MERGE pruning), and
        schema-evolution column presence.

        ``bucket_slice=(k, S)`` restricts the batch to rows whose key
        bucket ≡ k (mod S) — the bucket-sliced concurrent-backfill unit
        (slices touch disjoint buckets, so their commits are disjoint by
        construction). The key columns are RAW WAL columns (xxhash64 is
        null-safe and deterministic), so the filter applies BEFORE the
        payload decode: each slice pays 1/S of the decode work, and every
        row — valid or invalid — is owned by exactly one slice (invalid
        rows are quarantined once, by their owner, never S times or
        zero)."""
        batch = self._range_events(seq_lo, seq_hi)
        snap = self.table.snapshot()
        spec = (tuple(snap["key_cols"]), snap["n_buckets"])
        bucket = self.table.bucket_expr(snap)
        if bucket_slice is not None:
            k, n_slices = bucket_slice
            batch = batch.filter(self._expr(
                ("slice", spec, k, n_slices),
                lambda: F.pmod(bucket, F.lit(n_slices)) == k))
        decoded = self._expr("decoder", Decoder)(batch)
        present = tuple(c for c in self.optional_cols if c in decoded.columns)

        def aggs():
            return (
                F.col("partition_id"),
                [F.count("*").alias("n_in"),
                 F.sum(F.when(~F.col("is_valid"), 1).otherwise(0)).alias("n_bad"),
                 F.max("delivery_seq").alias("hwm"),
                 F.collect_set(F.when(F.col("is_valid"), bucket)).alias("buckets"),
                 *[F.max(F.col(c).isNotNull()).alias(f"has_{c}")
                   for c in present]])

        by, agg = self._expr(("stats", spec, present), aggs)
        part_stats = decoded.groupBy(by).agg(*agg).collect()
        return decoded, part_stats

    def run_batch(self, seq_lo: int, seq_hi: int, batch_id: str | None = None,
                  stats=None, update_global_hwm: bool = True,
                  bucket_slice: tuple[int, int] | None = None) -> dict:
        """Apply one (lo, hi] delivery range. Idempotent by batch_id.
        With ``bucket_slice=(k, S)`` the batch covers only slice k's rows
        (see ``_stats_phase``) and the default batch id is slice-qualified
        — each slice of a range is its own idempotency unit.

        Spark jobs per batch: one stats pass (counters, per-partition
        watermarks, touched buckets, schema-evolution column presence),
        then the write — for MOR an append whose one exchange lays the
        batch out by bucket (one delta file per touched bucket, every core
        writing), the bucket exchange and the resolve-and-write for COW —
        plus the quarantine write when the batch has invalid rows. For a
        parquet WAL the scan is planned from footer bounds (only files
        meeting the range are read), so no listing or schema-inference job
        precedes it.

        MOR compaction: the cadence is checked before anything else (see
        ``CdcApplyPipeline``). When it trips, ``compact`` starts on the
        pre-append snapshot on a worker thread, and the batch runs its
        stats pass, append, commit, checkpoints in parallel with it; the
        fold's ref-level commit rebases over the append, whichever lands
        first. The fold is joined last, so no compaction outlives its
        batch, and a failed one raises only after the batch is committed,
        checkpointed and recorded. The ``MetricsLog`` record's
        ``compaction`` is ``{version, wall_ms, n_buckets_touched}`` for
        the fold, or None when none ran or it failed.
        Deliberately NO ``.persist()`` of the decoded frame: local-mode
        cache materialization serializes on the block manager (measured
        53 s at 32 threads vs 26 s at 8 on a 505k-event batch —
        anti-scalable), while recomputing the narrow decode is a fully
        parallel ~3 s. On a multi-executor cluster the same reasoning
        holds: the decode is cheaper than the cache build + memory
        pressure.
        """
        if bucket_slice is not None and update_global_hwm:
            # one slice never covers the whole (lo, hi] range: publishing
            # its seq_hi to the global watermark would make run() skip the
            # other slices' events forever (silent data loss). Slice
            # callers (BackfillRunner) own the watermark themselves.
            raise ValueError(
                "bucket_slice batches must pass update_global_hwm=False")
        if batch_id is None:
            batch_id = self.batch_id_for(self.pipeline, seq_lo, seq_hi)
            if bucket_slice is not None:
                batch_id += f":s{bucket_slice[0]}.{bucket_slice[1]}"
        t0 = time.time()
        if self.table.is_committed(batch_id):
            return {"batch_id": batch_id, "skipped_already_committed": True}

        # side work runs on up to two worker threads, started on the first
        # submit and all joined before this call returns (``with``)
        with ThreadPoolExecutor(max_workers=2) as side:
            # --- MOR compaction, beside the batch rather than after it ---
            # it folds the pre-append snapshot; its ref-level commit
            # rebases over this batch's append (``MergeTable.compact``),
            # and it is joined only once the batch is committed and
            # checkpointed
            fold = None
            if self.mode == "mor" and self._compaction_due():
                fold = side.submit(self._compact, f"compact:{batch_id}")
                self._batches_since_compact = 0

            if stats is not None:
                decoded, part_stats = stats
            else:
                decoded, part_stats = self._stats_phase(
                    seq_lo, seq_hi, bucket_slice=bucket_slice)
            qn = sum(r["n_bad"] or 0 for r in part_stats)
            touched = sorted({b for r in part_stats for b in r["buckets"]})
            extra = [
                c for c in self.optional_cols
                if c in decoded.columns and any(r[f"has_{c}"] for r in part_stats)
            ]

            # --- quarantine (only when present; idempotent per-batch dir) --
            # the FULL raw row is kept (not a projection) so redrive() can
            # re-decode after an upstream repair; attempts counts decode
            # tries (reference x-retry-count, transaction-consumer.ts:145-174).
            # r6 (guide §2.6 overlap): the write runs on a worker thread
            # CONCURRENTLY with the merge's own jobs and is joined at the
            # merge's pre-commit barrier: the quarantine must be durable
            # BEFORE the snapshot flips, because a replay of a committed
            # batch_id skips the batch entirely and would never re-park
            # them. A merge that skips the barrier (its batch already
            # committed) still surfaces a failed write below.
            quarantine_fut = pre_commit = None
            if qn > 0:
                # heal any interrupted redrive swap BEFORE writing: creating
                # the dir here would otherwise strand a complete .next
                # generation forever (quarantine() would never promote it)
                self._quarantine_recover()
                raw_cols = tuple(c for c in decoded.columns
                                 if c not in DECODE_ADDED)
                keep, cols = self._expr(("quarantine", raw_cols), lambda: (
                    ~F.col("is_valid"),
                    [*map(F.col, raw_cols),
                     F.lit("payload_decode_failed").alias("error"),
                     F.lit(1).alias("attempts")]))
                bad = decoded.filter(keep).select(*cols)
                qdir = (f"{self.quarantine_dir}/"
                        f"batch_id={batch_id.replace(':', '_')}")
                quarantine_fut = side.submit(
                    lambda: bad.write.mode("overwrite").parquet(qdir))
                pre_commit = quarantine_fut.result

            # --- the write: MOR bucket-exchanged append / COW LWW MERGE ----
            # the arrival breaks version ties in the table's LWW order
            keep, cols = self._expr(("valid", tuple(extra)), lambda: (
                F.col("is_valid"),
                [*[F.col(c) for c in [n for n, _ in TARGET_FIELDS] + ["op", *extra]],
                 F.col("delivery_seq").alias(ARRIVAL_COL)]))
            valid = decoded.filter(keep).select(*cols)
            if self.mode == "mor":
                m = self.table.merge_mor(valid, batch_id, pre_commit=pre_commit)
                self._batches_since_compact += 1
            else:
                m = self.table.merge(valid, batch_id, touched_buckets=touched,
                                     pre_commit=pre_commit)
            if quarantine_fut is not None:
                quarantine_fut.result()  # raises a failed write the merge skipped

            # checkpoint AFTER commit: replay of (lo,hi] is a snapshot-level
            # no-op. Monotone: concurrent chunk processors finish out of
            # order and must never drag a watermark hint backwards.
            if part_stats:
                self.checkpoints.set_many(
                    self.pipeline,
                    {r["partition_id"]: r["hwm"] for r in part_stats},
                    monotone=True,
                )
            # The GLOBAL hwm means "everything <= hwm is applied" — run()
            # resumes above it. Out-of-order chunk completion breaks that
            # contiguity, so the concurrent backfill passes False here and
            # advances the global hwm itself to the contiguous-completed
            # prefix of its ledger (never past a gap).
            if update_global_hwm:
                self.checkpoints.set(self.pipeline, seq_hi, monotone=True)

            # the batch is committed and checkpointed: only now join the
            # fold, so a failed compaction surfaces without leaving the
            # batch behind its checkpoint
            fold_err = compaction = None
            if fold is not None:
                try:
                    compaction = fold.result()
                except Exception as e:  # raised after the record is written
                    fold_err = e

        wall = time.time() - t0
        n_in = sum(r["n_in"] for r in part_stats) if part_stats else None
        rec = {
            "batch_id": batch_id,
            "seq_lo": seq_lo,
            "seq_hi": seq_hi,
            "n_in": n_in,
            "n_quarantined": qn,
            "n_inserted": m.n_inserted,
            "n_updated": m.n_updated,
            "n_stale_ignored": m.n_stale_ignored,
            "n_deleted": m.n_deleted,
            "n_buckets_touched": m.n_buckets_touched,
            "table_version": m.version,
            "wall_ms": round(wall * 1000, 1),
            "events_per_sec": round(n_in / wall, 1) if n_in else None,
            "per_partition": [
                {"partition_id": r["partition_id"], "n_in": r["n_in"],
                 "n_quarantined": r["n_bad"], "hwm": r["hwm"]}
                for r in part_stats
            ],
            # the fold this batch ran beside it, or None
            "compaction": compaction,
        }
        self.metrics.append(rec)
        if fold_err is not None:
            raise fold_err
        return rec

    def _compaction_due(self) -> bool:
        """The MOR cadence, checked before the batch appends: due every
        ``compact_every`` batches, or when the append would leave a bucket
        deeper than ``compact_depth`` (the current depth already reaches
        it). A metadata-only check, no Spark job."""
        return bool(
            (self.compact_every
             and self._batches_since_compact >= self.compact_every)
            or (self.compact_depth
                and self.table.delta_depth() >= self.compact_depth))

    def _compact(self, batch_id: str) -> dict:
        """One ``compact`` call, as the batch record's ``compaction``."""
        t0 = time.perf_counter()
        m = self.table.compact(batch_id)
        return {"version": m.version,
                "wall_ms": round((time.perf_counter() - t0) * 1000, 1),
                "n_buckets_touched": m.n_buckets_touched}

    # ------------------------------------------------------------------
    def run(self, batch_span: int | None = None,
            max_batches: int | None = None) -> list[dict]:
        """Catch up from the checkpoint to the current WAL head, one
        ``run_batch`` per ``batch_span``-wide range, in range order.

        Below 16 scheduler slots the ranges run one at a time on the
        calling thread. At 16 or more (r6, guide §2.6) the next range's
        work starts ahead of its turn on a worker thread, back-filling the
        cores the current batch's serial write/commit tail leaves idle —
        on a saturated cluster two concurrent jobs just split the same
        cores (measured 47% slower at local[2]). What runs ahead:

        - a whole MOR batch, when no compaction cadence can trip
          mid-stream (two threads could race redundant compacts). Delta
          appends commit in any order — their CAS always rebases and LWW
          resolves at read — so two batches are in flight (measured
          20.2 s -> ~16 s on the 1M-event 4-batch bench at 32 CPUs). The
          early batch leaves the global hwm alone; this thread publishes
          each range's seq_hi in range order, once every range before it
          is applied, so a crash can only leave the hwm at a fully-applied
          prefix.
        - otherwise (COW merges read the parent snapshot, so concurrent
          COW batches would just recompute under CommitConflict) only the
          read-only stats pass, which the range's ``run_batch`` then
          takes; commits stay strictly ordered. Reference parity: the
          transformer's fetch-ahead (transaction-transformer.ts:319,341).
        """
        self.quarantine_malformed_source()
        lo_all, hi_all = self.delivery_range()
        if hi_all is None:  # empty WAL — nothing to apply
            return []
        hwm = self.checkpoints.get(self.pipeline)
        if hwm < 0:
            hwm = (lo_all or 0) - 1
        span = batch_span or max(1, (hi_all - hwm))

        ranges = []
        cur = hwm
        while cur < hi_all and (max_batches is None or len(ranges) < max_batches):
            ranges.append((cur, min(cur + span, hi_all)))
            cur = ranges[-1][1]

        width = 2 if self.spark.sparkContext.defaultParallelism >= 16 else 1
        whole = (self.mode == "mor" and self.compact_every is None
                 and self.compact_depth is None)

        def early(lo: int, hi: int):
            if whole:
                return self.run_batch(lo, hi, update_global_hwm=False)
            return self._stats_phase(lo, hi)

        results = []
        ahead = {}  # range index -> future of its early work
        # threads start on the first submit: none at width 1
        with ThreadPoolExecutor(max_workers=width) as pool:
            for i, (lo, hi) in enumerate(ranges):
                for j in range(i + 1, min(i + width, len(ranges))):
                    if j not in ahead:
                        ahead[j] = pool.submit(early, *ranges[j])
                fut = ahead.pop(i, None)
                if fut is None:
                    results.append(self.run_batch(lo, hi))
                elif whole:
                    results.append(fut.result())
                    self.checkpoints.set(self.pipeline, hi, monotone=True)
                else:
                    results.append(self.run_batch(lo, hi, stats=fut.result()))
        return results

    def _quarantine_recover(self) -> None:
        """Heal a crash inside redrive()'s generation swap: if the current
        dir is missing, the fully-written ``.next`` generation (written
        BEFORE any rename) is the correct state; promote it. Leftover
        ``.old`` dirs from a completed swap are GC'd opportunistically."""
        import os
        import shutil

        nxt = f"{self.quarantine_dir}.next"
        if not os.path.exists(self.quarantine_dir) and os.path.exists(nxt):
            os.rename(nxt, self.quarantine_dir)
        old = f"{self.quarantine_dir}.old"
        if os.path.exists(self.quarantine_dir) and os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)

    def quarantine(self) -> DataFrame:
        import os

        from pyspark.sql import types as T

        self._quarantine_recover()
        if not os.path.exists(self.quarantine_dir) or not os.listdir(self.quarantine_dir):
            # empty-case schema must match what run_batch writes: the FULL
            # raw event row plus error/attempts (a fixed subset would make
            # column references crash only when the quarantine is empty).
            # Schema inference over the WAL dir is driver I/O — do it once.
            if not hasattr(self, "_events_schema"):
                try:
                    self._events_schema = list(self.events().schema.fields)
                except Exception:
                    self._events_schema = [
                        T.StructField("event_id", T.StringType(), True),
                        T.StructField("payload", T.StringType(), True),
                    ]
            base = self._events_schema
            fields = base + [T.StructField("error", T.StringType(), True),
                             T.StructField("attempts", T.IntegerType(), True)]
            return local_frame(self.spark, T.StructType(fields))
        return self.spark.read.option("mergeSchema", "true") \
            .parquet(f"{self.quarantine_dir}/*")

    def redrive(self, batch_id: str | None = None, fix_fn=None,
                max_attempts: int = 3) -> dict:
        """Re-drive quarantined events through decode (reference DLQ
        redelivery: retry <= 3 then dead-letter for good,
        transaction-consumer.ts:145-174).

        Rows that now decode merge into the table under ``batch_id``
        (idempotent: a replayed redrive with the same id no-ops; a crash
        between merge and quarantine-rewrite re-merges on the next call and
        conditional LWW converges). Rows that still fail get attempts+1;
        at ``max_attempts`` they are dead-lettered — kept in quarantine
        with a final error, never re-attempted. ``fix_fn(df) -> df`` lets
        the caller repair payloads first (the batch analog of a transient
        upstream fault clearing).
        """
        import shutil

        q = self.quarantine()
        active = q.filter(F.col("attempts") < max_attempts)
        dead = q.filter(F.col("attempts") >= max_attempts)
        if active.isEmpty():
            return {"n_recovered": 0, "n_still_failed": 0,
                    "n_dead": dead.count(), "skipped": True}

        src = fix_fn(active) if fix_fn is not None else active
        dec = self._expr("decoder", Decoder)(src.drop("error"))

        # 1) merge recovered rows FIRST (the quarantine files must still
        #    exist while this job reads them)
        extra = [c for c in self.optional_cols if c in dec.columns]
        valid_cols = [n for n, _ in TARGET_FIELDS] + ["op"]
        recovered = dec.filter(F.col("is_valid")).select(
            *valid_cols, *extra, F.col("delivery_seq").alias(ARRIVAL_COL))
        batch_id = batch_id or f"redrive:{self.pipeline}"
        n_rec = recovered.count()
        if n_rec > 0:
            if self.mode == "mor":
                self.table.merge_mor(recovered, batch_id)
            else:
                self.table.merge(recovered, batch_id)

        # 2) rewrite the quarantine generation: still-failing rows bump
        #    attempts (dead-letter at the cap), dead rows carry over
        raw_cols = [c for c in dec.columns if c not in DECODE_ADDED]
        still = dec.filter(~F.col("is_valid")).select(
            *[c for c in raw_cols if c != "attempts"],
            F.when(F.col("attempts") + 1 >= max_attempts,
                   F.lit("payload_decode_failed_final"))
            .otherwise(F.lit("payload_decode_failed")).alias("error"),
            (F.col("attempts") + 1).alias("attempts"),
        )
        survivors = still.unionByName(dead, allowMissingColumns=True)
        nxt = f"{self.quarantine_dir}.next"
        survivors.write.mode("overwrite").parquet(f"{nxt}/batch_id=redrive")
        n_still = still.count()
        n_dead = dead.count()
        # crash-safe generation swap: .next is fully written first, so at
        # every intermediate crash point either the old or the new complete
        # generation is recoverable (_quarantine_recover promotes .next
        # when current is missing; rmtree+rename-in-place would lose the
        # DLQ entirely if the process died between the two calls)
        import os

        old = f"{self.quarantine_dir}.old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.quarantine_dir, old)
        os.rename(nxt, self.quarantine_dir)
        shutil.rmtree(old, ignore_errors=True)
        rec = {"n_recovered": n_rec, "n_still_failed": n_still,
               "n_dead": n_dead, "batch_id": batch_id}
        self.metrics.append({"redrive": True, **rec})
        return rec
