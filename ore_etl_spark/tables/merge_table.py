"""Bucketed copy-on-write MERGE table on parquet ("Iceberg-lite").

The container has no Iceberg/Delta jars, so this module provides the keyed
MERGE-upsert sink the engine needs, built only on parquet + atomic
snapshot-pointer renames. The design mirrors Iceberg's public semantics:

- **Snapshot isolation**: every commit writes a new immutable snapshot JSON
  (``snapshots/v{N}.json``) and atomically flips the ``CURRENT`` pointer via
  ``os.replace`` (atomic on POSIX). Readers resolve ``CURRENT`` once and see
  a consistent file set.
- **Bucket-level copy-on-write**: rows are hash-bucketed by key
  (``pmod(xxhash64(*key), n_buckets)``). A MERGE only rewrites the buckets
  its source batch touches; untouched buckets keep their existing file refs.
  At 100 TB with e.g. 4096 buckets, a batch touching 1% of keys rewrites
  ~1% of the table, and the target-side scan reads only touched buckets
  (manifest-level partition pruning).
- **One last-writer-wins order on every path**: per key, the greatest
  version tuple wins, and equal versions go to the earliest arrival
  (``operators.lww.dedupe_lww``). A COW merge folds the batch into its
  touched buckets' rows and resolves them together; MOR reads,
  ``compact``, ``rebucket``, repairs and ``changes()`` resolve base +
  deltas the same way. The arrival rides the reserved ``_arrival`` input
  column and is stored as a hidden column next to ``_deleted``. Strictly
  stronger than the reference's unconditional Mongo ``$set`` upsert
  (/root/reference/src/database/mongo-manager.ts:210-225), which silently
  lets stale replays overwrite newer state (hazard documented in the
  reference's own CODE-REVIEW.md:35-56).
- **Tombstones**: DELETEs keep the key with ``_deleted=true`` + its version,
  so an out-of-order older UPDATE arriving in a *later* batch still loses
  LWW instead of resurrecting the row. ``read()`` filters tombstones;
  ``compact()`` can GC them once the out-of-order horizon passes.
- **Exactly-once**: each commit records its ``batch_id``; replaying a batch
  whose id is already in the committed chain is a no-op
  (``is_committed``). Because the batch_id lands in the same snapshot JSON
  whose pointer-flip commits the data, "data applied" and "batch recorded"
  are one atomic event — closing the reference's non-atomic
  state-after-save window (deploy-etl.ts:52-72).
  The manifest keeps the LAST ``batch_window`` ids (default 256), so the
  snapshot stays O(window) at 10^5+ batches instead of rewriting an
  O(batches) list every commit. Replays inside the window are exact
  no-ops; a replay OLDER than the window re-applies but degrades
  gracefully to LWW-correctness: its rows resolve against the stored ones
  by the same order (a verbatim replay loses to the stored row, COW or
  MOR) — state converges to the same answer either way, the window only
  bounds the *wasted work*, mirroring Kafka-consumer replay-horizon
  semantics. ``n_batches_total`` keeps the full lineage count.
- **Schema evolution**: additive columns and int→long / float→double
  widening. Snapshots carry versioned schemas; old files are read with
  their original schema and aligned (missing cols → NULL, narrow types →
  CAST) to the current schema at scan time.

**Concurrency**: optimistic multi-writer (Iceberg optimistic-concurrency
parity; the reference runs 4 concurrent chunk processors,
/root/reference/src/etl/transaction-transformer.ts:109-131). Every commit
is computed against a parent snapshot and published through a CAS on the
``CURRENT`` pointer (``_cas_commit``): under a short file lock the pointer
is re-read, and if another writer advanced it the commit REBASES — delta
(MOR) appends always union in; a tombstone-retaining ``compact`` swaps
exactly the refs it read and unions in iff all of them are still current
(ref-level: it rebases over any concurrent append); COW bucket
replacements union in iff no intervening commit touched the same buckets
(proved by manifest diff); anything else raises ``CommitConflict`` and the
caller recomputes against the fresh snapshot (bounded retries). Writers
never hold the lock during Spark jobs — only for the O(manifest) pointer
swap.

So a MOR tail can compact while it appends (``CdcApplyPipeline`` runs the
fold beside the batch that trips it). Two maintenance calls still assume a
quiet table: ``vacuum`` (it would delete a concurrent in-flight writer's
not-yet-committed files as "aborted") and
``compact(retain_tombstones=False)`` (GC compaction's out-of-order-horizon
precondition is violated by definition while writers are live, and it
keeps the bucket-level rebase rule). Run those from the maintenance
window.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators.lww import ARRIVAL_COL, dedupe_lww

_BUCKET_COL = "_bucket"
# a write's layout key (never written): the bucket's rank in the write's
# sorted bucket set
_RANK_COL = "_rank"
_DELETED_COL = "_deleted"
# hidden columns stored next to the data: the tombstone flag and the
# winning row's arrival (the LWW tie-break)
_HIDDEN = (T.StructField(_DELETED_COL, T.BooleanType(), True),
           T.StructField(ARRIVAL_COL, T.LongType(), True))
# source rows whose _OP_COL equals _DELETE_OP become tombstones
_OP_COL = "op"
_DELETE_OP = "DELETE"
# merge-internal provenance (never written): the row came from the target
_TGT_COL = "_tgt"
# A conflict is only raised when a PEER writer committed during our attempt
# (classic optimistic concurrency: every retry implies system-wide
# progress), so the retries a writer can need is bounded by its peers'
# total commits in flight — 16 covers a 4-worker backfill where every
# chunk overlaps every bucket, with jittered backoff de-synchronizing the
# recompute races.
_MAX_COMMIT_RETRIES = 16

# commits writing more parquet files than this harvest their footer bounds
# as one Spark job instead of a driver thread-pool loop (see
# MergeTable._harvest_bounds). Measured on local FS (sandbox A/B, round 4):
# driver threads win at any count reachable locally (0.08 s @ 128 files,
# 0.8 s @ 1280 vs a flat ~0.3-2 s job overhead) because a local footer
# read is ~1 ms; the threshold targets shared object storage, where a
# footer read is a 30-80 ms RTT and the driver loop at 10k files is
# ~10k×50ms/16 ≈ 30 s of commit tail while the Spark job spreads it across
# every executor core and ships back only the tiny bounds rows.
_HARVEST_DISTRIBUTE_FILES = 1024


def local_frame(spark: SparkSession, schema: T.StructType,
                rows: list[tuple] = ()) -> DataFrame:
    """``rows`` (tuples in ``schema`` order) as a local relation built
    through Arrow: a projection or ``collect`` over it starts no Spark job
    (``createDataFrame`` over a list builds an RDD of Python rows)."""
    arrow = to_arrow_schema(schema)
    return spark.createDataFrame(pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=arrow), schema)


def _pyarrow_file_bounds(path: str, cols: list[str]) -> dict:
    """Min/max of ``cols`` from ONE parquet file's footer. Module-level and
    driver-state-free so it ships to executors in the distributed harvest;
    the driver thread-pool path calls the identical function, so both
    paths are bit-identical by construction. A column is omitted when any
    row group lacks stats or the stats type is not JSON-portable."""
    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    fb: dict = {}
    for c in cols:
        ci = idx.get(c)
        if ci is None:
            continue
        flo = fhi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                flo = None
                break
            mn, mx = st.min, st.max
            if not isinstance(mn, (bool, int, float, str)):
                flo = None  # non-JSON-portable stats type
                break
            flo = mn if flo is None else min(flo, mn)
            fhi = mx if fhi is None else max(fhi, mx)
        if flo is not None:
            fb[c] = [flo, fhi]
    return fb


def _conflict_backoff(attempt: int) -> None:
    import random
    import time as _time

    _time.sleep(min(2.0, 0.05 * (2 ** min(attempt, 5))) * (0.5 + random.random()))


class CommitConflict(Exception):
    """An optimistic commit could not be rebased onto a concurrently
    advanced snapshot (overlapping buckets, diverged schema evolution,
    bucket-spec change, or an expired intervening snapshot). Public commit
    methods catch this and recompute against the fresh snapshot up to
    ``_MAX_COMMIT_RETRIES`` times before letting it propagate."""

# widening lattice: src type -> acceptable wider table type (and vice versa
# when the batch brings the wider type, the table widens to it)
_WIDEN = {
    ("int", "bigint"): "bigint",
    ("smallint", "int"): "int",
    ("smallint", "bigint"): "bigint",
    ("tinyint", "smallint"): "smallint",
    ("tinyint", "int"): "int",
    ("tinyint", "bigint"): "bigint",
    ("float", "double"): "double",
    ("int", "double"): "double",
    ("bigint", "double"): "double",
}


def _wider(a: str, b: str) -> str | None:
    if a == b:
        return a
    return _WIDEN.get((a, b)) or _WIDEN.get((b, a))


class ExprCache:
    """``cache(key, build)``: the Column expression(s) ``build()`` makes,
    built once per ``key``. In PySpark 4.1 every ``F.*`` call is ~5 py4j
    round trips (call-site capture), so a batch that rebuilt its decode,
    stats, align and bucket expressions paid ~1,500 of them; with them
    kept, it pays only for its plan. ``key`` must name everything the
    expressions depend on (schemas, bucket spec), so schema evolution or
    a rebucket builds fresh ones. Kept per table / pipeline instance,
    never process-wide."""

    def __init__(self):
        self._built: dict = {}

    def __call__(self, key, build):
        e = self._built.get(key)
        if e is None:
            e = self._built[key] = build()
        return e


@dataclass
class MergeMetrics:
    batch_id: str
    version: int
    n_inserted: int = 0
    n_updated: int = 0
    n_stale_ignored: int = 0
    n_deleted: int = 0
    n_buckets_touched: int = 0
    skipped_already_committed: bool = False


class MergeTable:
    """A keyed, versioned, MERGE-able table on plain parquet."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # commit-time footer-bounds harvest (read-side file skipping).
        # Driver-side O(files) metadata I/O per commit — a write-heavy
        # pipeline that never range-reads can turn it off per-process;
        # refs without bounds are simply never skipped (always correct).
        self.harvest_stats = True
        self._expr = ExprCache()

    # ---------------------------------------------------------------- setup
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        version_cols: list[str],
        n_buckets: int = 32,
        batch_window: int = 256,
        stats_cols: list[str] | None = None,
    ) -> "MergeTable":
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        for c in key_cols + version_cols:
            if c not in schema.fieldNames():
                raise ValueError(f"key/version column {c!r} not in schema")
        snap = {
            "version": 0,
            "parent": None,
            "batch_id": None,
            "applied_batch_ids": [],
            "batch_window": batch_window,
            "n_batches_total": 0,
            "key_cols": key_cols,
            "version_cols": version_cols,
            "n_buckets": n_buckets,
            "schemas": {"0": schema.json()},
            "current_schema_id": "0",
            # manifest column bounds (Iceberg manifest lower/upper_bounds
            # parity): per-file min/max for these columns, harvested from the
            # parquet footers at commit time, enable file skipping in
            # read_where() without any extra Spark job.
            "stats_cols": stats_cols if stats_cols is not None else list(version_cols),
            "refs": [],
            "committed_at": time.time(),
        }
        t = cls(spark, root)
        t._write_snapshot(snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "MergeTable":
        t = cls(spark, root)
        t.snapshot()  # raises if missing
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "CURRENT"))

    # ------------------------------------------------------------ snapshots
    def snapshot(self) -> dict:
        with open(os.path.join(self.root, "CURRENT")) as f:
            ver = f.read().strip()
        with open(os.path.join(self.root, "snapshots", f"{ver}.json")) as f:
            return json.load(f)

    def _write_snapshot(self, snap: dict) -> None:
        name = f"v{snap['version']}"
        path = os.path.join(self.root, "snapshots", f"{name}.json")
        with open(path, "w") as f:
            f.write(json.dumps(snap))  # json.dump runs the pure-Python encoder
            f.flush()
            os.fsync(f.fileno())
        tmp = os.path.join(self.root, f".CURRENT.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(name)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.root, "CURRENT"))  # atomic commit

    @property
    def version(self) -> int:
        return self.snapshot()["version"]

    def schema(self, snap: dict | None = None) -> T.StructType:
        snap = snap or self.snapshot()
        return T.StructType.fromJson(
            json.loads(snap["schemas"][snap["current_schema_id"]])
        )

    def is_committed(self, batch_id: str, snap: dict | None = None) -> bool:
        """Exact within the retention window (see module docstring); a
        replay older than the window returns False and re-applies — safe,
        the LWW resolution converges identically."""
        snap = snap or self.snapshot()
        return batch_id in snap["applied_batch_ids"]

    def _commit_fields(self, snap: dict, batch_id: str) -> dict:
        """Snapshot bookkeeping shared by every commit path: bounded
        applied-batch manifest + monotone version/lineage counters."""
        window = snap.get("batch_window", 256)
        applied = (snap["applied_batch_ids"] + [batch_id])[-window:]
        return {
            "version": snap["version"] + 1,
            "parent": snap["version"],
            "batch_id": batch_id,
            "applied_batch_ids": applied,
            "n_batches_total": snap.get("n_batches_total", 0) + 1,
            # commit wall-clock, for TIMESTAMP AS OF time travel and the
            # history() log — metadata only, never data-affecting.
            # Clamped monotone against the parent: an NTP step-back (or
            # a skew-clocked second writer host) must not invert history
            # — version_at keeps the LAST qualifying version, so an
            # out-of-order stamp would resolve a timestamp to data that
            # did not exist at that wall-clock.
            "committed_at": max(time.time(),
                                snap.get("committed_at") or 0.0),
        }

    # ----------------------------------------------------------------- read
    def _align(self, df: DataFrame, target: T.StructType) -> DataFrame:
        def build():
            cols = []
            have = {f.name: f for f in df.schema.fields}
            for f in target.fields:
                if f.name in have:
                    if have[f.name].dataType == f.dataType:
                        cols.append(F.col(f.name))
                    else:
                        cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
                else:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            return cols

        return df.select(*self._expr(("align", df.schema, target), build))

    def _read_refs(self, snap: dict, refs: list[dict]) -> DataFrame:
        """``refs``' stored rows, hidden columns included, aligned to the
        snapshot's stored schema (files written before ``_arrival`` existed
        read it as NULL).

        Spark lists more than ``parallelPartitionDiscovery.threshold`` root
        paths in a Spark job with one task per path, so the refs are read
        in chunks of at most that many paths, each listed on the driver,
        and the chunks are unioned: building the read starts no job."""
        full = self._stored_schema(snap)
        if not refs:
            return local_frame(self.spark, full)
        by_schema: dict[str, list[str]] = {}
        for r in refs:
            by_schema.setdefault(r["schema_id"], []).append(
                os.path.join(self.root, r["path"])
            )
        limit = max(1, int(self.spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "32")))
        parts = []
        for sid, paths in by_schema.items():
            stored = T.StructType.fromJson(json.loads(snap["schemas"][sid]))
            reader = self.spark.read.schema(
                T.StructType(stored.fields + list(_HIDDEN)))
            parts += [self._align(reader.parquet(*paths[i:i + limit]), full)
                      for i in range(0, len(paths), limit)]
        df = parts[0]
        for p in parts[1:]:
            df = df.union(p)  # aligned: same columns, same order
        return df

    def _read(self, snap: dict, refs: list[dict], with_deleted: bool) -> DataFrame:
        """``refs``' rows, one per key, in the public read shape:
        ``_arrival`` never surfaces, and ``_deleted`` only with
        ``with_deleted``. Only a bucket with delta refs can hold a key
        twice, so only then does the LWW resolution run — BEFORE
        tombstones are filtered (filtering first would resurrect deleted
        keys)."""
        df = self._read_refs(snap, refs)
        if any(r.get("delta") for r in refs):
            df = dedupe_lww(df, snap["key_cols"], snap["version_cols"])
        df = df.drop(ARRIVAL_COL)
        if not with_deleted:
            df = df.filter(~F.col(_DELETED_COL)).drop(_DELETED_COL)
        return df

    def snapshot_at(self, version: int) -> dict:
        path = os.path.join(self.root, "snapshots", f"v{version}.json")
        with open(path) as f:
            return json.load(f)

    def _stable_snapshots(self) -> list[dict]:
        """Every snapshot still on disk that is COMMITTED — version <=
        CURRENT (a CAS writer creates its vN.json before swapping
        CURRENT, so newer files may be in-flight) and parseable (an
        in-flight file can also be mid-write; skipping it is correct
        because it cannot be committed yet). Driver-side metadata walk,
        bounded by expire_snapshots' retention."""
        cur = self.version
        sdir = os.path.join(self.root, "snapshots")
        out = []
        for name in sorted(os.listdir(sdir)):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            path = os.path.join(sdir, name)
            try:
                with open(path) as f:
                    s = json.load(f)
            except (ValueError, OSError):
                continue
            if s.get("version", cur + 1) <= cur:
                # pre-upgrade snapshots carry no committed_at: fall back
                # to the snapshot file's mtime (written once at commit)
                # so TIMESTAMP AS OF degrades gracefully on old tables
                # instead of refusing to resolve readable versions
                if s.get("committed_at") is None:
                    with contextlib.suppress(OSError):
                        s["committed_at"] = os.path.getmtime(path)
                out.append(s)
        out.sort(key=lambda s: s["version"])
        return out

    def version_at(self, as_of_ts: float) -> int:
        """Newest committed version whose commit wall-clock is <=
        ``as_of_ts`` (the resolution step of Iceberg's TIMESTAMP AS OF).
        Only snapshots still on disk qualify — ``expire_snapshots``
        bounds how far back a timestamp can reach, exactly like
        Iceberg's retention. Stamps are clamped monotone at commit time
        (clock step-backs cannot invert history), and snapshots from
        before the ``committed_at`` field existed resolve by file mtime
        (``_stable_snapshots``) rather than being unreachable."""
        best = None
        for s in self._stable_snapshots():
            ts = s.get("committed_at")
            if ts is not None and ts <= as_of_ts:
                best = s["version"]  # sorted ascending: last wins
        if best is None:
            raise ValueError(
                f"no snapshot committed at or before {as_of_ts} "
                "(expired, or the table is newer than that timestamp)")
        return best

    def history(self) -> list[dict]:
        """The commit log from the snapshots still on disk, oldest
        first (Iceberg ``.history`` metadata-table parity): version,
        parent, batch_id, commit wall-clock, and the ref count — enough
        to pick a rollback/time-travel target without opening snapshot
        JSON by hand."""
        return [{
            "version": s["version"],
            "parent": s.get("parent"),
            "batch_id": s.get("batch_id"),
            "committed_at": s.get("committed_at"),
            "n_refs": len(s.get("refs", [])),
        } for s in self._stable_snapshots()]

    def _snap_for(self, version: int | None,
                  as_of_ts: float | None) -> dict:
        """Snapshot selector shared by every read surface: CURRENT, a
        pinned ``version`` (VERSION AS OF), or the newest version
        committed at or before ``as_of_ts`` (TIMESTAMP AS OF)."""
        if as_of_ts is not None:
            if version is not None:
                raise ValueError("pass version OR as_of_ts, not both")
            version = self.version_at(as_of_ts)
        return self.snapshot() if version is None else self.snapshot_at(version)

    def read(self, with_deleted: bool = False, version: int | None = None,
             as_of_ts: float | None = None) -> DataFrame:
        """Read the current snapshot, or time-travel to ``version``
        (Iceberg VERSION AS OF parity) or to the newest version
        committed at or before wall-clock ``as_of_ts`` (TIMESTAMP AS OF
        parity); snapshots are immutable, so both reads are stable."""
        snap = self._snap_for(version, as_of_ts)
        return self._read(snap, snap["refs"], with_deleted)

    def read_buckets(self, bucket_ids: list[int], with_deleted: bool = False,
                     version: int | None = None,
                     as_of_ts: float | None = None,
                     snap: dict | None = None) -> DataFrame:
        """Manifest-level partition pruning: scan only the named buckets
        (time-travelable; ``snap`` lets an already-resolved caller like
        ``lookup`` avoid resolving twice)."""
        if snap is not None and (version is not None or as_of_ts is not None):
            # a pre-resolved snap silently winning over an explicit
            # version/as_of_ts would read the wrong snapshot; _snap_for
            # raises on conflicting selectors — match it here
            raise ValueError("pass either snap or version/as_of_ts, not both")
        snap = snap or self._snap_for(version, as_of_ts)
        want = set(bucket_ids)
        return self._read(snap, [r for r in snap["refs"] if r["bucket"] in want],
                          with_deleted)

    def prune_refs(self, snap: dict, col: str, lo=None, hi=None) -> tuple[list[dict], int]:
        """Manifest-bounds file skipping: keep only refs whose [min,max] for
        `col` can intersect [lo,hi]. Returns (kept_refs, total_refs).

        LWW-safety: a bucket that has unresolved delta refs is NEVER pruned
        (partially reading a key's delta chain could resurrect an older
        version); COW buckets hold each key exactly once, so dropping a
        bounds-disjoint file cannot change any surviving row."""
        delta_buckets = {r["bucket"] for r in snap["refs"] if r.get("delta")}

        def keep(r: dict) -> bool:
            if r["bucket"] in delta_buckets:
                return True
            b = (r.get("bounds") or {}).get(col)
            # no stats -> cannot prove disjoint -> keep
            return b is None or self._intersects(b, lo, hi)

        kept = [r for r in snap["refs"] if keep(r)]
        return kept, len(snap["refs"])

    @staticmethod
    def _intersects(b: list, lo, hi) -> bool:
        mn, mx = b
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
        return True

    def _expand_file_refs(self, snap: dict, refs: list[dict], col: str,
                          lo, hi) -> list[dict]:
        """File-level pruning inside multi-file buckets: replace a kept ref
        whose ``file_bounds`` are known by pseudo-refs for only the files
        intersecting [lo, hi]. Same LWW-safety rule as ``prune_refs``:
        buckets with unresolved deltas are read whole. This is where
        sort-within-bucket compaction pays off — sorted, range-split files
        have disjoint bounds, so a narrow range opens O(1) files per
        bucket instead of all of them."""
        delta_buckets = {r["bucket"] for r in snap["refs"] if r.get("delta")}
        out = []
        for r in refs:
            fb = r.get("file_bounds")
            if not fb or r["bucket"] in delta_buckets:
                out.append(r)
                continue
            for fn, b in sorted(fb.items()):
                # a file with no harvested bounds for `col` can't be proved
                # disjoint — keep it
                if col not in b or self._intersects(b[col], lo, hi):
                    out.append({**r, "path": os.path.join(r["path"], fn)})
        return out

    def read_where(self, col: str, lo=None, hi=None,
                   with_deleted: bool = False, version: int | None = None,
                   as_of_ts: float | None = None) -> DataFrame:
        """Range read with manifest-level file skipping on `col` (must be in
        the table's ``stats_cols``). Refs whose footer bounds are disjoint
        from [lo, hi] are never opened, and inside multi-file buckets
        (sorted compaction) individual files are pruned too — on top of
        parquet row-group pushdown. The residual predicate is still applied
        (bounds are necessary, not sufficient). ``version``/``as_of_ts``
        time-travel the pruned read (each snapshot carries its own refs
        AND their bounds, so skipping is exact against the old state —
        e.g. reproduce last night's shard read byte-for-byte)."""
        snap = self._snap_for(version, as_of_ts)
        refs, _ = self.prune_refs(snap, col, lo, hi)
        refs = self._expand_file_refs(snap, refs, col, lo, hi)
        df = self._read(snap, refs, with_deleted)
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def lookup(self, key_values: list[tuple], with_deleted: bool = False,
               version: int | None = None,
               as_of_ts: float | None = None) -> DataFrame:
        """Bucket-pruned point read: hash each key to its bucket on the
        driver (same xxhash64 the writer used, over a local relation: no
        Spark job), scan ONLY those buckets' refs, and filter to the exact
        keys. A serving-style key lookup touches O(keys) buckets out of
        thousands — never the table. ``version``/``as_of_ts`` time-travel
        the point read ("what did this key hold at 2am")."""
        snap = self._snap_for(version, as_of_ts)
        key_cols = snap["key_cols"]
        # probe schema MUST follow key_cols order — the probe binds tuples
        # by position, and callers pass key tuples in key_cols order
        by_name = {f.name: f for f in self.schema(snap).fields}
        probe = local_frame(self.spark, T.StructType(
            [by_name[c] for c in key_cols]), key_values)
        buckets = {r[0] for r in probe.select(self.bucket_expr(snap)).collect()}
        # the resolved snapshot flows through: bucket spec, refs, AND the
        # read itself must all come from the SAME (possibly time-traveled)
        # state — reading CURRENT here would leak post-as-of data
        df = self.read_buckets(buckets, with_deleted=with_deleted, snap=snap)
        cond = None
        for kv in key_values:
            one = None
            for c, v in zip(key_cols, kv):
                # engine invariant: every keyed comparison is null-safe —
                # view tables group on nullable columns, so a NULL key
                # component must match stored NULLs, not drop the row
                e = F.col(c).eqNullSafe(F.lit(v))
                one = e if one is None else (one & e)
            cond = one if cond is None else (cond | one)
        return df.filter(cond)

    def file_stats(self) -> dict:
        """Table shape from manifest + parquet footers only — no Spark job.

        Per-ref row counts and byte sizes, delta depth per bucket, and the
        small-file signal an auto-compaction policy needs. O(files) driver
        metadata reads (the same footers the bounds harvest touches)."""
        snap = self.snapshot()
        per_bucket: dict[int, dict] = {}
        total_rows = 0
        total_bytes = 0
        n_files = 0
        for r in snap["refs"]:
            b = per_bucket.setdefault(
                r["bucket"], {"refs": 0, "delta_refs": 0, "rows": 0, "bytes": 0}
            )
            b["refs"] += 1
            if r.get("delta"):
                b["delta_refs"] += 1
            full = os.path.join(self.root, r["path"])
            for fname in os.listdir(full):
                if not fname.endswith(".parquet"):
                    continue
                fpath = os.path.join(full, fname)
                md = pq.ParquetFile(fpath).metadata
                n_files += 1
                b["rows"] += md.num_rows
                sz = os.path.getsize(fpath)
                b["bytes"] += sz
                total_rows += md.num_rows
                total_bytes += sz
        return {
            "version": snap["version"],
            "n_buckets": snap["n_buckets"],
            "n_refs": len(snap["refs"]),
            "n_files": n_files,
            "total_rows": total_rows,       # physical rows incl. tombstones
            "total_bytes": total_bytes,     # and unresolved MOR duplicates
            "max_delta_depth": max(
                (b["delta_refs"] for b in per_bucket.values()), default=0
            ),
            "per_bucket": per_bucket,
        }

    def delta_depth(self) -> int:
        """Max unresolved delta refs on any bucket — the read-amplification
        bound a MOR reader pays. Compaction policy: fold when this exceeds
        a threshold (see CdcApplyPipeline compact_depth)."""
        snap = self.snapshot()
        depth: dict[int, int] = {}
        for r in snap["refs"]:
            if r.get("delta"):
                depth[r["bucket"]] = depth.get(r["bucket"], 0) + 1
        return max(depth.values(), default=0)

    def bucket_expr(self, snap: dict | None = None):
        snap = snap or self.snapshot()
        key_cols, n = tuple(snap["key_cols"]), snap["n_buckets"]
        return self._expr(("bucket", key_cols, n), lambda: F.pmod(
            F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n)).cast("int"))

    # ---------------------------------------------------------------- write
    def _evolved(self, snap: dict, source: DataFrame) -> dict:
        """``snap`` with its schema evolved to take ``source``'s data
        columns (every column but ``op`` and ``_``-internals): additive
        columns + type widening. A change no widening covers — a key column
        included — raises ValueError before anything is written."""
        cur = self.schema(snap)
        fields = list(cur.fields)
        names = {f.name: i for i, f in enumerate(fields)}
        changed = False
        for f in source.schema.fields:
            if f.name == _OP_COL or f.name.startswith("_"):
                continue
            if f.name not in names:
                fields.append(T.StructField(f.name, f.dataType, True))
                names[f.name] = len(fields) - 1
                changed = True
            else:
                cur_f = fields[names[f.name]]
                if cur_f.dataType != f.dataType:
                    w = _wider(cur_f.dataType.simpleString(), f.dataType.simpleString())
                    if w is None:
                        raise ValueError(
                            f"incompatible type change for {f.name}: "
                            f"{cur_f.dataType.simpleString()} -> {f.dataType.simpleString()}"
                        )
                    if w != cur_f.dataType.simpleString():
                        fields[names[f.name]] = T.StructField(
                            f.name, T._parse_datatype_string(w), True
                        )
                        changed = True
        if changed:
            new_id = str(len(snap["schemas"]))
            snap = dict(snap)
            snap["schemas"] = dict(snap["schemas"])
            snap["schemas"][new_id] = T.StructType(fields).json()
            snap["current_schema_id"] = new_id
        return snap

    def _stored_schema(self, snap: dict) -> T.StructType:
        """The table schema as written to files: data columns + the hidden
        tombstone flag and arrival."""
        return T.StructType(self.schema(snap).fields + list(_HIDDEN))

    def _tombstoned(self, df: DataFrame) -> DataFrame:
        """Rows whose ``op`` is DELETE become tombstones."""
        has_op = _OP_COL in df.columns
        return df.withColumn(_DELETED_COL, self._expr(
            ("tombstone", has_op),
            lambda: (F.col(_OP_COL) == F.lit(_DELETE_OP)) if has_op
            else F.lit(False)))

    def _bucket_layout(self, df: DataFrame, snap: dict,
                       buckets=None) -> DataFrame:
        """``df`` with ``snap``'s bucket id, laid out for a write of
        ``buckets`` (default: all): bucket b's rank r in the sorted set
        (``_RANK_COL``, a literal array indexed by b) goes to task ``r mod
        k``, ``k = min(|buckets|, defaultParallelism)``. Dense ranks spread
        any set evenly, with no sampling job: hashing ids 0..15 lands
        6/4/3/3 on 4 tasks, and placing {0, 4, 8, 12} by id puts all in
        task 0. A grouping that includes ``_RANK_COL`` reuses the exchange,
        and the task count keeps AQE from coalescing it."""
        n = snap["n_buckets"]
        rank = {b: r for r, b in enumerate(sorted(buckets or range(n)))}
        k = min(len(rank), self.spark.sparkContext.defaultParallelism)
        # one SQL string is one py4j round trip; F.lit(list) is ~5 per id
        ranks = ",".join(str(rank.get(b, 0)) for b in range(n))
        return (df.withColumn(_BUCKET_COL, self.bucket_expr(snap))
                .withColumn(_RANK_COL, F.expr(f"get(array({ranks}), {_BUCKET_COL})"))
                .repartitionById(k, self._expr("rank_col", lambda: F.col(_RANK_COL))))

    def _rewrite(self, snap: dict, refs: list[dict], out_snap: dict,
                 buckets=None, batch: DataFrame | None = None,
                 assign: dict | None = None,
                 drop_tombstones: bool = False) -> DataFrame:
        """The resolve-and-rewrite step of every bucket-replacing write
        (``merge``, ``update_where``, ``compact``, ``rebucket``): ``refs``'
        rows, plus ``batch``'s (``merge``: tagged ``_TGT_COL`` false, the
        target rows true, with per-key ``_has_src``/``_has_tgt`` flags),
        under ``out_snap``'s bucket spec, laid out over ``buckets``
        (``_bucket_layout``), resolved per (rank, key) when a key can hold
        two rows, given ``assign``'s column values, and sorted within each
        bucket by ``stats_cols`` (Iceberg sort-order parity: sorted data
        gives parquet row-group pruning real bite). One Exchange in all;
        the rank never reaches a file. Tombstones are dropped after the
        resolution, never before (that would resurrect deleted keys)."""
        df = self._read_refs(snap, refs)
        aggs = []
        if batch is not None:
            tgt = F.col(_TGT_COL)
            df = batch.withColumn(_TGT_COL, F.lit(False)).unionByName(
                df.withColumn(_TGT_COL, F.lit(True)))
            aggs = [F.max(~tgt).alias("_has_src"), F.max(tgt).alias("_has_tgt")]
        df = self._bucket_layout(df, out_snap, buckets)
        if batch is not None or any(r.get("delta") for r in refs):
            df = dedupe_lww(df, [_RANK_COL, *snap["key_cols"]],
                            snap["version_cols"], *aggs)
        if assign:
            df = df.withColumns(assign)
        if drop_tombstones:
            df = df.filter(~F.col(_DELETED_COL))
        sort_cols = [c for c in (snap.get("stats_cols") or []) if c in df.columns]
        return df.sortWithinPartitions(_BUCKET_COL, *sort_cols).drop(_RANK_COL)

    # ----------------------------------------------------------- MOR write
    def merge_mor(
        self,
        source: DataFrame,
        batch_id: str,
        pre_commit=None,
    ) -> MergeMetrics:
        """Merge-on-read upsert: append delta files, resolve at read.

        ``source`` rows whose ``op`` column is ``DELETE`` become
        tombstones. New columns and widened types evolve the table schema;
        a type change no widening covers raises ``ValueError``.

        ``pre_commit``: optional zero-arg callable invoked after the data
        write but BEFORE the snapshot CAS — the barrier for side work that
        must be durable before the batch becomes visible (the apply
        pipeline overlaps its quarantine write with the append and joins
        it here; committing first would let an idempotent replay skip the
        batch with the quarantine rows lost). It runs on every commit path,
        a zero-row batch included. An exception from it aborts the commit
        (attempt files are dead weight, GC'able).

        The write path is source -> bucketed APPEND of rows + tombstones,
        laid out over every bucket (``_bucket_layout``; a bucket's rank is
        its id), so each bucket lands in exactly one of ``min(n_buckets,
        defaultParallelism)`` write tasks with even bucket counts: ONE
        delta file per touched bucket, with every core writing. In-batch
        duplicates are written as they are. No target-side scan, no join,
        no rewrite of carried rows — bytes written (and shuffled) per batch
        are O(batch), not O(table). Without the exchange every scan task
        would write every bucket (``tasks × n_buckets`` files per batch);
        coalescing to one task writes them serially on one core.

        This is the write-optimized half of the Hudi/Paimon MOR trade:
        readers resolve LWW across base + deltas (``read`` does a global
        dedupe per bucket), and ``compact`` folds deltas back into one
        resolved file set per bucket, so the cost of the trade is more
        delta files, bounded by the compaction cadence. The returned
        metrics carry only ``n_buckets_touched``: row outcomes are decided
        at read time, so the append cannot count them.

        Reads resolve with the same LWW order as the COW ``merge``
        (``dedupe_lww``: version, then earliest ``_arrival``), so both
        modes converge to the same state, tombstones included. Exactly-once
        batch-id manifests are shared with the COW path.

        Multi-writer safe: delta appends REBASE onto any concurrently
        advanced snapshot unconditionally (read-time LWW resolves
        overlaps) — only diverged schema evolution forces a recompute.
        """
        def attempt(snap: dict) -> MergeMetrics:
            snap = self._evolved(snap, source)
            src = self._align(self._tombstoned(source), self._stored_schema(snap))
            src = self._bucket_layout(src, snap).drop(_RANK_COL)
            return self._write_and_commit(snap, batch_id, src, None,
                                          pre_commit=pre_commit)

        return self._commit_with_retries("merge_mor", batch_id, attempt)

    def compact(self, batch_id: str, retain_tombstones: bool = True,
                rows_per_file: int | None = None) -> MergeMetrics:
        """Fold delta files into one resolved file set per bucket (MOR ->
        COW base). Idempotent by batch_id.

        Bucket-pruned: only buckets that actually hold delta refs (or,
        when ``retain_tombstones=False``, any refs at all — tombstone GC
        must visit every file) are read and rewritten; clean buckets carry
        their existing refs untouched. A tail of fresh deltas over 1% of
        buckets compacts 1% of the table, not all of it. The read and
        rewrite is ``_rewrite``: one Exchange, up to one write task per
        core.

        ``retain_tombstones=True`` (default) keeps the winning tombstone
        rows: compaction can then run at ANY point mid-stream — an
        out-of-order event older than a delete still loses LWW against the
        retained tombstone. Pass ``False`` only when no event older than
        the tombstones can still arrive (out-of-order horizon passed) —
        that is the GC/expiry compaction.

        A tombstone-retaining compaction commits at the REF level: it
        swaps exactly the refs it read and keeps every ref committed after
        them, so it rebases over any concurrent delta append (the fold
        keeps each winner's version, ``_arrival`` and ``_deleted``, and LWW
        is a max, so resolving fold(R) ∪ D equals resolving R ∪ D). It
        conflicts, and recomputes, only when one of its input refs is gone
        (another compaction, a COW ``merge``, ``update_where``,
        ``rebucket``, ``rollback``), the bucket count changed, or the
        schema diverged. That is what lets a MOR ``CdcApplyPipeline`` run
        it beside the batch whose cadence trips it (``run_batch``).
        ``retain_tombstones=False`` keeps the bucket-level rule: any
        intervening commit to its buckets forces a recompute.

        With ``rows_per_file`` set, each sorted bucket splits into
        range-disjoint files whose footer bounds let ``read_where`` open
        O(1) files per bucket for a narrow range."""
        def attempt(snap: dict) -> MergeMetrics:
            dirty = {r["bucket"] for r in snap["refs"]
                     if r.get("delta") or not retain_tombstones}
            if not dirty:
                return self._write_and_commit(snap, batch_id, None, set())
            read = [r for r in snap["refs"] if r["bucket"] in dirty]
            return self._write_and_commit(
                snap, batch_id,
                self._rewrite(snap, read, snap, dirty,
                              drop_tombstones=not retain_tombstones),
                dirty, rows_per_file=rows_per_file,
                swap_refs=read if retain_tombstones else None)

        return self._commit_with_retries("compact", batch_id, attempt)

    def rebucket(self, n_buckets: int, batch_id: str) -> MergeMetrics:
        """Bucket-spec evolution (Iceberg partition-spec-evolution analog):
        rewrite the table at a new bucket count in one resolved pass.

        A bucket count chosen at day one is wrong at 10^10 keys: too few
        buckets -> giant files and coarse MERGE pruning; too many -> small
        files. Because the bucket id is derived (hash(key) % n), changing n
        only requires one LWW-resolved rewrite (``_rewrite``) — the
        snapshot carries the new count, every later merge/read derives
        buckets from it, and time travel to pre-rebucket versions still
        resolves through those snapshots' own n_buckets. Idempotent by
        batch_id. A global restructure commits EXCLUSIVELY — it never
        rebases; racing with any concurrent commit recomputes from the
        fresh snapshot."""
        def attempt(snap: dict) -> MergeMetrics:
            old_buckets = {r["bucket"] for r in snap["refs"]}
            out_snap = {**snap, "n_buckets": int(n_buckets)}
            return self._write_and_commit(
                out_snap, batch_id,
                self._rewrite(snap, snap["refs"], out_snap),
                old_buckets, exclusive=True)

        return self._commit_with_retries("rebucket", batch_id, attempt)

    def merge(
        self,
        source: DataFrame,
        batch_id: str,
        touched_buckets: list[int] | None = None,
        pre_commit=None,
    ) -> MergeMetrics:
        """Last-writer-wins MERGE of `source` into the table.

        `source` must contain key + version columns; it may hold several
        rows per key. Rows whose ``op`` column is ``DELETE`` become
        tombstones; an ``_arrival`` column, when present, breaks version
        ties (earliest wins). New columns and widened types evolve the
        table schema; a type change no widening covers (key columns
        included) raises ``ValueError`` before anything is written.
        Idempotent by `batch_id`.

        The merge is ``_rewrite`` of the touched buckets with the aligned
        batch as one more input. The provenance flag follows every data
        field in the resolved row, so it only separates byte-identical
        rows: a verbatim replay resolves to the stored row and counts as
        stale. The returned insert/update/stale/delete counts (and the
        lineage row) come from the winner's provenance and per-key
        has-source/has-target flags, observed on the bucket write itself
        (``DataFrame.observe``): no extra Spark job.

        ``pre_commit``: zero-arg callable run after the bucket write,
        before the snapshot CAS (see ``merge_mor`` — the quarantine-write
        overlap barrier). It runs on every commit path, including the
        id-only commit of a batch that touches no bucket.

        ``touched_buckets``: the batch's bucket set, if the caller already
        knows it (the apply pipeline takes it from its stats pass). It must
        be a SUPERSET of the source's buckets: source rows in an
        un-declared bucket would land in a new file while the old refs for
        that bucket are retained — silent key duplication that read() would
        not resolve (no delta flag). The commit verifies this and raises
        before the snapshot flips. Without it, ``source`` is evaluated
        once: persisted, its bucket set taken by the pass that fills the
        cache, and unpersisted before ``merge`` returns.

        Multi-writer safe: the commit is published via ``_cas_commit``; on
        a bucket-overlap conflict the whole merge recomputes against the
        fresh snapshot (bounded retries).
        """
        own_cache = touched_buckets is None and not source.is_cached
        if own_cache:
            source = source.persist()

        def attempt(snap: dict) -> MergeMetrics:
            snap = self._evolved(snap, source)
            src = self._align(self._tombstoned(source), self._stored_schema(snap))
            if touched_buckets is not None:
                touched = set(touched_buckets)
            else:
                touched = {r[0] for r in src.select(
                    self.bucket_expr(snap)).distinct().collect()}
            if not touched:
                # an all-invalid batch commits nothing but its id
                return self._write_and_commit(snap, batch_id, None, set(),
                                              pre_commit=pre_commit)

            won = self._rewrite(
                snap, [r for r in snap["refs"] if r["bucket"] in touched],
                snap, touched, batch=src)
            tgt = F.col(_TGT_COL)
            obs = Observation()  # one per attempt: it can only be used once
            out = won.observe(
                obs,
                F.count_if(~tgt & ~F.col("_has_tgt")).alias("n_inserted"),
                F.count_if(~tgt & F.col("_has_tgt")).alias("n_updated"),
                F.count_if(tgt & F.col("_has_src")).alias("n_stale_ignored"),
                F.count_if(~tgt & F.col(_DELETED_COL)).alias("n_deleted"),
            ).drop(_TGT_COL, "_has_src", "_has_tgt")
            return self._write_and_commit(snap, batch_id, out, touched,
                                          pre_commit=pre_commit,
                                          counts=lambda: obs.get)

        try:
            return self._commit_with_retries("merge", batch_id, attempt)
        finally:
            if own_cache:
                source.unpersist()

    # ------------------------------------------------------ commit protocol
    def _commit_with_retries(self, kind: str, batch_id: str, attempt_fn) -> MergeMetrics:
        """Run ``attempt_fn(snap)`` against the current snapshot until it
        commits. A batch id the snapshot already holds is a replay: it
        returns as skipped and the attempt never runs. Each CommitConflict
        (a peer committed — bounded, system-wide-progressing retries)
        recomputes against a fresh snapshot after a jittered backoff.
        Re-raises with the LAST conflict's reason chained for
        diagnosability."""
        last: CommitConflict | None = None
        for attempt in range(_MAX_COMMIT_RETRIES):
            snap = self.snapshot()
            if self.is_committed(batch_id, snap):
                return MergeMetrics(batch_id=batch_id, version=snap["version"],
                                    skipped_already_committed=True)
            try:
                return attempt_fn(snap)
            except CommitConflict as e:
                last = e
                if attempt < _MAX_COMMIT_RETRIES - 1:
                    _conflict_backoff(attempt)
        raise CommitConflict(
            f"{kind}({batch_id!r}) exhausted {_MAX_COMMIT_RETRIES} commit retries"
        ) from last

    def _write_and_commit(
        self,
        snap: dict,
        batch_id: str,
        out: DataFrame | None,
        replace: set | None,
        exclusive: bool = False,
        pre_commit=None,
        rows_per_file: int | None = None,
        counts=None,
        swap_refs: list[dict] | None = None,
    ) -> MergeMetrics:
        """The commit tail every write kind shares, computed against parent
        ``snap``.

        ``out`` (laid out by the caller, carrying ``_BUCKET_COL``) is
        written bucket-partitioned into an attempt-unique directory; None
        commits the batch id alone. ``replace`` is the bucket set whose
        refs the commit swaps for the written ones (None = delta append,
        ``exclusive`` = never rebase, see ``_cas_commit``); ``swap_refs``
        narrows the swap to exactly those refs, all inside ``replace``
        (the ref-level replace of ``compact``). Then, in order:
        a non-exclusive replace that wrote a bucket outside ``replace``
        raises — the retained old refs for that bucket would silently
        duplicate keys; ``pre_commit()`` runs, on every path; the CAS
        publishes (a replay found under the lock returns as skipped); and
        the commit's metrics — ``counts()`` read after the write, plus the
        buckets written — are returned and appended as one lineage row."""
        written: dict = {}
        if out is not None:
            # attempt-unique directory: racing writers from the same parent
            # must never collide on a path (the version is assigned at commit)
            rel_dir = self._attempt_dir(snap)
            out_dir = os.path.join(self.root, rel_dir)
            writer = out.write.partitionBy(_BUCKET_COL).mode("overwrite")
            if rows_per_file:
                writer = writer.option("maxRecordsPerFile", int(rows_per_file))
            writer.parquet(out_dir)
            written = self._list_written(out_dir, rel_dir)

        unexpected = (set() if replace is None or exclusive
                      else set(written) - replace)
        if unexpected:
            # abort BEFORE the pointer flip: the old snapshot stays current,
            # the orphan attempt files are dead weight only (GC'able)
            raise RuntimeError(
                f"commit {batch_id!r} wrote buckets {sorted(unexpected)} "
                "outside the buckets it replaces — merge's touched_buckets "
                "must be a superset of the source's buckets (retained old "
                "refs for those buckets would silently duplicate keys)"
            )
        if pre_commit is not None:
            pre_commit()  # must be durable before the snapshot flips

        new_snap, skipped = self._cas_commit(
            snap, batch_id,
            self._make_refs(snap, written, delta=replace is None),
            replace, exclusive=exclusive,
            swap=None if swap_refs is None
            else frozenset(r["path"] for r in swap_refs))
        if skipped:
            return MergeMetrics(batch_id=batch_id, version=new_snap["version"],
                                skipped_already_committed=True)
        m = MergeMetrics(batch_id=batch_id, version=new_snap["version"],
                         n_buckets_touched=len(written),
                         **(counts() if counts is not None else {}))
        row = asdict(m)
        del row["skipped_already_committed"]
        self._append_lineage(row)
        return m

    # ------------------------------------------------ optimistic concurrency
    @staticmethod
    def _merged_refs(base_refs: list[dict], new_refs: list[dict],
                     replace_buckets: set | None,
                     swap: frozenset | None = None) -> list[dict]:
        if swap is not None:  # ref-level replace
            return [r for r in base_refs if r["path"] not in swap] + new_refs
        if replace_buckets is None:  # delta append — never drop prior refs
            return list(base_refs) + new_refs
        return [r for r in base_refs
                if r["bucket"] not in replace_buckets] + new_refs

    def _intervening_touched(self, parent: dict, cur: dict) -> set:
        """Buckets whose ref set changed in any commit after ``parent`` up
        to ``cur`` (manifest diff per version step). Raises CommitConflict
        if a needed snapshot was expired mid-flight — disjointness can no
        longer be proved, so the caller must recompute."""
        touched: set = set()
        prev = self._refs_by_bucket(parent)
        try:
            for v in range(parent["version"] + 1, cur["version"] + 1):
                s = cur if v == cur["version"] else self.snapshot_at(v)
                nxt = self._refs_by_bucket(s)
                for b in set(prev) | set(nxt):
                    if prev.get(b) != nxt.get(b):
                        touched.add(b)
                prev = nxt
        except FileNotFoundError as e:
            raise CommitConflict(
                "intervening snapshot expired; cannot prove bucket "
                "disjointness for rebase"
            ) from e
        return touched

    def _cas_commit(
        self,
        ours: dict,
        batch_id: str,
        new_refs: list[dict],
        replace_buckets: set | None,
        exclusive: bool = False,
        swap: frozenset | None = None,
    ) -> tuple[dict, bool]:
        """Atomically publish a commit computed against parent snapshot
        ``ours`` (the caller's copy, possibly carrying schema evolution).
        Returns ``(snapshot, replay_skipped)``.

        Under the table lock the CURRENT pointer is re-read:

        - parent unchanged → plain advance (fast path);
        - advanced → REBASE onto the newer snapshot when provably safe:
          delta appends always union in; a ref-level replace (``swap``,
          the ref paths it read) unions in iff every one of those refs is
          still current; COW replacements union in iff no intervening
          commit touched ``replace_buckets``; all of them only when schema
          evolution did not diverge; otherwise ``CommitConflict``;
        - ``exclusive`` commits (rebucket — a global restructure) never
          rebase.

        The lock covers only the O(manifest) read-merge-write — data files
        were already written outside it, under an attempt-unique directory
        so racing writers never collide on paths.
        """
        from ..state.stores import _file_lock

        with _file_lock(os.path.join(self.root, "CURRENT")):
            cur = self.snapshot()
            if batch_id in cur["applied_batch_ids"]:
                return cur, True  # another writer already applied this batch
            if cur["version"] == ours["version"]:
                new_snap = {
                    **ours,
                    **self._commit_fields(ours, batch_id),
                    "refs": self._merged_refs(ours["refs"], new_refs,
                                              replace_buckets, swap),
                }
                self._write_snapshot(new_snap)
                return new_snap, False

            # ---- rebase path --------------------------------------------
            if exclusive:
                raise CommitConflict(
                    f"exclusive commit {batch_id!r} raced with a concurrent "
                    f"writer (parent v{ours['version']} != current "
                    f"v{cur['version']})"
                )
            if cur.get("n_buckets") != ours.get("n_buckets"):
                raise CommitConflict(
                    "bucket spec changed underneath this commit")
            try:
                orig = self.snapshot_at(ours["version"])
            except FileNotFoundError as e:
                raise CommitConflict("parent snapshot expired") from e

            # schema-map three-way merge: ids WE added must not collide
            # with different definitions another writer registered
            merged_schemas = dict(cur["schemas"])
            for k, v in ours["schemas"].items():
                if k not in orig["schemas"]:
                    if merged_schemas.get(k, v) != v:
                        raise CommitConflict(
                            "concurrent schema evolution diverged "
                            f"(schema id {k})")
                    merged_schemas[k] = v
            we_evolved = ours["current_schema_id"] != orig["current_schema_id"]
            cur_evolved = cur["current_schema_id"] != orig["current_schema_id"]
            if (we_evolved and cur_evolved
                    and merged_schemas[ours["current_schema_id"]]
                    != merged_schemas[cur["current_schema_id"]]):
                raise CommitConflict(
                    "both writers evolved the schema differently")
            current_sid = (ours["current_schema_id"] if we_evolved
                           else cur["current_schema_id"])

            if swap is not None:
                # O(refs), no walk: the swapped refs still being current
                # is the whole precondition (see ``compact``)
                gone = swap - {r["path"] for r in cur["refs"]}
                if gone:
                    raise CommitConflict(
                        f"{len(gone)} input refs were replaced by a "
                        "concurrent commit; rewrite is stale")
            elif replace_buckets is not None:
                if cur["version"] - ours["version"] > 32:
                    # the disjointness proof below walks every intervening
                    # snapshot WHILE HOLDING the commit lock — bound that
                    # driver I/O. A COW writer this far behind recomputes
                    # from fresh instead (cheaper than an O(versions ×
                    # refs) lock hold). Delta appends never take this
                    # walk, so they rebase at ANY distance.
                    raise CommitConflict(
                        f"{cur['version'] - ours['version']} commits "
                        "behind; recompute instead of a long locked "
                        "rebase walk")
                inter = self._intervening_touched(orig, cur)
                clash = inter & set(replace_buckets)
                if clash:
                    raise CommitConflict(
                        f"buckets {sorted(clash)[:8]} were modified by a "
                        "concurrent commit; rewrite is stale")
            new_snap = {
                **cur,
                **self._commit_fields(cur, batch_id),
                "schemas": merged_schemas,
                "current_schema_id": current_sid,
                "refs": self._merged_refs(cur["refs"], new_refs,
                                          replace_buckets, swap),
            }
            self._write_snapshot(new_snap)
            return new_snap, False

    def _attempt_dir(self, snap: dict) -> str:
        """Attempt-unique data directory. Named after the version the
        writer EXPECTS (debugging aid only — the real version is assigned
        at commit, and a rebase may land higher) plus a random token so
        concurrent writers from the same parent never collide on paths."""
        return os.path.join(
            "data", f"v{snap['version'] + 1}_{uuid.uuid4().hex[:8]}")

    def _list_written(self, out_dir: str, rel_dir: str) -> dict:
        """Map bucket id -> relative bucket-dir path for a finished write."""
        written = {}
        for name in os.listdir(out_dir):
            if name.startswith(f"{_BUCKET_COL}="):
                b = int(name.split("=", 1)[1])
                written[b] = os.path.join(rel_dir, name)
        return written

    def _make_refs(self, snap: dict, written: dict, delta: bool = False) -> list[dict]:
        sid = snap["current_schema_id"]
        cols = (snap.get("stats_cols") or []) if self.harvest_stats else []
        items = sorted(written.items())
        all_bounds: dict[int, dict] = {}
        if cols and items:
            all_bounds = self._harvest_bounds(items, cols)
        refs = []
        for b, rel in items:
            r: dict = {"path": rel, "bucket": b, "schema_id": sid}
            if delta:
                r["delta"] = True
            bd = all_bounds.get(b) or {}
            if bd.get("agg"):
                r["bounds"] = bd["agg"]
                # per-file bounds only matter when a bucket holds several
                # files (post sorted-split compaction) — single-file refs
                # would just duplicate the aggregate
                if len(bd["files"]) > 1:
                    r["file_bounds"] = bd["files"]
            refs.append(r)
        return refs

    def _harvest_bounds(self, items: list[tuple], cols: list[str]) -> dict:
        """Per-file min/max for ``cols`` from parquet footers (Iceberg
        manifest lower/upper_bounds parity) for every written bucket dir —
        the manifest write that makes read-side file skipping free.

        The footer reads are pure metadata I/O, independent per file. For
        small commits they run in a driver thread pool (no job-submission
        overhead); past ``_HARVEST_DISTRIBUTE_FILES`` files they run as ONE
        Spark job over the file list (executors share the table's storage —
        that's what makes the table readable at all), so the driver's
        commit tail stays O(1) in file count instead of O(files): at 4096
        buckets × delta chains the driver loop was the one remaining
        commit-latency term that grew with the table (reference analog:
        Mongo's server-side per-collection index maintenance,
        /root/reference/src/database/mongo-manager.ts:60-126).
        ``stats_harvest_mode`` ∈ auto|driver|distributed forces a path.

        Returns {bucket: {"agg": {col: [lo, hi]},
                          "files": {fname: {col: [lo, hi]}}}} — the
        aggregate prunes whole refs; the per-file map lets ``read_where``
        prune individual files inside a multi-file bucket (the payoff of
        sort-within-bucket compaction)."""
        tasks = []  # (bucket, fname, absolute path)
        for b, rel in items:
            full = os.path.join(self.root, rel)
            for fname in sorted(os.listdir(full)):
                if fname.endswith(".parquet"):
                    tasks.append((b, fname, os.path.join(full, fname)))
        if not tasks:
            return {}
        mode = getattr(self, "stats_harvest_mode", "auto")
        if mode == "distributed" or (
                mode == "auto" and len(tasks) > _HARVEST_DISTRIBUTE_FILES):
            sc = self.spark.sparkContext
            # ~16 files per task: enough to amortize task launch, small
            # enough to spread across the cluster
            n_slices = max(1, min((len(tasks) + 15) // 16, 512))
            res = (
                sc.parallelize(tasks, n_slices)
                .map(lambda t: (t[0], t[1], _pyarrow_file_bounds(t[2], cols)))
                .collect()
            )
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, len(tasks))) as ex:
                fbs = list(ex.map(
                    lambda t: _pyarrow_file_bounds(t[2], cols), tasks))
            res = [(b, fn, fb) for (b, fn, _), fb in zip(tasks, fbs)]
        per_ref: dict[int, dict] = {}
        for b, fn, fb in res:
            per_ref.setdefault(b, {})[fn] = fb
        out: dict[int, dict] = {}
        for b, per_file in per_ref.items():
            # a column's agg exists only when EVERY file in the ref has
            # portable stats for it (a boundless file defeats pruning)
            ok = [c for c in cols
                  if all(c in fb for fb in per_file.values())]
            agg = {c: [min(fb[c][0] for fb in per_file.values()),
                       max(fb[c][1] for fb in per_file.values())]
                   for c in ok}
            files = {fn: {c: v for c, v in fb.items() if c in agg}
                     for fn, fb in per_file.items()}
            out[b] = {"agg": agg, "files": files}
        return out

    # ------------------------------------------------------------- lineage
    def _append_lineage(self, row: dict) -> None:
        with open(os.path.join(self.root, "lineage.jsonl"), "a") as f:
            f.write(json.dumps(row) + "\n")

    def lineage(self) -> list[dict]:
        path = os.path.join(self.root, "lineage.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def maintain(
        self,
        compact_depth: int = 4,
        keep_snapshots: int = 10,
        vacuum_files: bool = True,
        vacuum_min_age_s: float = 3600.0,
    ) -> dict:
        """One-call table maintenance (the nightly job a 10^10-row table
        needs): compact if any bucket's delta chain exceeds
        ``compact_depth``, expire snapshots beyond ``keep_snapshots``, and
        vacuum unreferenced files older than ``vacuum_min_age_s`` (the
        grace period that protects concurrent writers' in-flight attempt
        dirs). Each step is independently idempotent; the whole call is
        safe to re-run."""
        out: dict = {"compacted": False}
        if self.delta_depth() > compact_depth:
            # id derives from the CURRENT version, not the caller's batch
            # id: a re-run with the same id after new deltas landed must
            # compact again (version advanced -> new id), while a re-run
            # with no intervening commits stays a no-op
            m = self.compact(f"maintain-compact:v{self.version}")
            out["compacted"] = not m.skipped_already_committed
            out["compact_version"] = m.version
        out["expired_versions"] = self.expire_snapshots(keep_last=keep_snapshots)
        if vacuum_files:
            out.update(self.vacuum(min_age_s=vacuum_min_age_s))
        return out

    # -------------------------------------------------------------- repair
    def update_where(self, condition, assignments: dict, batch_id: str) -> MergeMetrics:
        """Column-repair pass (reference fix-squares, SURVEY T10): rewrite
        rows matching `condition` with `assignments` (column -> value
        expression). Every assignment and the condition see the row as it
        was before the repair, as in SQL's ``UPDATE ... SET``.

        Bucket-pruned: job 1 finds the predicate's touched buckets AND the
        per-bucket hit counts in one aggregation (no separate count job);
        then ``_rewrite`` rewrites ONLY those buckets — one Exchange,
        resolving any MOR deltas for them and applying the assignments to
        the winners. Untouched buckets keep their existing file refs — a
        repair touching 1% of keys rewrites ~1% of the table, not all of
        it. Idempotent by batch_id."""
        def attempt(snap: dict) -> MergeMetrics:
            hit = condition & ~F.col(_DELETED_COL)
            # job 1: touched buckets + hit counts in one pruned-scan aggregate
            hits = dict(self._read(snap, snap["refs"], True).filter(hit)
                        .groupBy(self.bucket_expr(snap)).count().collect())
            touched, n_fixed = set(hits), sum(hits.values())
            if not touched:
                return self._write_and_commit(snap, batch_id, None, set())

            out = self._rewrite(
                snap, [r for r in snap["refs"] if r["bucket"] in touched],
                snap, touched,
                assign={c: F.when(hit, e).otherwise(F.col(c))
                        for c, e in assignments.items()})
            return self._write_and_commit(snap, batch_id, out, touched,
                                          counts=lambda: {"n_updated": n_fixed})

        return self._commit_with_retries("update_where", batch_id, attempt)

    # ----------------------------------------------------------- changelog
    @staticmethod
    def _refs_by_bucket(snap: dict) -> dict[int, frozenset]:
        m: dict[int, set] = {}
        for r in snap["refs"]:
            m.setdefault(r["bucket"], set()).add(r["path"])
        return {b: frozenset(p) for b, p in m.items()}

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental changelog between two committed snapshots (Delta
        CDF / Iceberg incremental-read parity; the CDC *read* side of this
        CDC engine: downstream consumers pull keyed deltas instead of
        re-reading the table).

        Emits one row per change with ``_change_type`` in
        {'insert', 'update_preimage', 'update_postimage', 'delete'} plus
        ``_from_version``/``_to_version``. Scans ONLY buckets whose ref
        sets differ between the snapshots (manifest diff), resolves each
        side with the same LWW rules as ``read``, and diffs on the key:
        a net-unchanged key (same winning version on both sides) emits
        nothing, so replay/compaction churn does not produce phantom
        changes. Keys created *and* deleted inside the interval emit
        nothing (net effect, matching a two-version table diff).
        """
        snap_a = self.snapshot_at(from_version)
        snap_b = self.snapshot() if to_version is None else self.snapshot_at(to_version)
        if snap_a["version"] > snap_b["version"]:
            raise ValueError(
                f"changes(from={snap_a['version']}, to={snap_b['version']}): "
                "from_version must not exceed to_version"
            )
        key_cols = snap_b["key_cols"]
        target = self.schema(snap_b)
        full = self._stored_schema(snap_b)
        out_schema = T.StructType(
            target.fields
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_from_version", T.IntegerType(), False),
                T.StructField("_to_version", T.IntegerType(), False),
            ]
        )
        ba, bb = self._refs_by_bucket(snap_a), self._refs_by_bucket(snap_b)
        changed = {b for b in set(ba) | set(bb) if ba.get(b) != bb.get(b)}
        if not changed:
            return local_frame(self.spark, out_schema)

        def side(snap: dict) -> DataFrame:
            # the key STRUCT is the join key: struct equality is per-field
            # null-safe (struct(NULL,'x') = struct(NULL,'x') is true), and
            # the struct itself is never NULL, so it also marks presence
            df = self._read(snap, [r for r in snap["refs"]
                                   if r["bucket"] in changed], True)
            return self._align(df, full).withColumn("_k", F.struct(*key_cols))

        j = side(snap_a).alias("a").join(
            side(snap_b).alias("b"), F.col("a._k") == F.col("b._k"), "full_outer")

        a_live = (F.col("a._k").isNotNull()
                  & ~F.coalesce(F.col(f"a.{_DELETED_COL}"), F.lit(False)))
        b_live = (F.col("b._k").isNotNull()
                  & ~F.coalesce(F.col(f"b.{_DELETED_COL}"), F.lit(False)))
        # full-row null-safe comparison, not just version cols: a repair
        # (update_where) rewrites values WITHOUT bumping versions — the
        # changelog must still emit those as updates or downstream
        # consumers/views silently diverge from the table. The arrival is
        # left out: the same row re-won by an earlier delivery is no change
        cmp = [f.name for f in full.fields if f.name != ARRIVAL_COL]
        a_row = F.struct(*[F.col(f"a.{c}") for c in cmp])
        b_row = F.struct(*[F.col(f"b.{c}") for c in cmp])
        changed_ver = ~a_row.eqNullSafe(b_row)

        def img(alias: str, ctype: str, when):
            return F.when(
                when,
                F.struct(
                    *[F.col(f"{alias}.{f.name}").alias(f.name) for f in target.fields],
                    F.lit(ctype).alias("_change_type"),
                ),
            )

        upd = a_live & b_live & changed_ver
        packed = F.array_compact(
            F.array(
                img("b", "insert", b_live & ~a_live & changed_ver),
                img("a", "delete", a_live & ~b_live),
                img("a", "update_preimage", upd),
                img("b", "update_postimage", upd),
            )
        )
        return (
            j.select(F.explode(packed).alias("c"))
            .select("c.*")
            .withColumn("_from_version", F.lit(snap_a["version"]))
            .withColumn("_to_version", F.lit(snap_b["version"]))
        )

    # -------------------------------------------------------- maintenance
    def rollback(self, version: int, batch_id: str | None = None) -> dict:
        """Roll the table back to the STATE of an older snapshot (Iceberg
        rollback_to_snapshot parity) by committing a NEW version that
        copies its refs, bucket spec, and schema pointer — history stays
        append-only, so time travel to the undone versions keeps working
        and concurrent writers are fenced by the same CURRENT lock the
        data commits use (an in-flight CAS lands before or after the
        rollback, never interleaved).

        The applied-batch manifest is restored to the TARGET's: batches
        committed after ``version`` are undone, so replaying their
        delivery ranges re-applies them (the CDC repair story) instead of
        being skipped as already-committed. Callers driving a pipeline
        should rewind its checkpoint hwm accordingly. No data files are
        written or deleted; the undone versions' files remain until
        ``expire_snapshots`` + ``vacuum``.

        Idempotency is SEMANTIC: if CURRENT already carries the target's
        state (refs + schema + spec), the call is a no-op — so a crashed
        rollback retries safely — while a rollback to the same version
        AFTER intervening repair commits rolls back AGAIN (the default
        batch_id embeds the parent version, so the manifest can't
        silently swallow the second invocation)."""
        from ..state.stores import _file_lock

        target = self.snapshot_at(version)
        with _file_lock(os.path.join(self.root, "CURRENT")):
            cur = self.snapshot()
            if batch_id and self.is_committed(batch_id, cur):
                return cur
            if (cur["refs"] == target["refs"]
                    and cur["current_schema_id"] == target["current_schema_id"]
                    and cur.get("n_buckets") == target.get("n_buckets")):
                return cur  # already at the target state
            batch_id = batch_id or f"rollback:v{version}@{cur['version']}"
            new_snap = {
                **target,
                # the commit bookkeeping (version, lineage, monotone
                # committed_at) continues CURRENT's, so TIMESTAMP AS OF
                # before the rollback still sees the undone state; the
                # applied manifest is the target's plus this id
                **self._commit_fields(
                    {**cur, "applied_batch_ids": target["applied_batch_ids"]},
                    batch_id),
                # schemas map is append-only: keep the superset so any
                # later roll-FORWARD re-validates against known ids
                "schemas": {**target["schemas"], **cur["schemas"]},
            }
            self._write_snapshot(new_snap)
        self._append_lineage({
            "batch_id": batch_id, "version": new_snap["version"],
            "rollback_to": version,
        })
        return new_snap

    # ------------------------------------------------------------- tags
    def _tags_path(self) -> str:
        return os.path.join(self.root, "tags.json")

    def tags(self) -> dict:
        """{tag name: pinned version} (Iceberg named-ref parity)."""
        if not os.path.exists(self._tags_path()):
            return {}
        with open(self._tags_path()) as f:
            return json.load(f)

    def _write_tags(self, t: dict) -> None:
        tmp = f"{self._tags_path()}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(json.dumps(t))
            f.flush()
            os.fsync(f.fileno())  # durable like _write_snapshot
        os.replace(tmp, self._tags_path())

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a named tag to a snapshot version (default: current).

        Iceberg tag parity: a tag is a durable named ref — readers use
        ``read_tag(name)``, and ``expire_snapshots`` retains tagged
        versions (so ``vacuum`` keeps their files) until ``drop_tag``.
        The existence check runs INSIDE the tags lock, which
        ``expire_snapshots`` also holds while deleting — so a concurrent
        expiry either sees the tag (and retains the snapshot) or deletes
        first (and this call fails loudly); a tag can never land on an
        already-deleted snapshot. Re-tagging a name moves it."""
        from ..state.stores import _file_lock

        v = self.version if version is None else int(version)
        with _file_lock(self._tags_path()):
            self.snapshot_at(v)  # must exist — fail loudly, not at read time
            t = self.tags()
            t[name] = v
            self._write_tags(t)
        return v

    def drop_tag(self, name: str) -> None:
        """Release a tag. Unknown names raise (a typo'd drop silently
        'succeeding' would leave the real tag pinning storage forever)."""
        from ..state.stores import _file_lock

        with _file_lock(self._tags_path()):
            t = self.tags()
            if name not in t:
                raise KeyError(f"unknown tag {name!r}; have {sorted(t)}")
            del t[name]
            self._write_tags(t)

    def read_tag(self, name: str, with_deleted: bool = False) -> DataFrame:
        """Time travel by named ref: ``read(version=tags[name])``."""
        t = self.tags()
        if name not in t:
            raise KeyError(f"unknown tag {name!r}; have {sorted(t)}")
        return self.read(with_deleted=with_deleted, version=t[name])

    def expire_snapshots(self, keep_last: int = 10) -> list[int]:
        """Drop snapshot JSONs older than the newest ``keep_last`` versions
        (Iceberg expire_snapshots parity). Time travel to an expired version
        raises; the current snapshot and any TAGGED versions are always
        retained (tagged files thereby survive ``vacuum``). Data files are
        NOT touched — run ``vacuum()`` afterwards to reclaim storage.
        Holds the tags lock while reading pins and deleting, closing the
        race where a tag lands between the read and the delete."""
        from ..state.stores import _file_lock

        cur = self.version
        cutoff = cur - max(keep_last, 1) + 1
        sdir = os.path.join(self.root, "snapshots")
        expired = []
        with _file_lock(self._tags_path()):
            pinned = set(self.tags().values())
            for name in sorted(os.listdir(sdir)):
                if not (name.startswith("v") and name.endswith(".json")):
                    continue
                v = int(name[1:-5])
                if v < cutoff and v not in pinned:
                    os.remove(os.path.join(sdir, name))
                    expired.append(v)
        return expired

    def vacuum(self, min_age_s: float = 3600.0) -> dict:
        """Delete data directories referenced by NO remaining snapshot:
        both files orphaned by ``expire_snapshots`` and files from aborted
        commits whose pointer never flipped (e.g. a merge that failed the
        touched-bucket superset guard).

        ``min_age_s``: unreferenced directories younger than this are kept
        — a CONCURRENT writer's attempt dir looks identical to an aborted
        commit until its CAS lands, so the grace period must exceed the
        longest in-flight write (Iceberg's
        ``remove_orphan_files(older_than)`` contract). Tests pass 0 for
        immediate reclamation on quiet tables."""
        import time as _time

        sdir = os.path.join(self.root, "snapshots")
        referenced: set[str] = set()
        for name in os.listdir(sdir):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(sdir, name)) as f:
                    for r in json.load(f)["refs"]:
                        referenced.add(r["path"])
        removed_dirs = 0
        kept_young = 0
        freed_bytes = 0
        now = _time.time()
        data_root = os.path.join(self.root, "data")
        for vdir in sorted(os.listdir(data_root)):
            vpath = os.path.join(data_root, vdir)
            if not os.path.isdir(vpath):
                continue
            for bdir in sorted(os.listdir(vpath)):
                rel = os.path.join("data", vdir, bdir)
                bpath = os.path.join(vpath, bdir)
                if not os.path.isdir(bpath) or rel in referenced:
                    continue
                try:
                    if now - os.path.getmtime(bpath) < min_age_s:
                        kept_young += 1
                        continue
                except OSError:
                    continue
                freed_bytes += sum(
                    os.path.getsize(os.path.join(dp, fn))
                    for dp, _, fns in os.walk(bpath) for fn in fns
                )
                shutil.rmtree(bpath)
                removed_dirs += 1
            if not any(e.is_dir() for e in os.scandir(vpath)):
                # only _SUCCESS markers left — but apply the same grace: a
                # concurrent writer's just-created attempt dir may not have
                # its first bucket subdir yet
                with contextlib.suppress(OSError):
                    if now - os.path.getmtime(vpath) >= min_age_s:
                        shutil.rmtree(vpath)
        return {"removed_dirs": removed_dirs, "freed_bytes": freed_bytes,
                "kept_young_dirs": kept_young}
