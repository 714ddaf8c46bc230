"""``tail``: open-loop WAL tail into a MOR table, served while it is written.

Set-up generates a seeded WAL, applies its base keys to a MOR table,
and stages the rest (updates of base
keys, new keys, deletes; with the generator's duplicates, late and corrupt
events) as delivery-ordered segments. In the window a publisher thread
only renames one staged segment into the live WAL directory on a fixed
schedule; it never waits for the engine (open loop). The main thread
tails the way ``pipeline.continuous.tail_loop`` does (``delivery_range``,
then ``run_batch`` over everything new), with ``compact_depth=4`` (the
``maintain`` default). A consumer thread serves beside it: it refreshes an
``IncrementalAggView`` (group by repo, lang; sum content_len), looks up 50
keys and scans the table with a group-by, round after round.

Latency is per event: from its segment's scheduled publish time to the
snapshot commit that made it visible (read from the snapshot's
``committed_at``, so a compaction that follows the commit in the same
``run_batch`` is not counted for that batch's own events).

The base is applied in ``COMPACT_DEPTH`` batches, so the window's first
batch compacts in every run (and every fifth after it).

The open loop pins each batch's size to the offered load times the
previous batch's wall, so events per second of apply wall there reads
about the offered rate whatever the engine costs. Throughput is therefore
measured after the window, in a closed loop with no reader running: fixed
backlogs of ``CAP_SEGS`` staged segments are published at once and each
is applied by one tail round.
"""

from __future__ import annotations

import os
import threading
import time
from statistics import median

import pyarrow.parquet as pq

from .harness import Timer, proc_cpu_s, weighted_quantile

UNIVERSE_KEYS = 6_000    # key universe of the generator (~12k events)
BASE_SLICE = 50          # keys with slice < 50 are in the base table
DELTA_SLICE = (40, 100)  # delta keys: 40..49 update base keys, rest new
COMPACT_DEPTH = 4
SEG_EVENTS = 150         # events per published segment
RATE_EPS = 200.0         # offered load, events per second
CAP_SEGS = 10            # segments per closed-loop capacity batch
CAP_BATCHES = 2
LOOKUP_KEYS = 50
SMOKE_KEYS = 800         # key universe of a --smoke run
SHIFT = 10 ** 12         # delta delivery/commit seqs sort after the base


def _slice(seed: int):
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col("path"), F.lit(seed)), F.lit(100))


def _gen(ctx, n_keys: int, live: str, delta_dir: str) -> None:
    """Base WAL into ``live``; the delta WAL (after the base in delivery
    and commit order) into ``delta_dir``."""
    from pyspark.sql import functions as F

    from ore_etl_spark.datagen.wal import generate_wal

    seed = ctx.seed
    # generated once, then split: the generator's plan is the costly part
    wal = ctx.work.sub("wal")
    generate_wal(ctx.spark, n_keys=n_keys, n_repos=50, n_partitions=8,
                 seed=seed).write.parquet(wal)
    full = ctx.spark.read.parquet(wal)
    full.filter(_slice(seed) < BASE_SLICE).write.mode("overwrite") \
        .parquet(live)
    lo, hi = DELTA_SLICE
    (full.filter((_slice(seed) >= lo) & (_slice(seed) < hi))
     .withColumn("delivery_seq", F.col("delivery_seq") + SHIFT)
     .withColumn("commit_seq", F.col("commit_seq") + SHIFT)
     .withColumn("event_id", F.sha2(F.concat_ws(
         "#", "repo", "path", F.col("commit_seq").cast("string")), 256))
     .write.mode("overwrite").parquet(delta_dir))


def _stage(delta_dir: str, stage: str, seg_events: int):
    """Split the delta WAL into delivery-ordered segments of about
    ``seg_events`` events, one parquet file each under ``stage/seg=<i>``
    (INT96 timestamps, as Spark writes them). A cut never falls between
    two events with the same delivery_seq: the tail reads (hwm, head], so
    a tie split across segments would leave the later one below the
    watermark. Returns (events per segment, last delivery_seq of each)."""
    t = pq.read_table(delta_dir).sort_by("delivery_seq")
    seqs = t.column("delivery_seq").to_pylist()
    counts, bounds, lo = [], [], 0
    while lo < len(seqs):
        hi = min(lo + seg_events, len(seqs))
        while hi < len(seqs) and seqs[hi] == seqs[hi - 1]:
            hi += 1
        d = os.path.join(stage, f"seg={len(counts)}")
        os.makedirs(d)
        pq.write_table(t.slice(lo, hi - lo), os.path.join(d, "part.parquet"),
                       use_deprecated_int96_timestamps=True)
        counts.append(hi - lo)
        bounds.append(seqs[hi - 1])
        lo = hi
    return counts, bounds


def _publish(stage: str, live: str, i: int) -> None:
    d = os.path.join(stage, f"seg={i}")
    for f in os.listdir(d):
        if f.endswith(".parquet"):
            os.rename(os.path.join(d, f),
                      os.path.join(live, f"seg-{i:05d}-{f}"))


class Publisher(threading.Thread):
    """Renames segment i into the live WAL dir at start + i / rate * seg
    size, until the window closes. Records when each went live."""

    def __init__(self, stage, live, n_segs, interval, window):
        super().__init__(daemon=True)
        self.stage, self.live = stage, live
        self.n_segs, self.interval, self.window = n_segs, interval, window
        self.scheduled: list[float] = []
        self.actual: list[float] = []
        self.error: Exception | None = None
        self.t0 = 0.0

    def run(self):
        try:
            i = 0
            while i < self.n_segs and i * self.interval < self.window:
                due = self.t0 + i * self.interval
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                _publish(self.stage, self.live, i)
                self.scheduled.append(due)
                self.actual.append(time.perf_counter())
                i += 1
        except Exception as e:  # surfaced by the main thread
            self.error = e


class Consumer(threading.Thread):
    """The serving side, concurrent with the writer: view refresh, key
    lookup, group-by scan, round after round until stopped."""

    def __init__(self, ctx, view, lookup, scan):
        super().__init__(daemon=True)
        self.ctx = ctx
        self.ops = (("view.refresh", view.refresh), ("read.lookup", lookup),
                    ("read.scan", scan))
        self.stop = threading.Event()
        self.walls: dict[str, list[float]] = {n: [] for n, _ in self.ops}
        self.refresh_modes: list[str] = []

    def run(self):
        ctx = self.ctx
        while not self.stop.is_set():
            for name, fn in self.ops:
                if self.stop.is_set():
                    return
                with ctx.tracer.span(name), Timer() as t:
                    try:
                        out = fn()
                    except Exception as e:
                        ctx.counters.fail("reads")
                        ctx.errors.append(f"{name}: {e!r}"[:500])
                        return
                ctx.counters.ok("reads")
                if name == "view.refresh":
                    self.refresh_modes.append(out["mode"])
                    if out["mode"] == "noop":  # nothing new to fold
                        continue
                self.walls[name].append(t.s)


def _tail_round(pipe):
    """One ``tail_loop`` round: the WAL head, then everything new in one
    batch. Returns (head, batch record), or (head, None) if nothing is new."""
    hwm = pipe.checkpoints.get(pipe.pipeline)
    _, head = pipe.delivery_range()
    if head is None or head <= hwm:
        return head, None
    return head, pipe.run_batch(max(hwm, -1), head)


def run(ctx) -> None:
    from pyspark.sql import functions as F

    from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
    from ore_etl_spark.pipeline.incremental_view import IncrementalAggView
    from ore_etl_spark.tables.merge_table import MergeTable

    spark = ctx.spark
    n_keys = SMOKE_KEYS if ctx.smoke else UNIVERSE_KEYS

    # ---- set-up: WAL generation, base table build, the view's full
    # build, staging the delta as segments
    live, delta_dir = ctx.work.sub("live"), ctx.work.sub("delta")
    stage = ctx.work.sub("stage")
    marks = {}
    with Timer() as t_setup:
        _gen(ctx, n_keys, live, delta_dir)
        marks["gen_s"] = time.perf_counter() - t_setup.t0
        tbl = MergeTable.create(
            spark, ctx.work.sub("table"), target_schema(),
            key_cols=["repo", "path"],
            version_cols=["commit_seq", "event_seq"],
            n_buckets=4 * ctx.cores)
        pipe = CdcApplyPipeline(spark, live, tbl, ctx.work.sub("state"),
                                mode="mor", compact_depth=COMPACT_DEPTH)
        lo, hi = pipe.delivery_range()
        # the base in COMPACT_DEPTH batches leaves that many deltas per
        # bucket, so the window's first batch compacts in every run
        pipe.run(batch_span=-(-(hi - lo + 1) // COMPACT_DEPTH))
        marks["base_build_s"] = time.perf_counter() - t_setup.t0
        view = IncrementalAggView(spark, tbl, ctx.work.sub("view"),
                                  group_cols=["repo", "lang"],
                                  sum_cols=["content_len"],
                                  n_buckets=ctx.cores)
        view.refresh()  # the full build; the window's refreshes fold deltas
        marks["view_build_s"] = time.perf_counter() - t_setup.t0
        counts, bounds = _stage(delta_dir, stage, SEG_EVENTS)
    ctx.setup_s = t_setup.s
    ctx.detail["setup_marks_s"] = marks  # cumulative, from set-up start
    base_keys = spark.read.parquet(live).select("repo", "path").toPandas() \
        .drop_duplicates().sort_values(["repo", "path"])
    pick = base_keys.sample(n=min(LOOKUP_KEYS, len(base_keys)),
                            random_state=ctx.seed)
    keys = [tuple(r) for r in pick.itertuples(index=False, name=None)]

    def lookup():
        return tbl.lookup(keys).collect()

    def scan():
        return tbl.read().groupBy("repo").agg(
            F.count(F.lit(1)), F.sum("content_len")).collect()

    # ---- measured window: open loop. Both timed phases start from a
    # collected heap, so garbage the phase before left is not collected
    # inside them at a run-dependent moment.
    spark._jvm.System.gc()
    interval = SEG_EVENTS / RATE_EPS
    pub = Publisher(stage, live, len(counts), interval, ctx.seconds)
    consumer = Consumer(ctx, view, lookup, scan)
    v_base = tbl.version
    # snapshot commit stamps are wall-clock; freshness is on perf_counter
    clock = time.time() - time.perf_counter()
    visible_at: list[float] = []  # per segment, in delivery order
    apply_walls, batch_events, compact_walls = [], [], []
    ctx.tracer.install()
    pub.t0 = time.perf_counter() + 0.05
    t_start = pub.t0
    pub.start()
    consumer.start()
    try:
        while not ctx.errors:
            if pub.error is not None:
                raise pub.error
            done = not pub.is_alive()  # before the count: then it is final
            if done:  # the window closed: readers stop, the tail drains
                consumer.stop.set()
                if len(visible_at) == len(pub.actual):
                    break
            with ctx.tracer.span("op.tail_round"):
                with Timer() as t:
                    try:
                        head, rec = _tail_round(pipe)
                    except Exception as e:
                        ctx.counters.fail("batches")
                        ctx.errors.append(f"batch: {e!r}"[:500])
                        break
                if rec is None:
                    time.sleep(0.02)
                    continue
                ctx.counters.ok("batches")
                if tbl.snapshot()["batch_id"] == f"compact:{rec['batch_id']}":
                    compact_walls.append(t.s)
                else:
                    apply_walls.append(t.s)
                    batch_events.append(rec.get("n_in") or 0)
                commit = (tbl.snapshot_at(rec["table_version"])
                          ["committed_at"] - clock)
                # segments are in delivery order: the batch applied every
                # one whose last delivery_seq is at or below its head
                while (len(visible_at) < len(bounds)
                       and bounds[len(visible_at)] <= head):
                    visible_at.append(commit)
    finally:
        consumer.stop.set()
        consumer.join(timeout=120)
        pub.join(timeout=60)
        ctx.tracer.uninstall()
    ctx.window_s = time.perf_counter() - t_start
    reads = consumer.walls

    fresh = [(c - (pub.t0 + i * interval), counts[i])
             for i, c in enumerate(visible_at)]
    late = [a - s for a, s in zip(pub.actual, pub.scheduled)]
    # published but not yet committed when the publishing window closed
    t_close = pub.t0 + ctx.seconds
    backlog_at_close = sum(counts[i] for i, c in enumerate(visible_at)
                           if c > t_close)

    # ---- closed loop: apply capacity on fixed backlogs of the segments
    # the window left staged, with no reader running and auto-compaction
    # off: ``merge_mor`` only appends, so the depth the window left does
    # not change a batch's cost, and no batch compacts
    pipe.compact_depth = None
    spark._jvm.System.gc()
    first = len(pub.actual)
    last = min(first + CAP_BATCHES * CAP_SEGS, len(counts))
    cap_walls, cap_events, cap_cpu = [], [], []
    for lo in range(first, last, CAP_SEGS):
        if ctx.errors:
            break
        segs = range(lo, min(lo + CAP_SEGS, last))
        for i in segs:
            _publish(stage, live, i)
        cpu0 = proc_cpu_s(ctx.jvm_pid)
        with Timer() as t:
            try:
                _tail_round(pipe)
            except Exception as e:
                ctx.counters.fail("batches")
                ctx.errors.append(f"capacity batch: {e!r}"[:500])
                break
        ctx.counters.ok("batches")
        cap_walls.append(t.s)
        cap_cpu.append(proc_cpu_s(ctx.jvm_pid) - cpu0)
        cap_events.append(sum(counts[i] for i in segs))

    if cap_walls:
        ctx.e2e["throughput_per_s"] = sum(cap_events) / sum(cap_walls)
    if fresh:
        ctx.e2e["latency_p50_s"] = weighted_quantile(fresh, 0.50)
        ctx.e2e["latency_p99_s"] = weighted_quantile(fresh, 0.99)
    busy = sum(apply_walls)
    ctx.detail.update({
        "unit_of_work": "events; throughput = events per second of tail "
                        "round wall on closed-loop fixed backlogs; latency "
                        "= per-event freshness in the open loop",
        "rate_eps": RATE_EPS, "segments_published": len(pub.actual),
        "segments_staged": len(counts),
        "events_published": sum(counts[: len(pub.actual)]),
        "batches": len(apply_walls) + len(compact_walls),
        "apply_walls_s": [round(w, 4) for w in apply_walls],
        "batch_events": batch_events,
        "compacting_batch_walls_s": [round(w, 4) for w in compact_walls],
        "open_loop_events_per_apply_s": sum(batch_events) / busy
        if busy else None,
        "capacity_walls_s": [round(w, 4) for w in cap_walls],
        "capacity_events": cap_events,
        "capacity_jvm_cpu_s": [round(c, 3) for c in cap_cpu],
        "freshness_p50_s": ctx.e2e.get("latency_p50_s"),
        "freshness_p99_s": ctx.e2e.get("latency_p99_s"),
        "freshness_samples": sum(n for _, n in fresh),
        "tail_backlog_events": backlog_at_close,
        "generator_late_max_s": max(late) if late else None,
        **{f"{k}_p50_s": median(v) if v else None for k, v in reads.items()},
    })
    ctx.mark_peak_rss()

    # ---- correctness gates (outside the timed window)
    from . import gates

    wal_pdf = spark.read.parquet(live).toPandas()
    hwm = pipe.checkpoints.get(pipe.pipeline)
    ctx.gate("table_vs_oracle", gates.table_vs_oracle(tbl, wal_pdf, hwm))
    ctx.gate("quarantine_once",
             gates.quarantine_exactly_once(pipe, wal_pdf, hwm))
    ctx.gate("view_vs_groupby", gates.view_vs_groupby(
        view, tbl, ["repo", "lang"], "content_len"))

    if ctx.trace:
        from . import probes

        # consumer ops, per call; view refreshes that found nothing new to
        # fold are left out (the span mean in metrics.py would count them)
        for name, vals in reads.items():
            ctx.layer[f"{name}_s"] = (
                sum(vals) / len(vals) if vals else 0.0, "s")
        # the window's whole changelog, forced on its own
        with Timer() as t:
            rows = tbl.changes(v_base, tbl.version).count()
        ctx.layer["read.changes_s"] = (t.s, "s")
        ctx.layer["read.changes_rows"] = (rows, "count")
        ctx.layer["view.refresh_full"] = (
            consumer.refresh_modes.count("full"), "count")
        ctx.layer["generator.late_s"] = (max(late) if late else 0.0, "s")
        ctx.layer["tail.backlog_events"] = (backlog_at_close, "count")
        probes.decode_lww(ctx, spark.read.parquet(live))
        probes.table_shape(ctx, tbl)
