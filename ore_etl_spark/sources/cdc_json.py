"""JSON change-event sources (SURVEY §2.1 S6 surface widened).

The reference consumes its change events as JSON messages off RabbitMQ
(/root/reference/src/services/transaction-consumer.ts) — the parquet WAL
the engine replays in batch is the archived form of that stream. This
module makes the engine source-format agnostic:

- ``read_jsonl_wal``: newline-delimited JSON WAL with an EXPLICIT schema
  (schema-on-read; ``inferSchema`` over 100 TB is a full extra pass and
  non-deterministic under sampling). Malformed lines are not silently
  dropped: PERMISSIVE mode routes them to rows whose ``payload`` is NULL,
  which the decode stage marks invalid → quarantine, preserving the
  never-fail-the-batch / nothing-vanishes contract.
- ``from_debezium``: normalize a Debezium-style CDC envelope
  (``{op: c|u|d|r, before, after, source{commit_seq,event_seq,...},
  ts_ms}``) into the engine's WAL event shape, re-encoding the payload
  with the same binary layout the decoder expects — so every downstream
  stage (vectorized decode, LWW, MERGE) is identical regardless of the
  wire format.

Everything here is JVM expressions — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..datagen.wal import payload_expr

# event_id is a content-derived hex digest (tx-signature-like, see
# datagen/wal.py and apply.py's quarantine schema), NOT a number — typing
# it long would null it on every JSONL row and flag every line corrupt.
_WAL_FIELDS = [
    ("event_id", T.StringType()),
    ("partition_id", T.IntegerType()),
    ("delivery_seq", T.LongType()),
    ("commit_seq", T.LongType()),
    ("event_seq", T.LongType()),
    ("op", T.StringType()),
    ("repo", T.StringType()),
    ("path", T.StringType()),
    ("commit", T.StringType()),
    ("lang", T.StringType()),
    ("payload", T.StringType()),
    ("ts", T.TimestampNTZType()),
    ("size_bytes", T.LongType()),
]


def wal_event_schema() -> T.StructType:
    """The engine's WAL event schema, for schema-on-read sources."""
    return T.StructType([T.StructField(n, t, True) for n, t in _WAL_FIELDS])


def read_jsonl_wal(spark: SparkSession, path: str,
                   schema: T.StructType | None = None,
                   keep_malformed: bool = False) -> DataFrame:
    """Read a newline-delimited JSON WAL with an explicit schema.

    Returns the same frame shape ``spark.read.parquet(wal)`` would, so
    ``CdcApplyPipeline`` runs unchanged on JSON input.

    Lines that are not valid JSON at all parse to all-NULL rows carrying
    the raw text in ``_malformed`` (PERMISSIVE + corrupt-record column).
    They have no ``delivery_seq``, so they can never enter a watermark
    batch — by default they are filtered here and
    ``CdcApplyPipeline.quarantine_malformed_source`` parks them in the
    quarantine instead (nothing vanishes). ``keep_malformed=True`` returns
    them with the ``_malformed`` column for that path.

    The batchable/dead split is ``delivery_seq IS NULL``: any row without
    a delivery_seq — whether the whole line failed to parse (``_malformed``
    carries the raw text) or the line was valid JSON that simply lacks or
    nulls the field — can never enter a watermark batch, so keeping it
    here would make it silently vanish. Both kinds are dead; the
    quarantine distinguishes them by error tag. A partially-parseable
    line that still yields its delivery_seq flows through the normal
    decode→quarantine machinery.

    ``keep_malformed=True`` additionally carries EVERY line's original
    source text in ``_raw`` (text scan + ``from_json``, same parser).
    Round-4 ADVICE: a valid-JSON seq-less line used to quarantine as a
    lossy ``to_json`` re-render of its schema fields, so two source lines
    differing only in non-schema fields collapsed to one parked row and
    the second original line was unrecoverable. With ``_raw`` the
    quarantine parks the true bytes — distinct lines stay distinct,
    verbatim duplicates still dedup.
    """
    full = T.StructType(
        (schema or wal_event_schema()).fields
        + [T.StructField("_malformed", T.StringType(), True)]
    )
    if keep_malformed:
        # blank-line filter mirrors the JSON datasource, which skips
        # whitespace-only lines instead of flagging them corrupt
        raw = (spark.read.text(path)
               .filter(F.length(F.trim(F.col("value"))) > 0))
        parsed = raw.select(
            F.from_json(F.col("value"), full,
                        {"mode": "PERMISSIVE",
                         "columnNameOfCorruptRecord": "_malformed"})
            .alias("j"),
            F.col("value").alias("_raw"))
        return parsed.select("j.*", "_raw")
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_malformed")
        .json(path)
    )
    return df.filter(F.col("delivery_seq").isNotNull()).drop("_malformed")


def from_debezium(envelopes: DataFrame) -> DataFrame:
    """Normalize Debezium CDC envelopes into WAL events.

    Expected envelope columns (Debezium JSON ``payload`` flattened):
    ``op`` ('c' create / 'u' update / 'd' delete / 'r' snapshot read),
    ``before`` / ``after`` structs with (repo, path, commit, lang,
    content), ``source`` struct with (commit_seq, event_seq,
    partition_id), ``delivery_seq``, ``ts_ms``.

    Mapping: c/r/u carry ``after``, d carries ``before`` (the key of the
    deleted row); op becomes INSERT/UPDATE/DELETE; the content is
    re-encoded with ``payload_expr`` (the [version:u32le][len:u32le]+body
    binary layout) so the vectorized decoder and its quarantine semantics
    apply identically to wire-format rows.

    Non-row envelope ops (Debezium also emits 't' truncate and 'm'
    message) are dropped here: they carry no row images, so letting them
    through would insert null-keyed garbage. Row-level truncate handling,
    if wanted, is a caller-side ``update_where``/delete pass.

    Schema evolution through the wire path (round 4): any image-struct
    field beyond the five the payload encoder consumes (repo, path,
    commit, lang, content) is passed through as a top-level column — the
    reference's dynamic ``parsedData`` surface
    (/root/reference/src/types/schemas.ts:10), where an upstream ALTER
    TABLE simply starts shipping a new ``after`` field. Downstream,
    ``CdcApplyPipeline(optional_cols=...)`` forwards present extras into
    the MERGE and ``MergeTable._evolved`` lands them additively
    (and widens int→long etc.) — so a new wire column reaches the target
    table without a code change, instead of being silently dropped.
    """
    envelopes = envelopes.filter(F.col("op").isin("c", "u", "d", "r"))
    img = F.when(F.col("op") == "d", F.col("before")).otherwise(F.col("after"))
    known = {"repo", "path", "commit", "lang", "content"}
    # before/after must share one struct type for the when() above to
    # resolve, so the after side's field list IS the image field list
    after_t = envelopes.schema["after"].dataType
    extras = sorted(
        f.name for f in after_t.fields if f.name not in known
    ) if isinstance(after_t, T.StructType) else []
    # an upstream column named like a fixed WAL output column (ts, op,
    # size_bytes... all common DB names) — or like a reader-reserved
    # column (_raw / _malformed, which the keep_malformed paths emit at
    # top level) — must not produce a duplicate column: alias the
    # passthrough deterministically instead of crashing downstream with
    # an ambiguous reference
    out_cols = {n for n, _ in _WAL_FIELDS} | {"_raw", "_malformed"}
    extra_cols = [
        img[n].alias(f"src_{n}" if n in out_cols else n) for n in extras
    ]
    op = (
        F.when(F.col("op").isin("c", "r"), F.lit("INSERT"))
        .when(F.col("op") == "u", F.lit("UPDATE"))
        .when(F.col("op") == "d", F.lit("DELETE"))
    )
    content = F.coalesce(img["content"], F.lit(""))
    return envelopes.select(
        F.col("delivery_seq").cast("string").alias("event_id"),
        F.col("source.partition_id").cast("int").alias("partition_id"),
        F.col("delivery_seq").cast("long").alias("delivery_seq"),
        F.col("source.commit_seq").cast("long").alias("commit_seq"),
        F.col("source.event_seq").cast("long").alias("event_seq"),
        op.alias("op"),
        img["repo"].alias("repo"),
        img["path"].alias("path"),
        F.coalesce(img["commit"],
                   F.sha2(F.concat_ws("|", img["repo"], img["path"],
                                      F.col("source.commit_seq")), 256))
        .alias("commit"),
        img["lang"].alias("lang"),
        # header version field is u32le — wrap commit_seq into range the
        # same way the decoder will read it back
        payload_expr(content,
                     F.pmod(F.col("source.commit_seq"), F.lit(2 ** 32)))
        .alias("payload"),
        # UTC wall-clock regardless of spark.sql.session.timeZone: a plain
        # LTZ->NTZ cast renders the SESSION zone's wall time, which would
        # make the normalized WAL differ across environments
        F.to_utc_timestamp(F.timestamp_millis(F.col("ts_ms").cast("long")),
                           F.current_timezone())
        .cast("timestamp_ntz").alias("ts"),
        F.length(content).cast("long").alias("size_bytes"),
        *extra_cols,
        # a source that tracked the original wire bytes (kafka value,
        # jsonl line) keeps them: quarantined rows park TRUE source
        # bytes, never a lossy re-render
        *([F.col("_raw")] if "_raw" in envelopes.columns else []),
    )
