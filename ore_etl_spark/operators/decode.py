"""Vectorized per-event payload decode (SURVEY §2.3 D1-D16 analog).

The reference decodes every event row-at-a-time in JS: base58/base64 decode,
little-endian binary struct reads, regex log extraction
(/root/reference/src/parsers/instruction-parser.ts:21-81,
 src/parsers/log-parser.ts:85-216). Here the same surface is columnar:

- **JVM fast path** (zero Python): ``unbase64`` -> binary,
  little-endian header fields via hex byte-swap + ``conv``, body slice via
  binary ``substring``, UTF-8 via ``cast(string)``, integrity via length
  checks, ``sha2(content, 256)`` for the per-row invariant. Whole-stage
  codegen keeps this inside one pipeline with the scan.

The tests hold an independent pandas path (``tests/oracles.py``:
``mapInPandas`` over the Python decode, plus base58 UDFs) and assert both
paths agree bit for bit.

Malformed payloads never fail the batch: they get ``is_valid=false`` and
are routed to the quarantine table by the apply pipeline (reference per-tx
try/catch + DLQ, transaction-consumer.ts:145-174).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _le_u32(bin_col: F.Column, offset: int) -> F.Column:
    """Read a little-endian u32 at byte `offset` (0-based) of a binary col.

    hex() the 4-byte slice, swap byte pairs to big-endian, conv base16->10.
    Pure JVM expressions -> stays inside whole-stage codegen.
    """
    h = F.lower(F.hex(F.substring(bin_col, offset + 1, 4)))
    be = F.concat(F.substring(h, 7, 2), F.substring(h, 5, 2),
                  F.substring(h, 3, 2), F.substring(h, 1, 2))
    return F.conv(be, 16, 10).cast("long")


class Decoder:
    """``decode_events`` with its Column expressions built once.

    Building the expressions costs ~470 py4j round trips (PySpark 4.1
    captures the call site on every ``F.*`` call); applying a built
    ``Decoder`` to a frame costs ~20. A caller that decodes every batch
    (the apply pipeline's tail) keeps one and reuses it.

    The base64 binary is projected ONCE into an intermediate ``_bin``
    column; every derived expression reads that column. Without this,
    Catalyst leaves one ``unbase64`` per consumer (5x the decode work —
    measured ~1.7x total stage cost on the 505k-event profile). The
    optimizer keeps the two-step projection because ``unbase64`` is not a
    cheap expression, so CollapseProject does not re-inline it.
    """

    def __init__(self, payload_col: str = "payload"):
        bin_ref = F.col("_bin")
        version = _le_u32(bin_ref, 0)
        blen = _le_u32(bin_ref, 4)
        # substring on binary with fixed huge length: everything after header
        body = F.substring(bin_ref, 9, 1 << 30)
        content = body.cast("string")
        # try_to_binary validates base64 strictly and yields NULL on garbage
        # — plain unbase64 THROWS under ANSI mode (Spark 4 default) and
        # would fail the whole batch on one malformed payload.
        # UTF-8 validity = decode/encode round-trip: cast(binary as string)
        # substitutes U+FFFD for invalid sequences, so re-encoding equals
        # the original bytes IFF the body was valid UTF-8 (UTF-8 encodings
        # are unique) — keeps this path bit-agreeing with the pandas parity
        # path, whose body.decode('utf-8') raises on the same inputs.
        ok = (
            bin_ref.isNotNull()
            & (F.length(bin_ref) >= 8)
            & (F.length(bin_ref) - 8 == blen)
            & (F.encode(content, "UTF-8") == body)
        )
        self._bin = F.try_to_binary(F.col(payload_col), F.lit("base64"))
        self._out = [
            F.col("*"),
            F.when(ok, version).otherwise(F.lit(None)).cast("long").alias("payload_version"),
            F.when(ok, content).otherwise(F.lit(None)).alias("content"),
            F.when(ok, blen).otherwise(F.lit(None)).cast("long").alias("content_len"),
            F.when(ok, F.sha2(content, 256)).otherwise(F.lit(None)).alias("content_sha256"),
            ok.alias("is_valid"),
        ]

    def __call__(self, df: DataFrame) -> DataFrame:
        return df.withColumn("_bin", self._bin).select(*self._out).drop("_bin")


def decode_events(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Attach decoded columns (JVM fast path); see ``Decoder``."""
    return Decoder(payload_col)(df)
