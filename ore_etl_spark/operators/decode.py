"""Vectorized per-event payload decode (SURVEY §2.3 D1-D16 analog).

The reference decodes every event row-at-a-time in JS: base58/base64 decode,
little-endian binary struct reads, regex log extraction
(/root/reference/src/parsers/instruction-parser.ts:21-81,
 src/parsers/log-parser.ts:85-216). Here the same surface is columnar:

- **JVM fast path** (default, zero Python): ``unbase64`` -> binary,
  little-endian header fields via hex byte-swap + ``conv``, body slice via
  binary ``substring``, UTF-8 via ``cast(string)``, integrity via length
  checks, ``sha2(content, 256)`` for the per-row invariant. Whole-stage
  codegen keeps this inside one pipeline with the scan.
- **pandas-UDF path** (Arrow-batched) mirroring the reference's decode
  shape exactly — base64 *and* base58 front-ends, ``struct.unpack``-style
  LE reads — for operators a JVM expression can't express (base58 has no
  built-in). Used by tests to prove both paths agree, and kept as the
  template for future binary layouts (reference D3/D13).

Malformed payloads never fail the batch: they get ``is_valid=false`` and
are routed to the quarantine table by the apply pipeline (reference per-tx
try/catch + DLQ, transaction-consumer.ts:145-174).
"""

from __future__ import annotations

import base64
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_B58_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_B58_INDEX = {c: i for i, c in enumerate(_B58_ALPHABET)}


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


# ---------------------------------------------------------------------------
# pandas-UDF path (Arrow-batched; the reference-parity decoder)
# ---------------------------------------------------------------------------

_DECODE_SCHEMA = (
    "payload_version long, content string, content_len long, "
    "content_sha256 string, is_valid boolean"
)


def _decode_one(p) -> tuple:
    import hashlib

    if p is None:
        return (None, None, None, None, False)
    try:
        raw = base64.b64decode(p, validate=True)
        if len(raw) < 8:
            return (None, None, None, None, False)
        version, length = struct.unpack("<II", raw[:8])
        body = raw[8:]
        if len(body) != length:
            return (None, None, None, None, False)
        content = body.decode("utf-8")
        return (version, content, length,
                hashlib.sha256(body).hexdigest(), True)
    except Exception:
        return (None, None, None, None, False)


def decode_events_pandas(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Same decode via mapInPandas (Arrow batches, no per-row Python UDF).

    Kept as the template for binary layouts with no JVM expression
    (reference base58 path, D3/D13); tests assert bit-parity with
    ``decode_events``.
    """
    out_fields = ["payload_version", "content", "content_len",
                  "content_sha256", "is_valid"]
    in_schema = df.schema
    out_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in in_schema.fields
    ) + ", " + _DECODE_SCHEMA

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_decode_one(p) for p in pdf[payload_col]]
            cols = list(zip(*decoded)) if decoded else [[] for _ in out_fields]
            for i, name in enumerate(out_fields):
                pdf[name] = pd.Series(cols[i], index=pdf.index, dtype="object")
            pdf["is_valid"] = pdf["is_valid"].astype(bool)
            yield pdf

    return df.mapInPandas(fn, schema=out_ddl)


# ---------------------------------------------------------------------------
# base58 (reference parity: instruction-parser.ts:66-81, pubkey-converter.ts)
# ---------------------------------------------------------------------------

def b58decode_py(s: str) -> bytes | None:
    try:
        n = 0
        for ch in s:
            n = n * 58 + _B58_INDEX[ch]
        nbytes = max(1, (n.bit_length() + 7) // 8)
        out = n.to_bytes(nbytes, "big")
        pad = len(s) - len(s.lstrip("1"))
        return b"\x00" * pad + out.lstrip(b"\x00") if n else b"\x00" * len(s)
    except KeyError:
        return None


def b58encode_py(b: bytes) -> str:
    n = int.from_bytes(b, "big")
    out = ""
    while n:
        n, r = divmod(n, 58)
        out = _B58_ALPHABET[r] + out
    pad = len(b) - len(b.lstrip(b"\x00"))
    return "1" * pad + out


def b58decode_udf():
    """Arrow-vectorized base58 decode (lazy: pandas_udf needs a session)."""

    @F.pandas_udf("binary")
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(lambda x: b58decode_py(x) if x is not None else None)

    return _udf


def b58encode_udf():
    @F.pandas_udf("string")
    def _udf(b: pd.Series) -> pd.Series:
        return b.map(lambda x: b58encode_py(x) if x is not None else None)

    return _udf
