"""Independent test oracles for the engine's operators.

Each one computes what an engine operator computes along a different path,
so a test can assert the two agree:

- ``decode_events_pandas``: the payload decode as ``mapInPandas`` over
  Arrow batches, one Python decode per row (``datagen.wal.decode_payload_py``)
  — the parity path for the JVM ``operators.decode.Decoder``;
- ``b58decode_py``/``b58encode_py`` and their Arrow-vectorized pandas UDFs
  (reference base58 parity: instruction-parser.ts:66-81,
  pubkey-converter.ts);
- ``dedupe_lww_window``: LWW as a ``row_number`` window (SURVEY A7's
  literal shape) — the parity path for the partial-agg ``dedupe_lww``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ore_etl_spark.datagen.wal import decode_payload_py

_B58_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_B58_INDEX = {c: i for i, c in enumerate(_B58_ALPHABET)}

_DECODE_SCHEMA = (
    "payload_version long, content string, content_len long, "
    "content_sha256 string, is_valid boolean"
)


def decode_events_pandas(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """The payload decode via mapInPandas (Arrow batches, no per-row Python
    UDF); tests assert bit-parity with ``decode_events``."""
    out_fields = ["payload_version", "content", "content_len",
                  "content_sha256", "is_valid"]
    out_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", " + _DECODE_SCHEMA

    def decode_one(p) -> tuple:
        got = decode_payload_py(p)  # None: absent or undecodable
        if got is None:
            return (None, None, None, None, False)
        version, content = got
        body = content.encode("utf-8")  # the payload body, valid UTF-8
        return (version, content, len(body),
                hashlib.sha256(body).hexdigest(), True)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode_one(p) for p in pdf[payload_col]]
            cols = list(zip(*decoded)) if decoded else [[] for _ in out_fields]
            for i, name in enumerate(out_fields):
                pdf[name] = pd.Series(cols[i], index=pdf.index, dtype="object")
            pdf["is_valid"] = pdf["is_valid"].astype(bool)
            yield pdf

    return df.mapInPandas(fn, schema=out_ddl)


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


def dedupe_lww_window(df: DataFrame, key_cols: list[str],
                      version_cols: list[str]) -> DataFrame:
    """One survivor per key by a row_number window over the version
    columns, descending, NULLs last."""
    order = [F.col(c).desc_nulls_last() for c in version_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_lww_rn", F.row_number().over(w))
        .filter(F.col("_lww_rn") == 1)
        .drop("_lww_rn")
    )
