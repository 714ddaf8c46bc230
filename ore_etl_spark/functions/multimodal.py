"""Multimodal column plumbing (image/audio/video as opaque binary).

A 100 TB training-data pipeline carries media as ``binary`` columns with
typed metadata structs. The Spark-side plumbing here is real and tested —
schema, batch shape, partition-friendly ``mapInPandas`` signatures, header
sniffing, frame-sample planning — while the actual codec work (image
decode/resize, audio resample, video frame extraction) is STUBBED: the
codec libraries (PIL/ffmpeg/torchaudio) are not in this container, so each
stub computes a deterministic fake (documented) at the clearly-marked seam
where the real decoder plugs in; video frame extraction stops at the plan.

Design notes for scale:
- media bytes stay in Arrow record batches end-to-end (mapInPandas), never
  row-at-a-time Python objects;
- metadata extraction is separated from pixel decode so filters on
  (format, width, height, duration) prune *before* any expensive decode;
- batch size is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  — for large blobs set it low (e.g. 64) to cap executor memory.
"""

from __future__ import annotations

import hashlib
import struct as _struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_DDL = (
    "format string, width int, height int, n_bytes long, sha256 string, ok boolean"
)

# magic-number sniffing (pure bytes, no codec needed — this part is real)
_MAGICS = [
    (b"\x89PNG\r\n\x1a\n", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"GIF87a", "gif"),
    (b"GIF89a", "gif"),
    (b"RIFF", "riff"),  # wav/avi container
    (b"ID3", "mp3"),
    (b"\x00\x00\x00", "mp4?"),
]


def sniff_format(b: bytes | None) -> str | None:
    if not b:
        return None
    for magic, name in _MAGICS:
        if b.startswith(magic):
            return name
    return "unknown"


def _png_dims(b: bytes) -> tuple[int, int] | None:
    # PNG IHDR: width/height at bytes 16..24 big-endian (real parser)
    if len(b) >= 24 and b.startswith(b"\x89PNG"):
        w, h = _struct.unpack(">II", b[16:24])
        return w, h
    return None


def _gif_dims(b: bytes) -> tuple[int, int] | None:
    # GIF logical screen descriptor: width/height u16 LE at bytes 6..10
    if len(b) >= 10 and (b.startswith(b"GIF87a") or b.startswith(b"GIF89a")):
        w, h = _struct.unpack("<HH", b[6:10])
        return w, h
    return None


def extract_media_meta(df: DataFrame, bin_col: str = "media") -> DataFrame:
    """Attach a typed metadata struct per media blob (Arrow-batched).

    Header sniffing + PNG/GIF dimension parses are real binary parses;
    other formats report dims as NULL until a codec is plugged in.
    """
    in_ddl = ", ".join(f.name + " " + f.dataType.simpleString()
                       for f in df.schema.fields)
    out_ddl = in_ddl + ", meta struct<" + MEDIA_META_DDL.replace(" string", ": string")\
        .replace(" int", ": int").replace(" long", ": long")\
        .replace(" boolean", ": boolean") + ">"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for b in pdf[bin_col]:
                raw = bytes(b) if b is not None else None
                fmt = sniff_format(raw)
                dims = (_png_dims(raw) or _gif_dims(raw)) if raw else None
                metas.append({
                    "format": fmt,
                    "width": dims[0] if dims else None,
                    "height": dims[1] if dims else None,
                    "n_bytes": len(raw) if raw is not None else None,
                    "sha256": hashlib.sha256(raw).hexdigest() if raw else None,
                    "ok": raw is not None and fmt != "unknown",
                })
            pdf = pdf.copy()
            pdf["meta"] = metas
            yield pdf

    return df.mapInPandas(fn, schema=out_ddl)


def decode_image_stub(df: DataFrame, bin_col: str = "media",
                      target_size: tuple[int, int] = (64, 64)) -> DataFrame:
    """Image decode + resize -> fixed-shape float features.

    STUB: the container has no image codec. The Spark plumbing (schema
    ``array<float>`` of len w*h, Arrow batching, partition layout) is real;
    the pixel values are a deterministic fake derived from sha256 of the
    bytes, so downstream operators (dedup, ANN) are exercisable. Plug a
    real decoder in at the marked line.
    """
    w, h = target_size
    n = w * h
    in_ddl = ", ".join(f.name + " " + f.dataType.simpleString()
                       for f in df.schema.fields)
    out_ddl = in_ddl + f", pixels array<float>"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for b in pdf[bin_col]:
                if b is None:
                    feats.append(None)
                    continue
                # REAL DECODER GOES HERE, e.g.:
                #   img = PIL.Image.open(io.BytesIO(bytes(b))).resize((w, h))
                #   feats.append(np.asarray(img, dtype=np.float32).ravel() / 255)
                # deterministic fake (documented stub):
                d = hashlib.sha256(bytes(b)).digest()
                vals = [(d[i % 32] / 255.0) for i in range(n)]
                feats.append(vals)
            pdf = pdf.copy()
            pdf["pixels"] = feats
            yield pdf

    return df.mapInPandas(fn, schema=out_ddl)


def sample_frames_plan(df: DataFrame, duration_col: str = "duration_s",
                       every_s: float = 1.0) -> DataFrame:
    """Video frame-sampling plan: explode one row per target timestamp.

    The *plan* is pure Spark (sequence + explode — scales, no Python); the
    actual frame grab would consume (media, frame_ts) via mapInPandas with
    an ffmpeg-style decoder, which this container does not have.
    """
    # sequence() is integral-only: generate frame indices, scale to seconds
    # (explode must be a top-level projection, so two steps)
    n_frames = F.floor(F.col(duration_col).cast("double") / F.lit(float(every_s)))
    return (
        df.withColumn(
            "_frame_idx",
            F.explode(F.sequence(F.lit(0).cast("long"), n_frames.cast("long"))),
        )
        .withColumn("frame_ts", F.col("_frame_idx") * F.lit(float(every_s)))
        .drop("_frame_idx")
    )
