"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The decode step is a STUB (this container ships no image/audio libs):
``decode_image_meta_batches`` computes a *deterministic fake* from the
byte payload so the Spark-side plumbing — schema, batch shape, UDF
signature, partitioning — is real and testable end-to-end.
``decode_real`` is the production path: a Pillow-backed kernel with
the identical schema, gated on PIL availability (NotImplementedError
without it). Because the stub math is byte-length arithmetic, each
stage also has a pure-column-expr twin (``stub_image_meta_cols`` /
``stub_audio_meta_cols``) that downstream plan-only stages build on —
no Python worker round-trip where no real decode happens.

Scale notes: mapInPandas streams Arrow batches, so per-executor memory
is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` rather
than partition size; binary payloads never pass through Python row
objects. Repartition by a size-balanced key before decode if payloads
are skewed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

#: output contract of the image-decode stage
IMAGE_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("byte_len", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("n_frames", LongType(), False),
    ]
)


def decode_image_meta_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, payload: bytes) → IMAGE_META_SCHEMA.

    Vectorized over each Arrow batch; never materializes more than one
    batch per worker thread.
    """
    for pdf in batches:
        lens = pdf["payload"].map(len)
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": lens,
                "width": (lens % 640) + 16,
                "height": ((lens * 7) % 480) + 16,
                "n_frames": (lens % 16) + 1,
            }
        )
        yield out


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Model an opaque media payload as a binary column (here: the utf-8
    bytes of ``text``, standing in for image bytes)."""
    return df.select("doc_id", F.col("text").cast("binary").alias("payload"))


def decode_image_meta(df_with_payload: DataFrame) -> DataFrame:
    """The decode stage: Arrow-batched mapInPandas over binary payloads."""
    from ..session import _ship_package

    _ship_package(df_with_payload.sparkSession)
    return df_with_payload.mapInPandas(decode_image_meta_batches, IMAGE_META_SCHEMA)


def stub_image_meta_cols(df_with_payload: DataFrame) -> DataFrame:
    """JVM column-expr twin of ``decode_image_meta``: because the stub
    decode is pure byte-length arithmetic, it needs no Python worker at
    all. Downstream stages (frame sampling, resize planning) build on
    this form so the bench doesn't re-pay the Arrow round-trip per
    query; ``decode_image_meta`` stays the mapInPandas representative
    (and the production entry point once a real decoder is swapped in,
    see ``decode_real``)."""
    n = F.length(F.col("payload")).cast("long")
    return df_with_payload.select(
        "doc_id",
        n.alias("byte_len"),
        (n % 640 + 16).alias("width"),
        ((n * 7) % 480 + 16).alias("height"),
        (n % 16 + 1).alias("n_frames"),
    )


def stub_audio_meta_cols(df_with_payload: DataFrame) -> DataFrame:
    """JVM column-expr twin of ``decode_audio_meta`` (same rationale as
    ``stub_image_meta_cols``): header-parse stub + 25 ms/10 ms framing
    arithmetic as pure column expressions — zero Python workers, zero
    shuffle."""
    n = F.length(F.col("payload")).cast("long")
    sample_rate = (n % 3) * 4000 + 8000
    n_samples = (n * 13) % 32000 + 800
    n_windows = F.greatest(
        F.floor((n_samples - _AUDIO_WIN) / _AUDIO_HOP).cast("long") + 1, F.lit(0)
    )
    return df_with_payload.select(
        "doc_id",
        n.alias("byte_len"),
        sample_rate.alias("sample_rate"),
        n_samples.alias("n_samples"),
        F.floor(n_samples * 1000 / sample_rate).cast("long").alias("duration_ms"),
        n_windows.alias("n_windows"),
    )


def _real_decode_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel decoding REAL image bytes with Pillow —
    same contract as ``decode_image_meta_batches``. Import happens in
    the worker so the driver can plan without PIL installed."""
    from io import BytesIO

    from PIL import Image

    for pdf in batches:
        widths, heights, frames = [], [], []
        for payload in pdf["payload"]:
            with Image.open(BytesIO(payload)) as img:
                widths.append(img.width)
                heights.append(img.height)
                frames.append(int(getattr(img, "n_frames", 1)))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": pdf["payload"].map(len),
                "width": widths,
                "height": heights,
                "n_frames": frames,
            }
        )


def decode_real(df_with_payload: DataFrame) -> DataFrame:
    """Real decoder: Pillow header parse per payload, same schema and
    plumbing as the stub path. Gated on Pillow availability — this
    container intentionally ships no image libs, so callers without
    PIL get the documented NotImplementedError (the oracle-checked
    queries use the stub; tests exercise this path when PIL exists)."""
    try:
        import PIL  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "real media decode requires Pillow; use decode_image_meta (stub) here"
        ) from exc
    from ..session import _ship_package

    _ship_package(df_with_payload.sparkSession)
    return df_with_payload.mapInPandas(_real_decode_batches, IMAGE_META_SCHEMA)


def frame_sample_plan(meta: DataFrame, every: int = 4) -> DataFrame:
    """Frame sampling: explode one row per sampled frame index. Pure
    column ops (sequence + explode) — stays JVM-side."""
    return meta.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every))
        ).alias("frame_idx"),
    ).withColumn("frame_idx", F.col("frame_idx").cast("long"))


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("out_width", LongType(), False),
        StructField("out_height", LongType(), False),
        StructField("out_bytes", LongType(), False),
    ]
)


def resize_plan_batches(
    batches: Iterator[pd.DataFrame], max_side: int = 224
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel for the resize stage: aspect-preserving
    bound to ``max_side``. The pixel work is stubbed (no image libs
    here) but the kernel carries the real contract: vectorized dim
    arithmetic per Arrow batch, output byte estimate = w*h*3 (RGB).
    Swap the body for PIL's ``thumbnail`` in production — signature,
    schema and batch shape are unchanged."""
    import numpy as np

    for pdf in batches:
        w = pdf["width"].to_numpy(dtype=np.float64)
        h = pdf["height"].to_numpy(dtype=np.float64)
        scale = np.minimum(1.0, max_side / np.maximum(w, h))
        ow = np.floor(w * scale).astype(np.int64)
        oh = np.floor(h * scale).astype(np.int64)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": pdf["width"],
                "height": pdf["height"],
                "out_width": ow,
                "out_height": oh,
                "out_bytes": ow * oh * 3,
            }
        )


def resize_plan(meta: DataFrame, max_side: int = 224) -> DataFrame:
    """Resize stage over decoded image metadata (Arrow-batched)."""
    from ..session import _ship_package

    _ship_package(meta.sparkSession)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return resize_plan_batches(batches, max_side=max_side)

    return meta.select("doc_id", "width", "height").mapInPandas(
        kernel, RESIZE_SCHEMA
    )


AUDIO_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("byte_len", LongType(), False),
        StructField("sample_rate", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("duration_ms", LongType(), False),
        StructField("n_windows", LongType(), False),
    ]
)

_AUDIO_WIN = 400  # 25 ms @ 16 kHz
_AUDIO_HOP = 160  # 10 ms hop


def decode_audio_meta_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel for the audio-decode stage (STUB header
    parse, same contract as ``decode_image_meta_batches``): sample
    rate / sample count / duration derived deterministically from the
    payload length; framing uses the standard 25 ms window / 10 ms hop.
    Swap for librosa/soundfile in production — schema, Arrow batch
    shape, and framing arithmetic are the real pipeline."""
    for pdf in batches:
        lens = pdf["payload"].map(len)
        sample_rate = 8000 + (lens % 3) * 4000
        n_samples = (lens * 13) % 32000 + 800
        n_windows = ((n_samples - _AUDIO_WIN) // _AUDIO_HOP + 1).clip(lower=0)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": lens,
                "sample_rate": sample_rate,
                "n_samples": n_samples,
                "duration_ms": n_samples * 1000 // sample_rate,
                "n_windows": n_windows,
            }
        )


def decode_audio_meta(df_with_payload: DataFrame) -> DataFrame:
    """Audio-decode stage: Arrow-batched mapInPandas over payloads."""
    from ..session import _ship_package

    _ship_package(df_with_payload.sparkSession)
    return df_with_payload.mapInPandas(decode_audio_meta_batches, AUDIO_META_SCHEMA)


def phash_bits_col(payload: Column, bits: int = 16) -> Column:
    """Perceptual-hash stand-in over an opaque binary payload: the
    payload's HEX transcription is cut into ``bits`` equal blocks
    (integer-exact boundaries: block i spans chars (i·H div bits,
    (i+1)·H div bits]), each block's md5 contributes one bit (leading
    hex nibble ≥ 8), and the bits pack little-endian into a BIGINT.

    Hashing the hex transcription rather than raw byte slices keeps
    the SQL oracle exact for ARBITRARY bytes (SQL engines slice
    VARCHAR, not BLOB; hex chars are ASCII so char slicing == byte
    slicing). A real pHash would DCT the decoded pixels — the *shape*
    is identical (binary → fixed-width locality-sensitive integer).
    Pure JVM column exprs: no Python worker.
    """
    # power-of-two block count keeps the double division i·H/bits
    # exact (binary scaling), so truncation == the oracle's integer
    # division for ANY payload length
    assert bits & (bits - 1) == 0, "bits must be a power of two"
    hx = F.upper(F.hex(payload))
    n = F.length(hx)
    acc = F.lit(0).cast("long")
    for i in range(bits):
        start = (F.lit(i) * n / F.lit(bits)).cast("long")
        end = (F.lit(i + 1) * n / F.lit(bits)).cast("long")
        block = F.substring(hx, (start + 1).cast("int"), (end - start).cast("int"))
        bit = F.when(
            F.substring(F.md5(block), 1, 1).isin(*"89abcdef"), F.lit(1)
        ).otherwise(F.lit(0))
        acc = acc + bit.cast("long") * F.lit(1 << i).cast("long")
    return acc
