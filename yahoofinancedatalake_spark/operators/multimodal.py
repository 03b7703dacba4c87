"""Multimodal (image/audio/video) column plumbing for the lake.

Beyond-parity extension: a 100 TB training-data pipeline carries media
as opaque ``binary`` columns plus typed metadata, and runs decode /
feature-extract / resize / frame-sample as Arrow-batched Python
stages. The Spark-side plumbing here — schemas, ``mapInPandas``
pipelines, batch shapes, partition sizing — is real and tested. The
codec registry (:func:`register_decoder`) raises loudly for formats
needing external libraries (the container ships no Pillow/soundfile/
pyav), but a stdlib-only PCM WAV codec (:func:`wav_feature_decoder`)
decodes for REAL, so the pipeline is exercised end-to-end on genuine
media bytes; uncompressed 24-bit BMP pixels decode with
:func:`bmp_decode`, and a deterministic fake decoder backs the
batch-shape tests besides.

Design rules for the hot path:

- media bytes stay in one ``binary`` column; metadata (width, height,
  sample rate, …) lives in plain typed columns so Catalyst can filter
  and prune WITHOUT touching the payload (e.g. ``WHERE width >= 64``
  never deserializes bytes);
- every Python crossing is ``mapInPandas`` over Arrow batches —
  payload bytes move zero-copy, and one batch holds many rows so
  per-row Python overhead amortizes;
- CPU-heavy decode stages fan out first (see catalog.fan_out): the
  cost model is compute-per-row ≫ shuffle-per-row.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Schema contract for a media table (one row per asset).
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("content", BinaryType(), True),  # opaque payload
        StructField("format", StringType(), True),  # png, wav, mp4, ...
        StructField("width", IntegerType(), True),  # images/video
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),  # video
        StructField("sample_rate", IntegerType(), True),  # audio
    ]
)

#: Output schema of the feature-extraction stage.
FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, feature array<double>"
)

#: Output schema of the frame-sampling stage (one row per kept frame).
FRAME_SCHEMA = "media_id long, frame_index int, frame_bytes binary"

Decoder = Callable[[bytes, str], np.ndarray]

_DECODERS: dict[str, Decoder] = {}


def register_decoder(kind: str, fn: Decoder) -> None:
    """Register the real codec for ``kind`` (image/audio/video).

    In production this wraps Pillow / soundfile / pyav. The container
    has none of them, so tests register :func:`fake_decoder` and the
    default raises — loudly, not silently — when no decoder exists.
    """
    _DECODERS[kind] = fn


def fake_decoder(payload: bytes, fmt: str) -> np.ndarray:
    """Deterministic stand-in codec: bytes → tiny float array.

    Derives a fixed-length pseudo-signal from the payload bytes so
    tests get stable, content-dependent output with real batch shapes.
    """
    arr = np.frombuffer(payload[:64].ljust(64, b"\0"), dtype=np.uint8)
    return (arr.astype(np.float64) - 128.0) / 128.0


def extract_features(df: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Decode + featurize every asset: Arrow-batched ``mapInPandas``.

    The iterator-of-batches signature keeps memory bounded: one Arrow
    batch of payloads lives in Python at a time, whatever the
    partition size. Output is (media_id, kind, n_bytes, feature).
    """
    decoders = dict(_DECODERS)  # captured in the closure → shipped to workers

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, kind, fmt in zip(
                pdf["content"], pdf["kind"], pdf["format"]
            ):
                if kind not in decoders:
                    raise NotImplementedError(
                        f"no decoder registered for kind={kind!r}"
                    )
                feats.append(
                    decoders[kind](payload or b"", fmt).tolist()
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [
                        len(p) if p is not None else 0 for p in pdf["content"]
                    ],
                    "feature": feats,
                }
            )

    cols = ["media_id", "kind", "content", "format"]
    return df.select(*cols).mapInPandas(fn, schema=FEATURE_SCHEMA)


def sample_frames(df: DataFrame, every_nth: int = 10) -> DataFrame:
    """Frame-sample video assets: one output row per kept frame.

    The row-explosion happens inside the Arrow batch (cheap) rather
    than via a JVM explode of pre-materialized frames (which would
    ship every frame through the shuffle). Frame decode is stubbed:
    the payload is sliced deterministically per frame index.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, payload, n_frames in zip(
                pdf["media_id"], pdf["content"], pdf["n_frames"]
            ):
                n = int(n_frames) if pd.notna(n_frames) else 0
                payload = payload or b""
                for i in range(0, n, every_nth):
                    ids.append(mid)
                    idxs.append(i)
                    # stub "frame decode": deterministic byte slice
                    frames.append(payload[i % max(len(payload), 1):][:16])
            yield pd.DataFrame(
                {"media_id": ids, "frame_index": idxs, "frame_bytes": frames}
            )

    cols = ["media_id", "content", "n_frames"]
    return (
        df.filter(F.col("kind") == "video")
        .select(*cols)
        .mapInPandas(fn, schema=FRAME_SCHEMA)
    )


def resize_metadata(df: DataFrame, max_side: int) -> DataFrame:
    """Compute post-resize dimensions JVM-side — no payload touch.

    Aspect-preserving clamp of (width, height) to ``max_side``. This
    is the planning half of a resize: the byte-level resample joins in
    only when a real codec is registered. Pure column expressions, so
    it runs in codegen and the binary column is never deserialized.
    """
    w, h = F.col("width"), F.col("height")
    scale = F.when(
        F.greatest(w, h) > max_side,
        max_side / F.greatest(w, h).cast("double"),
    ).otherwise(F.lit(1.0))
    # clamp to ≥1: an extreme aspect ratio (e.g. 100×3 → max_side 8)
    # floors the short side to 0, which is not an image — and the
    # byte-level half (resize_nearest) clamps the same way, keeping
    # the planned and executed dimensions in exact agreement
    return df.withColumns(
        {
            "resized_width": F.greatest(
                F.lit(1), F.floor(w * scale)
            ).cast("int"),
            "resized_height": F.greatest(
                F.lit(1), F.floor(h * scale)
            ).cast("int"),
        }
    )


# ---------------------------------------------------------------------------
# Built-in stdlib codecs — real decode paths with zero external deps
# ---------------------------------------------------------------------------
#
# The registry default still raises for unknown formats, but two
# container-friendly formats decode for real: PCM WAV (RIFF parse +
# int16 → float) and uncompressed 24-bit BMP (header parse + pixel
# grid). They prove the mapInPandas plumbing end-to-end on genuine
# media bytes; production registers Pillow/soundfile/pyav for the
# compressed formats these two stand in for.


def wav_pcm_decode(payload: bytes) -> tuple[np.ndarray, int]:
    """Parse a PCM RIFF/WAVE payload → (mono float signal in [-1, 1],
    sample_rate). Stdlib struct only; 16-bit and 8-bit PCM, any
    channel count (averaged to mono)."""
    import struct  # noqa: PLC0415

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt_chunk, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack(
            "<I", payload[pos + 4 : pos + 8]
        )[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_chunk = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt_chunk is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, rate, _, _, bits = struct.unpack(
        "<HHIIHH", fmt_chunk[:16]
    )
    if audio_fmt != 1:
        raise ValueError(f"not PCM (audio_fmt={audio_fmt})")
    if bits == 16:
        sig = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        sig = (np.frombuffer(data, dtype=np.uint8).astype(np.float64)
               - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    if n_ch > 1:
        sig = sig[: len(sig) - len(sig) % n_ch].reshape(-1, n_ch).mean(1)
    return sig, rate


def wav_feature_decoder(payload: bytes, fmt: str) -> np.ndarray:
    """Audio Decoder: PCM WAV → 12-dim feature vector
    [n_samples, sample_rate, duration_s, rms, zero_cross_rate, peak,
    6 × octave-ish band energy fractions (rfft)]."""
    if fmt != "wav":
        raise NotImplementedError(
            f"audio format {fmt!r}: register a soundfile/pyav decoder"
        )
    sig, rate = wav_pcm_decode(payload)
    n = len(sig)
    if n == 0:
        return np.zeros(12)
    rms = float(np.sqrt((sig**2).mean()))
    zcr = float((np.signbit(sig[1:]) != np.signbit(sig[:-1])).mean())
    peak = float(np.abs(sig).max())
    spec = np.abs(np.fft.rfft(sig)) ** 2
    edges = np.linspace(0, len(spec), 7, dtype=int)
    total = spec.sum() or 1.0
    bands = [float(spec[a:b].sum() / total) for a, b in
             zip(edges[:-1], edges[1:])]
    return np.array(
        [float(n), float(rate), n / rate, rms, zcr, peak, *bands]
    )


def bmp_decode(payload: bytes) -> np.ndarray:
    """Parse an uncompressed 24-bit BMP → (h, w, 3) uint8 RGB grid.
    Stdlib struct only; handles bottom-up row order and 4-byte row
    padding."""
    import struct  # noqa: PLC0415

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack("<I", payload[10:14])[0]
    w, h = struct.unpack("<ii", payload[18:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    compression = struct.unpack("<I", payload[30:34])[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, comp={compression})")
    flip = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    px = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * h, offset=data_off
    ).reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    if flip:
        px = px[::-1]
    return px[..., ::-1].copy()  # BGR → RGB


def resize_nearest(px: np.ndarray, max_side: int) -> np.ndarray:
    """Aspect-preserving nearest-neighbor downscale of an ``(h, w, c)``
    pixel grid to fit within ``max_side`` — the byte-level half of
    :func:`resize_metadata` (which computes the target dims JVM-side
    without touching the payload; the two agree on
    ``floor(dim * scale)``). Pure integer source-index sampling
    (``src = floor(i * src_dim / dst_dim)``), so the output is
    bit-deterministic and every output pixel is an exact copy of one
    input pixel — the cheap, exact choice for thumbnail/feature
    pipelines where interpolation artifacts would pollute hashes."""
    h, w = px.shape[:2]
    side = max(h, w)
    if side <= max_side:
        return px
    scale = max_side / side
    nh, nw = max(1, int(h * scale)), max(1, int(w * scale))
    rows = (np.arange(nh) * h // nh).astype(np.int64)
    cols = (np.arange(nw) * w // nw).astype(np.int64)
    return px[rows][:, cols]
