"""Multimodal payload operators: image resize, video frame sampling,
audio feature extraction.

Task-brief coverage (multimodal columns): media is carried as opaque
``binary`` columns with typed metadata; every operator is an
Arrow-batched ``mapInArrow`` stage (schema, partitioning, UDF
signature and batch shape are real and tested).  Where no codec
library is needed the kernel is REAL numpy:

  * image resize     — bilinear in numpy over the real PNG codec
                       (sources/images.py);
  * video frames     — a real trivial container (``rawgrid``: magic +
                       dims header + raw RGB frames) packs/unpacks and
                       frame-samples without any video lib;
  * audio features   — RMS / zero-crossing / peak over raw int16 PCM.

Codec-requiring formats (mp4/webm video, mp3/flac audio) raise
``NotImplementedError`` with the contract documented — this container
ships no media libraries (same policy as images.py jpeg).
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .._pyworker import _rows, _schema
from .datagen import _synthesize, raster_for
from .images import decode_image, encode_png, phash64

__all__ = [
    "VIDEO_DDL",
    "AUDIO_DDL",
    "pack_rawgrid_video",
    "unpack_rawgrid_video",
    "synthesize_videos",
    "sample_frames",
    "synthesize_audio",
    "audio_features",
    "encode_wav",
    "decode_wav",
    "resize_images",
    "np_resize_bilinear",
]

VIDEO_DDL = (
    "video_id string, bytes binary, fmt string, n_frames int, w int, h int, "
    "fps double"
)
AUDIO_DDL = (
    "audio_id string, pcm binary, fmt string, sample_rate int, "
    "n_samples int, freq_hz double, amplitude double"
)

_RGV_MAGIC = b"RGV1"


# ---------------------------------------------------------------------------
# rawgrid video container (real, codec-free)
# ---------------------------------------------------------------------------
def pack_rawgrid_video(frames: list) -> bytes:
    """``RGV1`` container: magic, n_frames/w/h uint32, then raw RGB
    frame payloads back to back."""
    if not frames:
        raise ValueError("empty video")
    h, w, _ = frames[0].shape
    out = [_RGV_MAGIC, struct.pack("<III", len(frames), w, h)]
    for f in frames:
        if f.shape != (h, w, 3):
            raise ValueError("inconsistent frame shapes")
        out.append(np.ascontiguousarray(f, dtype=np.uint8).tobytes())
    return b"".join(out)


def unpack_rawgrid_video(data: bytes) -> list:
    if bytes(data[:4]) != _RGV_MAGIC:
        raise ValueError("not a rawgrid video")
    n, w, h = struct.unpack("<III", bytes(data[4:16]))
    sz = w * h * 3
    return [
        np.frombuffer(bytes(data[16 + i * sz:16 + (i + 1) * sz]),
                      dtype=np.uint8).reshape(h, w, 3)
        for i in range(n)
    ]


def synthesize_videos(spark: SparkSession, n: int, n_frames: int = 8,
                      partitions: int | None = None) -> DataFrame:
    """Deterministic videos: frame f of video i is
    ``raster_for(splitmix64(i) + f, w, h)`` — pure function of the row
    number, same bytes at any partition count."""

    def row(seq, meta, i):
        h = meta["hash"][i]  # splitmix64(seq)
        w_px = 16 + int(h & np.uint64(0xF))
        h_px = 16 + int((h >> np.uint64(8)) & np.uint64(0xF))
        frames = [raster_for(int(h) + f, w_px, h_px)
                  for f in range(n_frames)]
        return (f"vid{seq:012d}", pack_rawgrid_video(frames), "rawgrid",
                n_frames, w_px, h_px, 12.0)

    return _synthesize(spark, n, partitions, VIDEO_DDL, row)


def sample_frames(df: DataFrame, every: int = 2) -> DataFrame:
    """Frame sampling: one output row per kept frame (frame_idx % every
    == 0), frame re-encoded as PNG + pHashed.  ``rawgrid`` decodes for
    real; codec formats raise (no video libs in this container)."""
    ddl = ("video_id string, frame_idx int, w int, h int, "
           "frame_png binary, phash long")
    struct, schema = _schema(ddl)

    def _sample(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = []
            for vid, fmt, data in zip(*(batch.column(c).to_pylist() for c in
                                        ("video_id", "fmt", "bytes"))):
                if fmt != "rawgrid":
                    raise NotImplementedError(
                        f"video codec {fmt!r} requires a decoder lib; "
                        "this container ships none (contract: images.py jpeg)"
                    )
                frames = unpack_rawgrid_video(data)
                for idx in range(0, len(frames), every):
                    arr = frames[idx]
                    rows.append((vid, idx, arr.shape[1], arr.shape[0],
                                 encode_png(arr), phash64(arr)))
            yield _rows(rows, schema)

    return df.mapInArrow(_sample, struct)


# ---------------------------------------------------------------------------
# audio (raw int16 PCM — real, codec-free)
# ---------------------------------------------------------------------------
def synthesize_audio(spark: SparkSession, n: int, sample_rate: int = 8000,
                     duration_s: float = 0.5,
                     partitions: int | None = None) -> DataFrame:
    """Deterministic pure-sine PCM clips: frequency and amplitude are
    splitmix64 functions of the row number, so every derived feature
    has a closed-form expected value (the q36 invariant oracle)."""
    n_samples = int(sample_rate * duration_s)

    def row(seq, meta, i):
        h = meta["hash"][i]  # splitmix64(seq)
        freq = 100.0 + float(h % np.uint64(1800))  # 100..1900 Hz
        amp = 0.2 + float((h >> np.uint64(16)) % np.uint64(700)) / 1000.0
        t = np.arange(n_samples, dtype=np.float64) / sample_rate
        wave = amp * np.sin(2.0 * np.pi * freq * t)
        pcm = np.clip(wave * 32767.0, -32768, 32767).astype("<i2")
        return (f"aud{seq:012d}", pcm.tobytes(), "pcm_s16le", sample_rate,
                n_samples, freq, amp)

    return _synthesize(spark, n, partitions, AUDIO_DDL, row)


def encode_wav(pcm: bytes | np.ndarray, sample_rate: int,
               channels: int = 1) -> bytes:
    """int16 PCM -> RIFF/WAVE bytes (the canonical PCM container,
    format tag 1).  Round-6: a REAL container format for the audio
    column, mirroring what rawgrid does for video."""
    if isinstance(pcm, np.ndarray):
        if pcm.dtype != np.dtype("<i2"):
            raise ValueError("encode_wav expects little-endian int16")
        pcm = pcm.tobytes()
    block = 2 * channels
    if len(pcm) % block:
        raise ValueError("PCM length is not a whole number of frames")
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * block, block, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[np.ndarray, int, int]:
    """RIFF/WAVE bytes -> (int16 samples [frames, channels],
    sample_rate, channels).  A real chunk walker: unknown chunks are
    skipped (word-aligned), only PCM s16 (format tag 1, 16-bit) is
    supported — compressed tags raise, like the image codecs."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    (riff_len,) = struct.unpack("<I", data[4:8])
    end = min(len(data), 8 + riff_len)
    pos = 12
    fmt = None
    pcm = None
    while pos + 8 <= end:
        cid = data[pos:pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + clen]
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            pcm = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("WAVE without fmt/data chunks")
    tag, channels, rate, _byterate, block, bits = fmt
    if tag != 1 or bits != 16:
        raise NotImplementedError(
            f"WAVE format tag {tag}/{bits}-bit requires a codec lib; "
            "only PCM s16 is supported")
    if block != 2 * channels:
        raise ValueError(f"inconsistent block align {block} "
                         f"for {channels} channel(s)")
    n = len(pcm) // block
    samples = np.frombuffer(pcm[:n * block], dtype="<i2")
    return samples.reshape(n, channels), int(rate), int(channels)


def audio_features(df: DataFrame) -> DataFrame:
    """Feature extraction over raw PCM: RMS, zero-crossing rate, peak,
    duration.  ``pcm_s16le`` is computed for real in numpy; codec
    formats (mp3/flac/ogg) raise — no audio libs in this container."""
    ddl = ("audio_id string, rms double, zcr double, peak double, "
           "duration_s double")
    struct, schema = _schema(ddl)

    def _feat(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = []
            for aid, fmt, pcm, sr in zip(*(
                    batch.column(c).to_pylist()
                    for c in ("audio_id", "fmt", "pcm", "sample_rate"))):
                if fmt == "wav":
                    samples, sr, _ch = decode_wav(pcm)
                    x = samples.mean(axis=1).astype(np.float64)
                elif fmt == "pcm_s16le":
                    x = np.frombuffer(pcm, dtype="<i2").astype(np.float64)
                else:
                    raise NotImplementedError(
                        f"audio codec {fmt!r} requires a decoder lib; "
                        "this container ships none"
                    )
                x /= 32767.0
                rms = float(np.sqrt(np.mean(x * x)))
                zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                rows.append((aid, rms, zcr, float(np.abs(x).max()),
                             len(x) / float(sr)))
            yield _rows(rows, schema)

    return df.mapInArrow(_feat, struct)


# ---------------------------------------------------------------------------
# image resize (real bilinear numpy over the real PNG codec)
# ---------------------------------------------------------------------------
def np_resize_bilinear(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Bilinear resample (align-corners=False convention)."""
    h, w, c = arr.shape
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :, None]
    a = arr[y0][:, x0].astype(np.float64)
    b = arr[y0][:, x1].astype(np.float64)
    cc = arr[y1][:, x0].astype(np.float64)
    d = arr[y1][:, x1].astype(np.float64)
    out = (a * (1 - wy) * (1 - wx) + b * (1 - wy) * wx
           + cc * wy * (1 - wx) + d * wy * wx)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Decode -> bilinear resize -> re-encode PNG -> re-pHash, one Arrow
    batch at a time over the images table (input_hint schema).  Decoding
    follows images.decode_image's format contract (png, the
    deterministic lossy stand-in ``jpeg`` and real JPEG ``jpg`` decode;
    exotic codecs raise there)."""
    ddl = ("image_id string, bytes binary, w int, h int, fmt string, "
           "caption string, phash long")
    struct, schema = _schema(ddl)

    def _resize(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = []
            for iid, data, fmt, cap in zip(*(
                    batch.column(c).to_pylist()
                    for c in ("image_id", "bytes", "fmt", "caption"))):
                small = np_resize_bilinear(decode_image(data, fmt),
                                           out_w, out_h)
                rows.append((iid, encode_png(small), out_w, out_h, "png",
                             cap, phash64(small)))
            yield _rows(rows, schema)

    return df.mapInArrow(_resize, struct)
