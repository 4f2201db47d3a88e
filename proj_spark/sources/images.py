"""Image payload operators: decode, verify, fingerprint.

The engine's payload table carries images as opaque ``binary`` columns
with typed metadata (input_hint: image_id, bytes, w, h, fmt, caption,
phash — /root/repo/BASELINE.json:15).  This container has no image
libraries (no PIL), so:

  * ``png`` is a REAL, self-contained codec: spec-conformant PNG
    (8-bit RGB, zlib deflate, filters 0-2) written/read with
    numpy + zlib.  Lossless round-trip is exact.
  * ``jpg`` is a REAL baseline JPEG codec (pure numpy, ITU-T T.81
    Annex K tables — see :mod:`proj_spark.sources.jpeg`); encoded at
    quality 98 it clears the PSNR >= 40 dB lossy invariant.
  * ``jpeg`` is the deterministic lossy STAND-IN kept from round 2
    ("quantized PNG": 6-bit/channel quantization inside a real PNG
    container) — bounded error, PSNR >= 40 dB; retained so the lossy
    invariant is exercised through two independent code paths.
  * ``webp``/``avif`` remain stubbed (no codec libraries in this
    container).

All Spark-side work is Arrow-batched ``mapInArrow`` — binary columns
arrive as whole record batches; numpy does the pixel math; never
per-row Python loops over pixels.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from .._pyworker import _columns, _schema

__all__ = [
    "encode_png",
    "decode_png",
    "encode_lossy",
    "decode_image",
    "phash64",
    "psnr",
    "verify_images",
    "DECODE_STUBBED_FORMATS",
]

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# webp/avif decode needs codec libraries this container lacks; real
# baseline JPEG ("jpg") is implemented in proj_spark.sources.jpeg
DECODE_STUBBED_FORMATS = {"webp", "avif"}

_Q_BITS = 6  # lossy stand-in: 6 bits/channel -> PSNR ~ 46 dB


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """8-bit RGB HxWx3 numpy array -> PNG bytes (filter 0, zlib)."""
    if not (arr.ndim == 3 and arr.shape[2] == 3 and arr.dtype == np.uint8):
        raise ValueError(f"expected a uint8 HxWx3 RGB array, got shape "
                         f"{arr.shape} dtype {arr.dtype}")
    h, w, _c = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.zeros((h, w * 3 + 1), dtype=np.uint8)
    raw[:, 1:] = arr.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> 8-bit RGB numpy array.  Supports 8-bit RGB with
    scanline filters 0 (None), 1 (Sub), 2 (Up)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 2:
                raise NotImplementedError("only 8-bit RGB PNG supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    stride = w * 3 + 1
    rows = raw.reshape(h, stride)
    filters = rows[:, 0]
    img = rows[:, 1:].astype(np.int16).reshape(h, w, 3)
    if (filters == 0).all():
        return img.astype(np.uint8)
    out = np.zeros_like(img)
    for r in range(h):
        f = filters[r]
        if f == 0:
            out[r] = img[r]
        elif f == 1:  # Sub
            acc = img[r].copy()
            for x in range(1, w):
                acc[x] = (acc[x] + acc[x - 1]) % 256
            out[r] = acc
        elif f == 2:  # Up
            out[r] = (img[r] + out[r - 1]) % 256
        else:
            raise NotImplementedError(f"PNG filter {f} unsupported")
    return out.astype(np.uint8)


def encode_lossy(arr: np.ndarray) -> bytes:
    """Deterministic lossy stand-in: quantize to 6 bits/channel, store
    in a real PNG container.  Bounded error (max 2 LSB) -> PSNR > 40 dB
    for any input, which is what the lossy-path invariant verifies."""
    q = (arr >> (8 - _Q_BITS)) << (8 - _Q_BITS)
    q = q + (1 << (7 - _Q_BITS))  # mid-rise: halve the max error
    return encode_png(q.astype(np.uint8))


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    """Dispatch by the table's ``fmt`` column."""
    if fmt in ("png", "jpeg"):  # jpeg == our deterministic lossy stand-in
        return decode_png(data)
    if fmt == "jpg":  # REAL baseline JPEG (pure-numpy codec)
        from .jpeg import decode_jpeg

        return decode_jpeg(data)
    if fmt in DECODE_STUBBED_FORMATS:
        raise NotImplementedError(
            f"decoding {fmt!r} requires an image library not present in "
            "this environment; Spark-side plumbing (schema, batching, "
            "UDF signatures) is identical to the png path"
        )
    raise ValueError(f"unknown image format: {fmt!r}")


# ---------------------------------------------------------------------------
# fingerprints / metrics
# ---------------------------------------------------------------------------
def _dct_mat(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    return m


_DCT32 = _dct_mat(32)


def phash64(arr: np.ndarray) -> int:
    """64-bit perceptual hash: gray -> area-resample to 32x32 -> 2D DCT
    -> 8x8 low-frequency block -> median threshold.  A batch of one
    through :func:`phash64_batch`, so the scalar and batched hashes are
    the same code path and cannot drift apart."""
    return int(phash64_batch(arr[None])[0])


def phash64_batch(arrs: np.ndarray) -> np.ndarray:
    """The pHash definition, over a same-shape (n, h, w, 3) uint8 stack
    -> int64[n] (:func:`phash64` is a batch of one).  Every floating
    step (gray weights, cumulative sums, block-mean order of
    operations, per-slice BLAS DCT on a C-contiguous 32x32 slice,
    median) runs per item in the same order whatever ``n`` is, so an
    image hashes identically alone or in any batch.  This is the
    tile-pyramid hot path — hashing a level's tiles in one call instead
    of one Python call per tile."""
    n, h, w = arrs.shape[:3]
    if n == 0:
        return np.empty(0, dtype=np.int64)
    # per-item 2-D matmul: the batched (n,h,w,3)@(3,) gufunc takes a
    # different summation path than an (h,w,3)@(3,) call and drifts by
    # ulps with n, which can flip bits at the median threshold
    wvec = np.array([0.299, 0.587, 0.114])
    gray = np.stack([a.astype(np.float64) @ wvec for a in arrs])
    ys = (np.arange(32) * h // 32)
    xs = (np.arange(32) * w // 32)
    ye = np.maximum(((np.arange(32) + 1) * h + 31) // 32, ys + 1)
    xe = np.maximum(((np.arange(32) + 1) * w + 31) // 32, xs + 1)
    csum = np.zeros((n, h + 1, w + 1))
    csum[:, 1:, 1:] = gray.cumsum(1).cumsum(2)
    # vectorized over rows too — elementwise identical to the per-row
    # form (same subtraction order, same int product divisor)
    iy, ix = np.ix_(ye, xe)
    iy0, ix0 = np.ix_(ys, xs)
    small = (csum[:, iy, ix] - csum[:, iy0, ix]
             - csum[:, iy, ix0] + csum[:, iy0, ix0]) \
        / ((ye - ys)[:, None] * (xe - xs)[None, :])
    # the fancy-indexed stack puts the batch axis innermost for n > 1,
    # so small[i] would be a strided view and BLAS would take another
    # gemm path than for the contiguous n == 1 stack (bits flip at the
    # median); make every slice C-contiguous, as it is for n == 1
    small = np.ascontiguousarray(small)
    dct = np.empty((n, 32, 32))
    for i in range(n):  # per-slice 2-D BLAS, same calls for any n
        dct[i] = _DCT32 @ small[i] @ _DCT32.T
    low = dct[:, :8, :8].reshape(n, 64)
    med = np.median(low[:, 1:], axis=1)  # skip DC
    bits = (low > med[:, None]).astype(np.uint64)
    weights = (np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64))
    return (bits * weights).sum(axis=1, dtype=np.uint64).astype(np.int64)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(20.0 * np.log10(255.0 / np.sqrt(mse)))


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------
def verify_images(df: DataFrame) -> DataFrame:
    """Decode every image and verify the per-row invariants
    (BASELINE.json input_hint): decoded pixels allclose to the
    deterministic reference raster for lossless, PSNR >= 40 dB for
    lossy; pHash match; caption equality.  One Arrow-batched
    ``mapInArrow`` stage; the input columns pass through cast to the
    declared types (``w``/``h`` int, ``phash`` long).

    Expected input columns: image_id, bytes, w, h, fmt, caption, phash.

    NOTE: straight on ``synthesize_images`` both Python stages run in
    one task; for one action that measured no slower than a
    ``localCheckpoint()`` between them (200 images, 8 partitions,
    local[4] on 4 cores: 0.41-0.45 s chained vs 0.49-0.50 s).
    Checkpoint the synthesized table when several actions read it, so
    it is synthesized once.
    """
    ddl = (
        "image_id string, w int, h int, fmt string, caption string, "
        "phash long, size_ok boolean, phash_ok boolean, psnr double, "
        "psnr_ok boolean, caption_ok boolean"
    )
    # event-time passthrough: a streaming caller needs ts downstream
    # for watermarks/windows; batch inputs without ts are unchanged
    if "ts" in df.columns:
        ddl += ", ts timestamp"
    struct, schema = _schema(ddl)

    def _verify(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # regenerate the reference raster per row (pure function of
        # image_id) and compare against the decoded payload
        from .datagen import caption_for, raster_for, splitmix64

        for batch in batches:
            # the passthrough columns, cast to their declared types
            out = {f.name: pa.array(batch.column(f.name), f.type)
                   for f in schema if f.name in batch.schema.names}
            n = batch.num_rows
            size_ok = np.zeros(n, dtype=bool)
            phash_ok = np.zeros(n, dtype=bool)
            caption_ok = np.zeros(n, dtype=bool)
            psnrs = np.zeros(n, dtype=np.float64)
            rows = zip(batch.column("bytes").to_pylist(), *(
                out[c].to_pylist()
                for c in ("image_id", "fmt", "w", "h", "phash", "caption")))
            for i, (data, iid, fmt, w, h, ph, cap) in enumerate(rows):
                arr = decode_image(data, fmt)
                size_ok[i] = arr.shape[0] == h and arr.shape[1] == w
                phash_ok[i] = phash64(arr) == ph
                seed = int(splitmix64(np.uint64(int(iid[3:])))[()])
                ref = raster_for(seed, w, h)
                psnrs[i] = psnr(ref, arr) if size_ok[i] else 0.0
                caption_ok[i] = cap == caption_for(iid, seed)
            fmts = out["fmt"].to_numpy(zero_copy_only=False)
            out.update(
                size_ok=size_ok, phash_ok=phash_ok, psnr=psnrs,
                # lossless must be exact (inf PSNR); lossy must clear 40 dB
                psnr_ok=np.where(fmts == "png", np.isinf(psnrs),
                                 psnrs >= 40.0),
                caption_ok=caption_ok)
            yield _columns([out[f.name] for f in schema], schema)

    return df.mapInArrow(_verify, struct)
