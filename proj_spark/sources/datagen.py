"""Deterministic synthetic image+caption table generator.

Builds the engine's payload table at the exact ``input_hint`` shape
(BASELINE.json:15):

    image_id string, bytes binary, w int, h int, fmt string,
    caption string, phash long

plus derived geo columns ``lon``/``lat``.  Everything is a pure
function of ``image_id`` through splitmix64 (no library RNG streams, so
bytes are reproducible across numpy versions and across partitions —
determinism requirement of SURVEY.md §7 risk 5).  Generation runs as
``spark.range(n) -> mapInArrow`` (one body, :func:`_synthesize`, behind
every range synthesizer here and in :mod:`.media`) so a 10^12-row
synthesis is just more range partitions; no driver-side data.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .._pyworker import _rows, _schema
from .images import encode_lossy, encode_png, phash64

__all__ = [
    "splitmix64",
    "raster_for",
    "raster_smooth_for",
    "meta_for",
    "synthesize_images",
    "synthesize_jpeg_subsampled",
    "synthesize_jpeg_arith",
    "IMAGES_DDL",
]

IMAGES_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lon double, lat double"
)

_MASK64 = (1 << 64) - 1

_WORDS = (
    "tile cell raster vector mosaic basemap contour isoline meridian "
    "parallel datum geoid easting northing zoom pyramid overview band"
).split()


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — the deterministic hash every derived
    column flows from."""
    with np.errstate(over="ignore"):
        z = (np.asarray(x, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(_MASK64)
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(_MASK64)
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(_MASK64)
        return z ^ (z >> np.uint64(31))


def meta_for(seq: np.ndarray) -> dict:
    """Per-row metadata derived from the sequence number."""
    h = splitmix64(seq)
    w = (16 + (h & np.uint64(0x2F)) % np.uint64(49)).astype(np.int32)
    hh = (16 + ((h >> np.uint64(8)) & np.uint64(0x3F)) % np.uint64(49)).astype(np.int32)
    # three coexisting formats: lossless PNG, the quantized-PNG lossy
    # stand-in ("jpeg"), and REAL baseline JPEG ("jpg", proj_spark
    # numpy codec) — all verified by the same per-row invariants
    fsel = ((h >> np.uint64(16)) & np.uint64(3)).astype(np.int64)
    fmt = np.asarray(["png", "jpeg", "jpg", "png"], dtype=object)[fsel]
    lon = ((h >> np.uint64(17)) % np.uint64(3_600_000)).astype(np.float64) / 10_000.0 - 180.0
    lat = ((h >> np.uint64(40)) % np.uint64(1_700_000)).astype(np.float64) / 10_000.0 - 85.0
    return {"hash": h, "w": w, "h": hh, "fmt": fmt, "lon": lon, "lat": lat}


def _raster_waves(seed: int, w: int, h: int):
    """Shared seed -> (grid, frequencies, phase) derivation for the
    base and smooth fixture rasters — one source of truth."""
    s = np.uint64(seed)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    p = splitmix64(np.arange(6, dtype=np.uint64) + s)
    fx = 0.5 + (p[0] % np.uint64(1000)).astype(np.float64) / 250.0
    fy = 0.5 + (p[1] % np.uint64(1000)).astype(np.float64) / 250.0
    phase = (p[2] % np.uint64(628)).astype(np.float64) / 100.0
    return yy, xx, fx, fy, phase


def _raster_base(seed: int, w: int, h: int) -> np.ndarray:
    yy, xx, fx, fy, phase = _raster_waves(seed, w, h)
    return np.stack(
        [
            127.5 + 90.0 * np.sin(fx * xx / w * 2 * np.pi + phase),
            127.5 + 90.0 * np.cos(fy * yy / h * 2 * np.pi + phase * 0.5),
            127.5 + 90.0 * np.sin((xx + yy) / (w + h) * 4 * np.pi + phase * 0.25),
        ],
        axis=-1,
    )


def raster_for(seed: int, w: int, h: int) -> np.ndarray:
    """Deterministic RGB raster: smooth gradients + hash noise."""
    s = np.uint64(seed)
    base = _raster_base(seed, w, h)
    with np.errstate(over="ignore"):
        idx = np.arange(h * w * 3, dtype=np.uint64) + s * np.uint64(2654435761)
    noise = (splitmix64(idx) % np.uint64(33)).astype(np.float64).reshape(h, w, 3) - 16.0
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def raster_smooth_for(seed: int, w: int, h: int) -> np.ndarray:
    """Chroma-subsampling fixture raster: full-resolution LUMA detail
    (hash-seeded frequencies, like :func:`raster_for`'s base) over
    near-linear low-amplitude CHROMA, composed directly in YCbCr and
    kept inside the RGB gamut so no clipping kinks appear.  4:2:0 is
    lossy by DESIGN in chroma — high-frequency color or per-channel
    noise cannot survive any subsampling — so the q67 PSNR>=40 gate
    uses content whose chroma the subsampled layout can represent,
    measuring codec correctness rather than the design loss."""
    from .jpeg import _ycbcr_to_rgb

    yy, xx, fx, fy, phase = _raster_waves(seed, w, h)
    y = 127.5 + 80.0 * np.sin(fx * xx / w * 2 * np.pi + phase) \
        * np.cos(fy * yy / h * np.pi + 0.3 * phase)
    cb = 128.0 + 20.0 * np.sin(xx / max(w, 2) * np.pi + phase)
    cr = 128.0 + 20.0 * np.cos(yy / max(h, 2) * np.pi + 0.5 * phase)
    rgb = _ycbcr_to_rgb(np.stack([y, cb, cr], axis=-1))
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def caption_for(image_id: str, h: int) -> str:
    salt = " ".join(_WORDS[(h >> (4 * k)) % len(_WORDS)] for k in range(3))
    return f"caption for {image_id} {salt}"


def _synthesize(spark: SparkSession, n: int, partitions: int | None,
                ddl: str, row) -> DataFrame:
    """``spark.range(n) -> mapInArrow``: ``row(seq, meta, i)`` returns
    the ``ddl`` row of range id ``seq``, where ``meta`` is
    :func:`meta_for` over the batch and ``i`` the row's index in it.
    A row depends on ``seq`` alone, so the bytes are the same at any
    partition count and batch size."""
    struct, schema = _schema(ddl)

    def _gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            seq = batch.column(0).to_numpy().astype(np.uint64)
            meta = meta_for(seq)
            yield _rows([row(int(s), meta, i) for i, s in enumerate(seq)],
                        schema)

    return spark.range(
        0, n, 1, partitions or spark.sparkContext.defaultParallelism
    ).mapInArrow(_gen, struct)


def synthesize_images(spark: SparkSession, n: int,
                      partitions: int | None = None) -> DataFrame:
    """Deterministic images table with ``n`` rows (pure function of row
    number; same bytes at any partition count)."""
    from .images import decode_image
    from .jpeg import encode_jpeg

    def row(seq, meta, i):
        image_id = f"img{seq:012d}"
        seed = int(meta["hash"][i])
        w, h = int(meta["w"][i]), int(meta["h"][i])
        arr = raster_for(seed, w, h)
        fmt = str(meta["fmt"][i])
        if fmt == "jpeg":
            data = encode_lossy(arr)
        elif fmt == "jpg":
            data = encode_jpeg(arr, quality=98)
        else:
            data = encode_png(arr)
        # phash is computed over the pixels a reader will see
        return (image_id, data, w, h, fmt, caption_for(image_id, seed),
                phash64(decode_image(data, fmt)),
                float(meta["lon"][i]), float(meta["lat"][i]))

    return _synthesize(spark, n, partitions, IMAGES_DDL, row)


def _smooth_jpeg(spark: SparkSession, n: int, partitions: int | None,
                 prefix: str, bit: int, other: str, encode,
                 restart: bool = False) -> DataFrame:
    """The smooth-raster JPEG fixtures: row ``seq`` is
    ``raster_smooth_for`` of its hash through ``encode(arr, sub)``,
    with subsampling "4:2:0" where hash bit ``bit`` is set, else
    ``other``; ``restart`` adds a restart interval of 4 MCUs where bit
    27 is set, else 0, passed to ``encode`` and kept in its own
    column."""
    ddl = "image_id string, bytes binary, w int, h int, subsampling string"

    def row(seq, meta, i):
        seed = int(meta["hash"][i])
        w, h = int(meta["w"][i]), int(meta["h"][i])
        sub = "4:2:0" if (seed >> bit) & 1 else other
        ri = (4 if (seed >> 27) & 1 else 0,) if restart else ()
        data = encode(raster_smooth_for(seed, w, h), sub, *ri)
        return (f"{prefix}{seq:012d}", data, w, h, sub) + ri

    return _synthesize(spark, n, partitions,
                       ddl + (", restart int" if restart else ""), row)


def synthesize_jpeg_subsampled(spark: SparkSession, n: int,
                               quality: int = 95,
                               partitions: int | None = None) -> DataFrame:
    """Deterministic chroma-subsampled JPEG fixture table (the round-3
    verdict's 4:2:0 ask): smooth rasters encoded by the extended
    ``encode_jpeg(subsampling=...)`` — "4:2:0" or "4:2:2" chosen by a
    splitmix64 bit so the SQL oracle can replicate the selection.
    Columns: image_id, bytes, w, h, subsampling."""
    from .jpeg import encode_jpeg

    return _smooth_jpeg(
        spark, n, partitions, "jp", 21, "4:2:2",
        lambda arr, sub: encode_jpeg(arr, quality, subsampling=sub))


def synthesize_jpeg_progressive(spark: SparkSession, n: int,
                                quality: int = 90,
                                partitions: int | None = None) -> DataFrame:
    """Deterministic PROGRESSIVE JPEG fixture table (round-5: the SOF2
    path): smooth rasters through ``encode_jpeg_progressive`` with the
    subsampling ("4:2:0" or "4:4:4") chosen by a splitmix64 bit so the
    SQL oracle can replicate the selection.
    Columns: image_id, bytes, w, h, subsampling."""
    from .jpeg import encode_jpeg_progressive

    return _smooth_jpeg(
        spark, n, partitions, "pg", 23, "4:4:4",
        lambda arr, sub: encode_jpeg_progressive(arr, quality,
                                                 subsampling=sub))


def synthesize_jpeg_arith(spark: SparkSession, n: int,
                          quality: int = 90,
                          partitions: int | None = None) -> DataFrame:
    """Deterministic ARITHMETIC-coded JPEG fixture table (round-6: the
    SOF9 + DAC path): smooth rasters through
    ``encode_jpeg_arithmetic``, subsampling chosen by splitmix64 bit
    25 and a restart interval (0 or 4 MCUs) by bit 27, both
    replicable in the SQL oracle.
    Columns: image_id, bytes, w, h, subsampling, restart."""
    from .jpeg_arith import encode_jpeg_arithmetic

    return _smooth_jpeg(
        spark, n, partitions, "aj", 25, "4:4:4",
        lambda arr, sub, ri: encode_jpeg_arithmetic(
            arr, quality, subsampling=sub, restart_interval=ri),
        restart=True)
