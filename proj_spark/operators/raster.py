"""Raster tile pyramid over binary image columns.

The north rule's raster side: cut every image into a zoom pyramid of
fixed-size tiles (web-map convention: level z is the source downscaled
by 2^z, then sliced into tile*tile blocks, edge tiles ragged).  One
input row fans out to sum_z ceil(w_z/T)*ceil(h_z/T) rows — total
output pixels are bounded by (4/3)*w*h, so the operator is linear in
input bytes and embarrassingly partition-parallel: ``mapInArrow``
batches, no shuffle, no driver involvement; the body reads and
writes Arrow record batches, no pandas frames.

Dimension conventions (mirrored bit-exactly by the q63 SQL oracle):
  w_z = ceil(w / 2^z)      (integer, (w + 2^z - 1) // 2^z)
  n_x = ceil(w_z / T), tile_w(tx) = min(T, w_z - tx*T)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from .._pyworker import _columns, _schema

__all__ = ["tile_pyramid", "TILE_PYRAMID_SCHEMA"]

TILE_PYRAMID_SCHEMA = (
    "image_id string, zoom int, tile_x int, tile_y int, "
    "tile_w int, tile_h int, tile_bytes binary, tile_phash long"
)


def tile_pyramid(images: DataFrame, zooms: tuple[int, ...] = (0, 1, 2),
                 tile: int = 32) -> DataFrame:
    """images(image_id, bytes, w, h, fmt, ...) -> one row per pyramid
    tile, each re-encoded PNG with its own 64-bit pHash.  Level 0 is a
    lossless partition of the source pixels (tests reassemble it and
    require exact equality); deeper levels are bilinear 2^z
    downscales."""
    if tile < 1:
        raise ValueError(f"tile must be >= 1, got {tile}")
    if any(z < 0 for z in zooms):
        raise ValueError(f"zooms must be >= 0, got {zooms}")
    zs = tuple(sorted(set(int(z) for z in zooms)))
    struct, schema = _schema(TILE_PYRAMID_SCHEMA)

    def _tiles(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..sources.images import decode_image, encode_png, phash64_batch
        from ..sources.media import np_resize_bilinear

        for batch in batches:
            # column lists, not per-row dicts (pandas row-dict assembly
            # was the old hot spot alongside per-tile phash calls)
            ids, zoom_c, tx_c, ty_c = [], [], [], []
            tw_c, th_c, bytes_c = [], [], []
            # tiles grouped by pixel shape (interior TxT bulk + at most
            # 3 ragged edge shapes per level) -> one vectorized
            # phash64_batch call per shape instead of one per tile
            by_shape: dict[tuple, list] = {}
            slot_by_shape: dict[tuple, list] = {}
            for image_id, data, fmt in zip(
                    *(batch.column(c).to_pylist()
                      for c in ("image_id", "bytes", "fmt"))):
                arr = decode_image(data, fmt)
                h, w = arr.shape[:2]
                for z in zs:
                    f = 1 << z
                    wz, hz = (w + f - 1) // f, (h + f - 1) // f
                    lvl = arr if z == 0 else np_resize_bilinear(arr, wz, hz)
                    for ty in range((hz + tile - 1) // tile):
                        for tx in range((wz + tile - 1) // tile):
                            blk = lvl[ty * tile:(ty + 1) * tile,
                                      tx * tile:(tx + 1) * tile]
                            slot = len(ids)
                            ids.append(image_id)
                            zoom_c.append(z)
                            tx_c.append(tx)
                            ty_c.append(ty)
                            tw_c.append(blk.shape[1])
                            th_c.append(blk.shape[0])
                            bytes_c.append(encode_png(blk))
                            sh = blk.shape[:2]
                            by_shape.setdefault(sh, []).append(blk)
                            slot_by_shape.setdefault(sh, []).append(slot)
            phash_c = np.zeros(len(ids), dtype=np.int64)
            for sh, blks in by_shape.items():
                phash_c[slot_by_shape[sh]] = phash64_batch(np.stack(blks))
            yield _columns(
                (ids, zoom_c, tx_c, ty_c, tw_c, th_c, bytes_c, phash_c),
                schema)

    return images.mapInArrow(_tiles, struct)
