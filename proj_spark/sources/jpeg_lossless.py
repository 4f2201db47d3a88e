"""Lossless JPEG (ITU-T T.81 Annex H, SOF3) — pure stdlib + numpy.

Round-6: the third T.81 frame class after sequential/progressive DCT.
Lossless JPEG codes SAMPLES, not DCT coefficients: each sample is
predicted from its decoded neighbours (the seven Annex H.1 predictors)
and the difference is Huffman-coded with the DC-style
category + magnitude-bits scheme (no quantization, no DCT, no color
transform — RGB in, bit-identical RGB out, pinned in tests).

  * encoder: SOF3 frame, per-component Annex K DC Huffman tables
    (8-bit samples keep difference categories <= 9, inside the table's
    12), non-interleaved scans (one per component, T.81 allows both;
    non-interleaved keeps the sample walk trivial), predictor
    selectable via the scan header's Ss field (1..7, H.1), point
    transform 0;
  * decoder: integrated into ``jpeg.decode_jpeg`` via the SOF3 marker
    — same marker parser, then the predictive sample walk in reverse.

Prediction boundaries follow H.1.1: the first sample of the first
line predicts from 2^(P-1) (=128), the rest of the first line from Ra,
the first column of later lines from Rb.  Differences are coded
modulo 2^16 (H.1.2.1) — for 8-bit samples they fit category <= 9
directly, so no modulo wrap ever fires, but the decoder applies the
& 0xFFFF reduction anyway for spec shape.

No reference-repo counterpart exists (georust/proj is a coordinate
library); the payload axis comes from the graft cell.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import (
    _DC_LUM,
    _BitReader,
    _BitWriter,
    _build_codes,
    _category,
    _dht_segments,
    _extend,
    _find_marker,
    _huff_table,
    _parse_sos,
    _read_symbol,
    _sos_segment,
)

__all__ = ["encode_jpeg_lossless", "predict"]


def predict(ra, rb, rc, sel: int):
    """The seven Annex H.1 predictors (table H.1), vectorized."""
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    if sel == 7:
        return (ra + rb) >> 1
    raise ValueError(f"invalid lossless predictor {sel} (1..7)")


def encode_jpeg_lossless(rgb: np.ndarray, predictor: int = 4) -> bytes:
    """8-bit HxW[x3] array -> LOSSLESS JFIF bytes (SOF3).  The decoder
    returns the exact input array (pinned: bit-identical roundtrip)."""
    if rgb.ndim == 2:
        rgb = rgb[:, :, None]
    if not (rgb.ndim == 3 and rgb.dtype == np.uint8):
        raise ValueError(f"expected a uint8 HxW or HxWxC array, got shape "
                         f"{rgb.shape} dtype {rgb.dtype}")
    if not 1 <= int(predictor) <= 7:
        raise ValueError(f"invalid lossless predictor {predictor} (1..7)")
    h, w, nc = rgb.shape
    if nc not in (1, 3):
        raise ValueError("1 or 3 components")
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)
    # SOF3: lossless sequential, Huffman
    out += b"\xff\xc3" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for c in range(nc):
        out += struct.pack(">BBB", c + 1, 0x11, 0)  # 1x1 sampling, Tq=0
    out += _dht_segments(((0, 0, _DC_LUM),))
    codes = _build_codes(*_DC_LUM)

    samples = rgb.astype(np.int64)
    for c in range(nc):  # one non-interleaved scan per component
        # lossless scan header: Ss = predictor, Se = 0, Ah = 0, Al = Pt
        out += _sos_segment([(c + 1, 0, 0)], int(predictor), 0, 0, 0)
        x = samples[:, :, c]
        # predictions per H.1.1 boundary rules, fully vectorized
        pred = np.empty_like(x)
        pred[0, 0] = 128  # 2^(P - Pt - 1)
        pred[0, 1:] = x[0, :-1]                     # first line: Ra
        pred[1:, 0] = x[:-1, 0]                     # first column: Rb
        ra = x[1:, :-1]
        rb = x[:-1, 1:]
        rc = x[:-1, :-1]
        pred[1:, 1:] = predict(ra, rb, rc, int(predictor))
        diffs = (x - pred).reshape(-1)
        bw = _BitWriter()
        for d in diffs:
            d = int(d)
            s = _category(d)
            code, ln = codes[s]
            bw.put(code, ln)
            if s:
                bw.put(d if d >= 0 else d + (1 << s) - 1, s)
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def decode_lossless_scan(data: bytes, pos: int, seg: bytes, comps,
                         planes, frame, hmax, vmax, mcux, mcuy, dri: int,
                         huff) -> int:
    """Decode one SOF3 scan into ``planes`` (int64 HxW per component);
    returns the position of the next marker.  The signature is every
    scan decoder's; the MCU grid and restart interval are not read."""
    h, w, _progressive = frame
    if seg and seg[0] != 1:
        raise NotImplementedError("interleaved lossless scans")
    # Ss = predictor selection, Al = point transform
    ((ci, td, _ta),), sel, _se, _ah, pt = _parse_sos(seg, comps)
    if comps[ci]["hi"] != 1 or comps[ci]["vi"] != 1:
        raise NotImplementedError("subsampled lossless components")
    if not 1 <= sel <= 7:
        raise ValueError(f"invalid lossless predictor {sel}")
    if pt != 0:
        raise NotImplementedError("lossless point transform")
    dct = _huff_table(huff, 0, td)
    br = _BitReader(data, pos)
    x = planes[ci]
    for i in range(h):
        for j in range(w):
            s = _read_symbol(br, dct)
            d = _extend(br.bits(s), s) if s else 0
            if i == 0:
                p = 128 if j == 0 else int(x[0, j - 1])
            elif j == 0:
                p = int(x[i - 1, 0])
            else:
                p = int(predict(int(x[i, j - 1]), int(x[i - 1, j]),
                                int(x[i - 1, j - 1]), sel))
            x[i, j] = (p + d) & 0xFFFF  # H.1.2.1 modulo reduction
    return _find_marker(data, br.pos)
