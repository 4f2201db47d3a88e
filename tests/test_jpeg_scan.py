"""The shared JPEG scan layer: the T.81 Annex A.2 block walker against
the standard's definition, the one SOS parser across every frame type,
the one frame decode (multi-scan and one-component sequential frames,
malformed segments) and the encoders' input validation."""

import itertools
import os
import sys

import numpy as np
import pytest

from proj_spark.sources.images import encode_png
from proj_spark.sources.jpeg import (
    _SUBSAMPLING,
    _mcu_grid,
    _scan_mcus,
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)
from proj_spark.sources.jpeg_arith import (
    encode_jpeg_arithmetic,
    encode_jpeg_arithmetic_progressive,
)
from proj_spark.sources.jpeg_lossless import encode_jpeg_lossless

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from codec_parity import gray_raster, scan_per_component  # noqa: E402


def _a2_spec(scomps, h, w, hmax, vmax, mcux, mcuy, ri):
    """T.81 A.2 from its definitions, by sorting rather than walking:
    the (rst, blocks) list the walker must yield."""
    if len(scomps) == 1:
        # A.2.2: one block per MCU, over the blocks that hold samples of
        # the component (A.1.1: it is ceil(X*Hi/Hmax) x ceil(Y*Vi/Vmax))
        c, hi, vi = scomps[0]
        xc, yc = -(-w * hi // hmax), -(-h * vi // vmax)
        mcus = [[blk] for _, blk in sorted(
            ((row, col), (c, row * mcux * hi + col))
            for row in range(mcuy * vi) for col in range(mcux * hi)
            if row * 8 < yc and col * 8 < xc)]
    else:
        # A.2.3: MCUs left to right, top to bottom; inside one, the
        # components in scan order, each its vi x hi blocks row-major
        keyed = sorted(
            ((row // vi, col // hi), pos, row % vi, col % hi,
             (c, row * mcux * hi + col))
            for pos, (c, hi, vi) in enumerate(scomps)
            for row in range(mcuy * vi) for col in range(mcux * hi))
        mcus = [[k[-1] for k in grp]
                for _, grp in itertools.groupby(keyed, key=lambda k: k[0])]
    out = []
    n_markers = 0
    for m, blocks in enumerate(mcus):
        rst = -1
        if ri and m and m % ri == 0:
            rst = n_markers % 8
            n_markers += 1
        out.append((rst, blocks))
    return out


_SIZES = [(1, 1), (7, 9), (17, 44), (37, 29), (40, 24), (33, 21), (8, 8)]
_SCANS = [(0,), (1,), (2,), (0, 1, 2), (1, 2)]


@pytest.mark.parametrize("subsampling", sorted(_SUBSAMPLING))
def test_scan_walk_matches_t81_a2(subsampling):
    samp = _SUBSAMPLING[subsampling]
    for (h, w), comps, ri in itertools.product(_SIZES, _SCANS, (0, 1, 3)):
        hmax, vmax, mcux, mcuy = _mcu_grid(samp, h, w)
        scomps = [(c, *samp[c]) for c in comps]
        got = [(rst, list(blocks)) for rst, blocks in
               _scan_mcus(scomps, mcux, mcuy, h, w, hmax, vmax, ri)]
        want = _a2_spec(scomps, h, w, hmax, vmax, mcux, mcuy, ri)
        assert got == want, (subsampling, h, w, comps, ri)


def test_scan_walk_restart_numbers_wrap_modulo_8():
    # 20 one-block MCUs at interval 1: RST0..RST7, RST0.. before MCU 1..19
    rsts = [rst for rst, _ in _scan_mcus([(0, 1, 1)], 20, 1, 8, 160, 1, 1, 1)]
    assert rsts == [-1] + [m % 8 for m in range(19)]
    rsts = [rst for rst, _ in _scan_mcus([(0, 1, 1)], 20, 1, 8, 160, 1, 1, 3)]
    assert [(m, r) for m, r in enumerate(rsts) if r >= 0] == [
        (3, 0), (6, 1), (9, 2), (12, 3), (15, 4), (18, 5)]


_IMG = np.random.default_rng(5).integers(0, 256, (19, 27, 3)).astype(np.uint8)
_ENCODERS = {
    "SOF0": lambda a: encode_jpeg(a, 90, "4:2:0"),
    "SOF2": lambda a: encode_jpeg_progressive(a, 90, "4:2:0"),
    "SOF9": lambda a: encode_jpeg_arithmetic(a, 90, "4:2:0"),
    "SOF10": lambda a: encode_jpeg_arithmetic_progressive(a, 90, "4:2:0"),
    "SOF3": lambda a: encode_jpeg_lossless(a, 4),
}


@pytest.mark.parametrize("frame", sorted(_ENCODERS))
def test_sos_naming_unknown_component_raises_value_error(frame):
    data = bytearray(_ENCODERS[frame](_IMG))
    sos = data.find(b"\xff\xda")
    assert data[sos + 5] == 1  # FF DA, Ls, Ns, then the first Cs
    data[sos + 5] = 9
    with pytest.raises(ValueError, match="SOS names unknown component 9"):
        decode_jpeg(bytes(data))


_ALL_ENCODERS = {
    "png": encode_png,
    "jpeg": encode_jpeg,
    "jpeg_progressive": encode_jpeg_progressive,
    "jpeg_arithmetic": encode_jpeg_arithmetic,
    "jpeg_arithmetic_progressive": encode_jpeg_arithmetic_progressive,
    "jpeg_lossless": encode_jpeg_lossless,
}
_BAD_INPUTS = (
    [(name, "float64") for name in sorted(_ALL_ENCODERS)]
    + [(name, "rgba") for name in sorted(_ALL_ENCODERS)
       if name != "jpeg_lossless"])


@pytest.mark.parametrize("name, bad", _BAD_INPUTS)
def test_encoders_reject_bad_input_with_value_error(name, bad):
    # input checks must survive ``python -O``, which strips asserts
    arr = (_IMG.astype(np.float64) if bad == "float64"
           else np.concatenate([_IMG, _IMG[..., :1]], axis=2))
    with pytest.raises(ValueError, match="shape"):
        _ALL_ENCODERS[name](arr)


_INTERLEAVED = {"SOF0": encode_jpeg, "SOF9": encode_jpeg_arithmetic}


@pytest.mark.parametrize("subsampling", sorted(_SUBSAMPLING))
@pytest.mark.parametrize("frame", sorted(_INTERLEAVED))
def test_scan_per_component_decodes_like_interleaved(frame, subsampling):
    # T.81 lets a sequential frame code its components in separate
    # scans (A.2.2); every scan fills the frame's one coefficient buffer
    for ri in (0, 1, 3):
        split = scan_per_component(_IMG, 90, subsampling, ri,
                                   arithmetic=frame == "SOF9")
        assert split.count(b"\xff\xda") == 3
        want = decode_jpeg(_INTERLEAVED[frame](_IMG, 90, subsampling, ri))
        assert np.array_equal(decode_jpeg(split), want), ri


@pytest.mark.parametrize("subsampling", sorted(_SUBSAMPLING))
@pytest.mark.parametrize("frame", sorted(_INTERLEAVED))
def test_one_component_frame_decodes_to_gray_rgb(frame, subsampling):
    gray = gray_raster(_IMG)
    for ri in (0, 1, 3):
        data = scan_per_component(gray, 90, subsampling, ri,
                                  arithmetic=frame == "SOF9", gray=True)
        out = decode_jpeg(data)
        assert out.shape == _IMG.shape and out.dtype == np.uint8
        assert np.array_equal(out[..., 1], out[..., 0])
        assert np.array_equal(out[..., 2], out[..., 0])
        # Y replicated: the interleaved encode of the gray raster has
        # all-zero chroma, so it decodes to the same pixels
        assert np.array_equal(out, decode_jpeg(encode_jpeg(gray, 90,
                                                           subsampling, ri)))
        err = out[..., 0].astype(np.int64) - gray[..., 0]
        assert np.abs(err).mean() < 8, ri


def _segment(data: bytes, marker: int, nth: int = 0):
    """(start, end) of the nth marker segment with this marker code."""
    pos = 2
    while True:
        code = data[pos + 1]
        end = pos + 2 + int.from_bytes(data[pos + 2:pos + 4], "big")
        if code == marker:
            if nth == 0:
                return pos, end
            nth -= 1
        pos = end
        if code == 0xDA:  # skip the scan's entropy data
            while not (data[pos] == 0xFF and data[pos + 1] not in (
                    0x00, *range(0xD0, 0xD8))):
                pos += 1


def _with_payload(data: bytes, marker: int, edit, nth: int = 0) -> bytes:
    """``data`` with the nth ``marker`` segment's payload replaced by
    ``edit(payload)`` and its length field rewritten to match."""
    a, b = _segment(data, marker, nth)
    body = bytes(edit(bytearray(data[a + 4:b])))
    return (data[:a + 2] + (len(body) + 2).to_bytes(2, "big") + body
            + data[b:])


def _set(i: int, v: int):
    def edit(p):
        p[i] = v
        return p
    return edit


_BASE = encode_jpeg(_IMG, 90, "4:2:0")
_PROG = encode_jpeg_progressive(_IMG, 90, "4:2:0")
_ARITH = encode_jpeg_arithmetic(_IMG)
_MALFORMED = {  # case: (stream, the ValueError's message)
    "truncated_dht": (_with_payload(_BASE, 0xC4, lambda p: p[:20]),
                      "truncated DHT"),
    "truncated_dqt": (_with_payload(_BASE, 0xDB, lambda p: p[:30]),
                      "truncated DQT"),
    "truncated_sof": (_with_payload(_BASE, 0xC0, lambda p: p[:10]),
                      "SOF segment of 10 bytes for 3 components"),
    "truncated_dac": (_with_payload(_ARITH, 0xCC, lambda p: p[:3]),
                      "truncated DAC"),
    "truncated_dri": (_with_payload(encode_jpeg(_IMG, 90, "4:2:0", 2), 0xDD,
                                    lambda p: p[:1]), "bad DRI"),
    "empty_sos": (_with_payload(_BASE, 0xDA, lambda p: p[:0]),
                  "bad SOS segment"),
    "segment_overruns_stream": (_BASE[:_segment(_BASE, 0xC4)[0] + 30],
                                "overruns the stream"),
    "cut_after_marker": (_BASE[:_segment(_BASE, 0xC4)[0] + 2],
                         "overruns the stream"),
    # SOS Td of Y -> 2: no DC table 2 was defined
    "undefined_huffman_table": (_with_payload(_BASE, 0xDA, _set(2, 0x20)),
                                "undefined Huffman table class 0 id 2"),
    # SOF Tq of Y -> 2: no quantization table 2 was defined
    "undefined_quantization_table": (
        _with_payload(_BASE, 0xC0, _set(8, 2)),
        "undefined quantization table 2"),
    # conditioning table ids are 0..3 (T.81 B.2.3)
    "undefined_conditioning_table": (
        _with_payload(_ARITH, 0xDA, _set(2, 0x50)),
        "invalid conditioning table ids"),
    # the last progressive scan is Y's AC refinement, Ss=1 Se=63
    "progressive_se_64": (_with_payload(_PROG, 0xDA, _set(4, 64), nth=9),
                          "Ss=1 Se=64"),
    # the second one is Y's first AC band, Ss=1 Se=5
    "progressive_ss_above_se": (
        _with_payload(_PROG, 0xDA, _set(3, 9), nth=1), "Ss=9 Se=5"),
    "component_twice_in_scan": (_with_payload(_BASE, 0xDA, _set(3, 1)),
                                "names component 1 twice"),
}


@pytest.mark.parametrize("case", sorted(_MALFORMED))
def test_malformed_segments_raise_value_error(case):
    data, message = _MALFORMED[case]
    with pytest.raises(ValueError, match=message):
        decode_jpeg(data)
