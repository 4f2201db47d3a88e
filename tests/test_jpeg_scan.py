"""The shared JPEG scan layer: the T.81 Annex A.2 block walker against
the standard's definition, the one SOS parser across every frame type,
and the encoders' input validation."""

import itertools

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
