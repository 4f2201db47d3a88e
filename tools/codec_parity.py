"""Codec parity between two trees: every encoder's output, its decode,
and the outcome of a seeded corruption corpus, hashed per input.

Run ``dump`` once per tree (the tree on ``PYTHONPATH`` is the one
measured), then ``diff`` the two files:

    PYTHONPATH=<parent tree> python tools/codec_parity.py dump parent.json
    PYTHONPATH=<change tree> python tools/codec_parity.py dump change.json
    python tools/codec_parity.py diff parent.json change.json

Inputs: ``encode_jpeg``, ``encode_jpeg_progressive`` and
``encode_jpeg_arithmetic`` at six sizes (1x1 to 64x48, odd ones
included), the four subsamplings, qualities 50/90/98 and restart
intervals 0/1/3; ``encode_jpeg_arithmetic_progressive`` over the sizes
and subsamplings; ``encode_jpeg_lossless`` with predictors 1-7, RGB and
gray; and, from :func:`scan_per_component`, SOF0 and SOF9 streams
written as one scan per component ("split/base", "split/arith"; their
twins are the "base" and "arith" streams at q90) and one-component
streams of a gray raster ("gray/base", "gray/arith"; twin: its
interleaved encode, "gray/interleaved"), at every size, subsampling and
restart interval.  Each stream gets 3 random byte flips, 3 flips inside marker
segments, its first SOS component id set to 9, 3 random truncations and
2 truncations inside an SOS header; the outcome of a decode is the hash
of the decoded array or the exception type.  ``diff`` prints how many
outcomes changed, grouped by (parent outcome, change outcome) with every
hash shown as ``array``, and per tree how many scan-per-component
streams decode to their twin's hash.  The
address space is capped at 4 GiB, so a corrupted frame size fails with
``MemoryError`` instead of exhausting the host.
"""

from __future__ import annotations

import collections
import hashlib
import json
import resource
import struct
import sys

import numpy as np

SIZES = [(1, 1), (7, 9), (17, 44), (37, 29), (40, 24), (64, 48)]
SUBSAMPLINGS = ["4:4:4", "4:2:2", "4:4:0", "4:2:0"]


def _raster(h, w, seed):
    rng = np.random.default_rng(seed)
    y, x = np.mgrid[0:h, 0:w]
    base = np.stack([x * 255 // max(w - 1, 1), y * 255 // max(h - 1, 1),
                     (x + y) * 7 % 256], axis=-1)
    noise = rng.integers(-20, 21, size=(h, w, 3))
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def _hash(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()[:16]


def _outcome(fn) -> str:
    try:
        r = fn()
    except Exception as e:  # noqa: BLE001  (the type IS the outcome)
        return "EXC:" + type(e).__name__
    if isinstance(r, bytes):
        return _hash(r)
    return _hash(repr(r.shape).encode() + r.tobytes())


def _segments(d: bytes):
    """Byte positions inside marker segments (not entropy data) and the
    (start, end) of every SOS header's body."""
    hdr, sos = [], []
    pos, n = 2, len(d)
    while pos + 3 < n and d[pos] == 0xFF and d[pos + 1] != 0xD9:
        ln = (d[pos + 2] << 8) | d[pos + 3]
        hdr.extend(range(pos, min(pos + 2 + ln, n)))
        if d[pos + 1] != 0xDA:
            pos += 2 + ln
            continue
        sos.append((pos + 4, pos + 2 + ln))
        pos += 2 + ln
        while pos + 1 < n and not (d[pos] == 0xFF and d[pos + 1] != 0
                                   and not 0xD0 <= d[pos + 1] <= 0xD7):
            pos += 1
    return hdr, sos


def _streams():
    from proj_spark.sources.jpeg import encode_jpeg, encode_jpeg_progressive
    from proj_spark.sources.jpeg_arith import (
        encode_jpeg_arithmetic, encode_jpeg_arithmetic_progressive)
    from proj_spark.sources.jpeg_lossless import encode_jpeg_lossless

    dct = (("base", encode_jpeg), ("prog", encode_jpeg_progressive),
           ("arith", encode_jpeg_arithmetic))
    for h, w in SIZES:
        img = _raster(h, w, h * 100 + w)
        for sub in SUBSAMPLINGS:
            for q in (50, 90, 98):
                for ri in (0, 1, 3):
                    for name, enc in dct:
                        yield (f"{name}/{h}x{w}/{sub}/q{q}/ri{ri}",
                               lambda i=img, e=enc, s=sub, q=q, r=ri: e(
                                   i, quality=q, subsampling=s,
                                   restart_interval=r))
            yield (f"aprog/{h}x{w}/{sub}",
                   lambda i=img, s=sub: encode_jpeg_arithmetic_progressive(
                       i, subsampling=s))
        for p in range(1, 8):
            yield (f"lossless/{h}x{w}/p{p}/rgb",
                   lambda i=img, p=p: encode_jpeg_lossless(i, predictor=p))
            yield (f"lossless/{h}x{w}/p{p}/gray",
                   lambda i=img, p=p: encode_jpeg_lossless(i[:, :, 0],
                                                           predictor=p))


def gray_raster(img):
    """``img``'s first channel as an RGB raster with R = G = B, whose
    interleaved encode decodes to the Y plane replicated to RGB."""
    return np.repeat(img[:, :, :1], 3, axis=2)


def scan_per_component(rgb, quality=90, subsampling="4:4:4",
                       restart_interval=0, arithmetic=False, gray=False):
    """A sequential stream of the DCT encoders' coefficients written as
    one scan per component (T.81 A.2.2), in component order: SOF0 with
    the Annex K Huffman tables, or SOF9 with the default conditioning
    when ``arithmetic``.  ``gray`` writes the Y component alone, in a
    one-component frame.  Decoding a stream must give the pixels of the
    interleaved encoder's stream of the same raster; for ``gray``, of
    :func:`gray_raster` of it."""
    from proj_spark.sources.jpeg import (
        _ANNEX_K_DHT, _ENC_AC, _ENC_DC, _BitWriter, _dct_scan, _dht_segments,
        _dri_segment, _encode_block, _jfif_dqt_headers, _quantized_coeffs,
        _scan_mcus, _sof_segment, _sos_segment)
    from proj_spark.sources.jpeg_arith import (
        _DAC_SEGMENT, _DEFAULT_KX, _DEFAULT_L, _DEFAULT_U, _ArithEncoder,
        _enc_ac_first_arith, _enc_dc, _Stats)

    comp_zz, qt, samp, hmax, vmax, mcux, mcuy, h, w = \
        _quantized_coeffs(rgb, quality, subsampling)
    ri = int(restart_interval)
    marker = 0xC9 if arithmetic else 0xC0
    out = bytearray(_jfif_dqt_headers(qt))
    if gray:
        hi, vi = samp[0]
        out += bytes([0xFF, marker]) + struct.pack(
            ">HBHHBBBB", 11, 8, h, w, 1, 1, (hi << 4) | vi, 0)
    else:
        out += _sof_segment(marker, h, w, samp)
    out += _DAC_SEGMENT if arithmetic else _dht_segments(_ANNEX_K_DHT)
    out += _dri_segment(ri)
    for c in (0,) if gray else (0, 1, 2):
        sel, scomps = _dct_scan((c,), samp)
        out += _sos_segment(sel, 0, 63, 0, 0)
        t = min(c, 1)
        coder = _ArithEncoder() if arithmetic else _BitWriter()
        stats, pred = _Stats(2, 2, 3), 0
        for rst, blocks in _scan_mcus(scomps, mcux, mcuy, h, w, hmax, vmax,
                                      ri):
            if rst >= 0 and arithmetic:
                coder.flush()
                out += coder.out + bytes([0xFF, 0xD0 + rst])
                coder = _ArithEncoder()
                stats.reset()
            elif rst >= 0:
                coder.restart(rst)
                pred = 0
            for _c, b in blocks:
                zz = comp_zz[c][b]
                if arithmetic:
                    _enc_dc(coder, stats, c, t, int(zz[0]),
                            (_DEFAULT_L, _DEFAULT_U))
                    _enc_ac_first_arith(coder, stats, t, zz, 1, 63, 0,
                                        _DEFAULT_KX)
                else:
                    pred = _encode_block(coder, zz, pred, _ENC_DC[t],
                                         _ENC_AC[t])
        coder.flush()
        out += coder.out
    out += b"\xff\xd9"
    return bytes(out)


def _scan_per_component_streams():
    from proj_spark.sources.jpeg import encode_jpeg

    for h, w in SIZES:
        img = _raster(h, w, h * 100 + w)
        gray = gray_raster(img)
        for sub in SUBSAMPLINGS:
            for ri in (0, 1, 3):
                tail = f"{h}x{w}/{sub}/q90/ri{ri}"
                yield (f"gray/interleaved/{tail}",
                       lambda g=gray, s=sub, r=ri: encode_jpeg(g, 90, s, r))
                for name, arith in (("base", False), ("arith", True)):
                    yield (f"split/{name}/{tail}",
                           lambda i=img, s=sub, r=ri, a=arith:
                           scan_per_component(i, 90, s, r, arithmetic=a))
                    yield (f"gray/{name}/{tail}",
                           lambda g=gray, s=sub, r=ri, a=arith:
                           scan_per_component(g, 90, s, r, arithmetic=a,
                                              gray=True))


def _twin(key: str):
    """The interleaved stream a scan-per-component stream must decode
    like, or None."""
    group, name, tail = key.split("/", 2)
    if group == "split":
        return f"{name}/{tail}"
    if group == "gray" and name != "interleaved":
        return f"gray/interleaved/{tail}"
    return None


def _corruptions(s: bytes, rng):
    hdr, sos = _segments(s)
    n = len(s)
    for _ in range(3):
        yield "flip", int(rng.integers(0, n)), int(rng.integers(1, 256))
    for _ in range(3):
        yield ("flip", int(hdr[rng.integers(0, len(hdr))]),
               int(rng.integers(1, 256)))
    yield "set", sos[0][0] + 1, 9  # first SOS component id -> unknown
    for _ in range(3):
        yield "trunc", int(rng.integers(1, n)), 0
    for _ in range(2):
        a, b = sos[rng.integers(0, len(sos))]
        yield "trunc", int(rng.integers(a, b)), 0


def dump(path: str) -> None:
    from proj_spark.sources.jpeg import decode_jpeg

    resource.setrlimit(resource.RLIMIT_AS, (4 << 30, 4 << 30))
    enc, dec, fuzz = {}, {}, {}
    corpus = []  # the scan-per-component streams after the others
    for gen in (_streams, _scan_per_component_streams):
        streams = {}
        for key, build in gen():
            enc[key] = _outcome(build)
            if not enc[key].startswith("EXC:"):
                streams[key] = build()
                dec[key] = _outcome(lambda s=streams[key]: decode_jpeg(s))
        corpus += sorted(streams.items())
    for i, (key, s) in enumerate(corpus):
        for j, (kind, p, v) in enumerate(
                _corruptions(s, np.random.default_rng(1000 + i))):
            b = bytearray(s)
            if kind == "flip":
                b[p] ^= v
            elif kind == "set":
                b[p] = v
            else:
                del b[p:]
            fuzz[f"{key}#{j}:{kind}@{p}"] = _outcome(
                lambda b=bytes(b): decode_jpeg(b))
    with open(path, "w") as f:
        json.dump({"enc": enc, "dec": dec, "fuzz": fuzz}, f, indent=0,
                  sort_keys=True)
    print(f"{len(enc)} encodes, {len(dec)} decodes, {len(fuzz)} fuzz inputs")


def _class(outcome: str) -> str:
    return outcome if outcome.startswith("EXC:") else "array"


def diff(path_a: str, path_b: str) -> int:
    with open(path_a) as fa, open(path_b) as fb:
        a, b = json.load(fa), json.load(fb)
    changed = 0
    for part in ("enc", "dec", "fuzz"):
        pairs = [(v, b[part].get(k, "missing")) for k, v in a[part].items()]
        pairs += [("missing", v) for k, v in b[part].items()
                  if k not in a[part]]
        moved = collections.Counter(
            (_class(va), _class(vb)) for va, vb in pairs if va != vb)
        n = sum(moved.values())
        changed += n
        print(f"{part}: {len(a[part])} inputs, {n} changed")
        for (va, vb), c in moved.most_common():
            print(f"  {va} -> {vb}: {c}")
    for name, d in (("parent", a), ("change", b)):
        twins = {k: _twin(k) for k in d["dec"] if k.startswith(("split/",
                                                                "gray/"))}
        twins = {k: t for k, t in twins.items() if t}
        same = sum(d["dec"][k] == d["dec"].get(t) for k, t in twins.items())
        print(f"{name}: {same} of {len(twins)} scan-per-component streams "
              f"decode to their twin's hash")
    return changed


if __name__ == "__main__":
    if sys.argv[1:2] == ["dump"] and len(sys.argv) == 3:
        dump(sys.argv[2])
    elif sys.argv[1:2] == ["diff"] and len(sys.argv) == 4:
        diff(sys.argv[2], sys.argv[3])
    else:
        sys.exit(__doc__)
