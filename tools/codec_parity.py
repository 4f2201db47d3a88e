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
gray.  Each stream gets 3 random byte flips, 3 flips inside marker
segments, its first SOS component id set to 9, 3 random truncations and
2 truncations inside an SOS header; the outcome of a decode is the hash
of the decoded array or the exception type.  ``diff`` prints how many
outcomes changed, grouped by (parent outcome, change outcome).  The
address space is capped at 4 GiB, so a corrupted frame size fails with
``MemoryError`` instead of exhausting the host.
"""

from __future__ import annotations

import collections
import hashlib
import json
import resource
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
                               lambda e=enc, s=sub, q=q, r=ri: e(
                                   img, quality=q, subsampling=s,
                                   restart_interval=r))
            yield (f"aprog/{h}x{w}/{sub}",
                   lambda s=sub: encode_jpeg_arithmetic_progressive(
                       img, subsampling=s))
        for p in range(1, 8):
            yield (f"lossless/{h}x{w}/p{p}/rgb",
                   lambda p=p: encode_jpeg_lossless(img, predictor=p))
            yield (f"lossless/{h}x{w}/p{p}/gray",
                   lambda p=p: encode_jpeg_lossless(img[:, :, 0], predictor=p))


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
    streams = {}
    for key, build in _streams():
        enc[key] = _outcome(build)
        if not enc[key].startswith("EXC:"):
            streams[key] = build()
            dec[key] = _outcome(lambda s=streams[key]: decode_jpeg(s))
    for i, (key, s) in enumerate(sorted(streams.items())):
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


def diff(path_a: str, path_b: str) -> int:
    with open(path_a) as fa, open(path_b) as fb:
        a, b = json.load(fa), json.load(fb)
    changed = 0
    for part in ("enc", "dec", "fuzz"):
        moved = collections.Counter(
            (v, b[part].get(k, "missing")) for k, v in a[part].items()
            if b[part].get(k, "missing") != v)
        moved.update(("missing", v) for k, v in b[part].items()
                     if k not in a[part])
        n = sum(moved.values())
        changed += n
        print(f"{part}: {len(a[part])} inputs, {n} changed")
        for (va, vb), c in moved.most_common():
            print(f"  {va} -> {vb}: {c}")
    return changed


if __name__ == "__main__":
    if sys.argv[1:2] == ["dump"] and len(sys.argv) == 3:
        dump(sys.argv[2])
    elif sys.argv[1:2] == ["diff"] and len(sys.argv) == 4:
        diff(sys.argv[2], sys.argv[3])
    else:
        sys.exit(__doc__)
