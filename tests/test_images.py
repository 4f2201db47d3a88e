"""Image payload tests: codec, pHash, PSNR invariants, Spark verify."""

import numpy as np
import pytest

from proj_spark.sources.datagen import meta_for, raster_for, splitmix64
from proj_spark.sources.images import (
    decode_image,
    decode_png,
    encode_lossy,
    encode_png,
    phash64,
    psnr,
)


def test_png_roundtrip_exact():
    arr = raster_for(12345, 37, 29)
    assert (decode_png(encode_png(arr)) == arr).all()


def test_lossy_psnr_above_40():
    # the per-row invariant: PSNR >= 40 dB for the lossy path
    # (BASELINE.json input_hint)
    for seed in (1, 99, 12345):
        arr = raster_for(seed, 48, 32)
        dec = decode_image(encode_lossy(arr), "jpeg")
        assert psnr(arr, dec) >= 40.0


def test_phash_deterministic_and_robust():
    arr = raster_for(7, 64, 48)
    h1 = phash64(arr)
    assert h1 == phash64(arr.copy())
    # lossy re-encode keeps the perceptual hash (small pixel deltas)
    dec = decode_image(encode_lossy(arr), "jpeg")
    xor = np.uint64(np.int64(h1) ^ np.int64(phash64(dec)))
    assert bin(int(xor)).count("1") <= 4


def test_stubbed_formats_raise():
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff", "webp")
    with pytest.raises(ValueError):
        decode_image(b"xx", "bmp")


def test_meta_deterministic():
    a = meta_for(np.arange(100, dtype=np.uint64))
    b = meta_for(np.arange(100, dtype=np.uint64))
    assert (a["hash"] == b["hash"]).all()
    assert (a["w"] >= 16).all() and (a["w"] <= 64).all()
    assert (np.abs(a["lat"]) < 85.0).all()


def test_synthesize_and_verify_spark(spark):
    from pyspark.sql import functions as F

    from proj_spark.sources.datagen import synthesize_images
    from proj_spark.sources.images import verify_images

    imgs = synthesize_images(spark, 40, partitions=4).localCheckpoint()
    out = verify_images(imgs).toPandas()
    assert len(out) == 40
    assert out["size_ok"].all()
    assert out["phash_ok"].all()
    assert out["psnr_ok"].all()
    assert out["caption_ok"].all()
    # w/h arriving as bigint pass through as the declared int, and
    # every check still reads them right
    wide = imgs.select(*[F.col(c).cast("bigint") if c in ("w", "h")
                         else F.col(c) for c in imgs.columns])
    assert dict(wide.dtypes)["w"] == "bigint"
    out = verify_images(wide)
    assert out.dtypes == [
        ("image_id", "string"), ("w", "int"), ("h", "int"),
        ("fmt", "string"), ("caption", "string"), ("phash", "bigint"),
        ("size_ok", "boolean"), ("phash_ok", "boolean"),
        ("psnr", "double"), ("psnr_ok", "boolean"),
        ("caption_ok", "boolean")]
    rows = out.collect()
    assert len(rows) == 40
    assert all(r.size_ok and r.phash_ok and r.psnr_ok and r.caption_ok
               for r in rows)
    assert sorted((r.image_id, r.w, r.h) for r in rows) == sorted(
        (r.image_id, r.w, r.h) for r in imgs.collect())


@pytest.fixture
def small_batches(spark):
    """Arrow batches of 2 rows: every partition spans several."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("module, name, kwargs", [
    ("datagen", "synthesize_images", {}),
    ("datagen", "synthesize_jpeg_subsampled", {}),
    ("datagen", "synthesize_jpeg_progressive", {}),
    ("datagen", "synthesize_jpeg_arith", {}),
    ("media", "synthesize_videos", {"n_frames": 3}),
    ("media", "synthesize_audio", {"duration_s": 0.05}),
])
def test_synthesizer_bytes_do_not_depend_on_partitions(
        spark, small_batches, module, name, kwargs):
    """Every range synthesizer's promise: the same rows, bytes and all,
    at any partition count and batch size."""
    import importlib

    synth = getattr(importlib.import_module(f"proj_spark.sources.{module}"),
                    name)
    one, four = (sorted(tuple(r) for r in
                        synth(spark, 10, partitions=p, **kwargs).collect())
                 for p in (1, 4))
    assert len(one) == 10
    assert len({r[0] for r in one}) == 10
    assert one == four


# ---------------------------------------------------------------------------
# real baseline JPEG codec (proj_spark.sources.jpeg)
# ---------------------------------------------------------------------------
def test_jpeg_solid_color_is_near_exact():
    import numpy as np

    from proj_spark.sources.jpeg import decode_jpeg, encode_jpeg

    solid = np.full((16, 24, 3), [200, 30, 90], dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(solid, 90))
    assert dec.shape == solid.shape
    # DC-only blocks: error bounded by color-transform rounding
    assert np.abs(dec.astype(int) - solid.astype(int)).max() <= 1


def test_jpeg_psnr_and_quality_monotonicity():
    import numpy as np

    from proj_spark.sources.datagen import raster_for
    from proj_spark.sources.images import psnr
    from proj_spark.sources.jpeg import decode_jpeg, encode_jpeg

    for seed, (w, h) in ((1, (23, 17)), (7, (16, 16)), (99, (19, 31))):
        arr = raster_for(seed, w, h)  # odd sizes: edge-padding path
        prev = -1.0
        for q in (50, 75, 90, 98):
            data = encode_jpeg(arr, q)
            dec = decode_jpeg(data)
            assert dec.shape == arr.shape
            p = psnr(arr, dec)
            assert p > prev, f"PSNR not increasing with quality at q={q}"
            prev = p
        assert prev >= 40.0  # the q98 lossy invariant


def test_jpeg_decode_image_dispatch_and_errors():
    import numpy as np
    import pytest

    from proj_spark.sources.datagen import raster_for
    from proj_spark.sources.images import decode_image, psnr
    from proj_spark.sources.jpeg import encode_jpeg

    arr = raster_for(3, 24, 16)
    data = encode_jpeg(arr, 98)
    dec = decode_image(data, "jpg")
    assert psnr(arr, dec) >= 40.0
    with pytest.raises(ValueError):
        decode_image(b"\x00\x01" + data[2:], "jpg")  # missing SOI
    # flip SOF0 -> SOF2: since round 5 progressive is SUPPORTED, so
    # this hand-mangled stream (a sequential full-band scan under a
    # progressive frame header) is now a MALFORMED progressive file
    # and must fail loudly, not decode garbage
    prog = bytearray(data)
    idx = bytes(prog).find(b"\xff\xc0")
    prog[idx + 1] = 0xC2
    with pytest.raises(ValueError):
        decode_image(bytes(prog), "jpg")
    with pytest.raises(NotImplementedError):
        decode_image(data, "webp")  # still-stubbed formats


def test_phash64_batch_bit_identical():
    """tile_pyramid hashes a level's tiles in one phash64_batch call;
    the batch path must be BIT-identical to the scalar phash64 (q63's
    tile_phash values and every downstream Hamming join depend on it),
    across square, ragged, and degenerate tile shapes."""
    import numpy as np

    from proj_spark.sources.images import phash64, phash64_batch

    rng = np.random.default_rng(11)
    for h, w in [(16, 16), (16, 7), (5, 16), (5, 7), (1, 1), (1, 7),
                 (2, 3), (32, 32), (64, 48)]:
        arrs = rng.integers(0, 256, size=(13, h, w, 3), dtype=np.uint8)
        got = phash64_batch(arrs)
        want = np.array([phash64(a) for a in arrs], dtype=np.int64)
        assert (got == want).all(), (h, w)
    # smooth gradients (many near-median DCT coefficients — the case
    # that catches ulp drift between batched and scalar float paths)
    yy, xx = np.mgrid[0:24, 0:18]
    base = ((yy * 3 + xx * 5) % 256).astype(np.uint8)
    arrs = np.stack([np.stack([(base + i * 11) % 256] * 3, axis=-1)
                     for i in range(9)]).astype(np.uint8)
    got = phash64_batch(arrs)
    want = np.array([phash64(a) for a in arrs], dtype=np.int64)
    assert (got == want).all()
    assert phash64_batch(np.empty((0, 8, 8, 3), dtype=np.uint8)).shape == (0,)


def test_jpeg_chroma_subsampling_roundtrip():
    """Round-3 verdict ask #2: real-world JPEGs are 4:2:0 — the codec
    must encode and decode subsampled MCU layouts (4:2:0 16x16 MCUs
    with 4 Y blocks, 4:2:2, 4:4:0) at every ragged size, and smooth-
    chroma content must survive at PSNR >= 40 dB."""
    import numpy as np

    import pytest

    from proj_spark.sources.datagen import raster_smooth_for
    from proj_spark.sources.images import psnr
    from proj_spark.sources.jpeg import decode_jpeg, encode_jpeg

    for sub in ("4:2:0", "4:2:2", "4:4:0"):
        for (h, w) in [(48, 64), (17, 23), (16, 16), (9, 7), (1, 1),
                       (33, 31), (8, 40)]:
            arr = raster_smooth_for(h * 1000 + w, w, h)
            dec = decode_jpeg(encode_jpeg(arr, 95, subsampling=sub))
            assert dec.shape == arr.shape, (sub, h, w)
            if h * w >= 64:  # tiny tiles: PSNR is dominated by padding
                assert psnr(arr, dec) >= 40.0, (sub, h, w)
    # subsampling="4:4:4" stays byte-identical to the default call
    arr = raster_smooth_for(77, 40, 24)
    assert encode_jpeg(arr, 90) == encode_jpeg(arr, 90, subsampling="4:4:4")
    with pytest.raises(ValueError):
        encode_jpeg(arr, 90, subsampling="4:1:1?")


def test_jpeg_420_sof_declares_sampling_factors():
    """The 4:2:0 stream must actually BE 4:2:0 on the wire: SOF0
    declares Y at 2x2 and chroma at 1x1, and the entropy segment is
    smaller than the 4:4:4 encoding of the same pixels."""
    from proj_spark.sources.datagen import raster_smooth_for
    from proj_spark.sources.jpeg import encode_jpeg

    arr = raster_smooth_for(5, 64, 48)
    data = encode_jpeg(arr, 90, subsampling="4:2:0")
    i = data.find(b"\xff\xc0")
    assert i > 0
    # after FFC0: len(2) prec(1) h(2) w(2) nc(1), then 3x (id, hv, tq)
    comps = data[i + 10:i + 19]
    assert comps[1] == 0x22  # Y: 2x2
    assert comps[4] == 0x11 and comps[7] == 0x11  # Cb, Cr: 1x1
    assert len(data) < len(encode_jpeg(arr, 90, subsampling="4:4:4"))


def test_jpeg_progressive_decodes_identical_to_baseline():
    """Progressive (SOF2, 10-scan spectral selection + successive
    approximation) carries the SAME quantized coefficients as the
    baseline encode, so decoding both must give byte-identical pixels
    — across subsamplings, odd sizes, smooth and noisy content."""
    import numpy as np

    from proj_spark.sources.datagen import raster_for
    from proj_spark.sources.jpeg import (decode_jpeg, encode_jpeg,
                                         encode_jpeg_progressive)

    rng = np.random.default_rng(41)
    cases = [(24, 16, "4:4:4"), (37, 29, "4:2:0"), (16, 16, "4:2:2"),
             (61, 43, "4:2:0"), (8, 8, "4:4:4"), (33, 17, "4:4:0")]
    for i, (w, h, sub) in enumerate(cases):
        src = raster_for(9000 + i, w, h)
        base = decode_jpeg(encode_jpeg(src, 90, subsampling=sub))
        prog = decode_jpeg(encode_jpeg_progressive(src, 90,
                                                   subsampling=sub))
        assert np.array_equal(base, prog), (w, h, sub)
    noisy = rng.integers(0, 256, (40, 56, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(noisy, 85, "4:2:0"))
    prog = decode_jpeg(encode_jpeg_progressive(noisy, 85, "4:2:0"))
    assert np.array_equal(base, prog)


def test_jpeg_progressive_container_structure():
    """The progressive container is structurally real: SOF2 frame,
    ten SOS scans (the libjpeg-style script), no SOF0; every scan
    header carries a legal Ss/Se/Ah/Al progression."""
    import numpy as np

    from proj_spark.sources.datagen import raster_for
    from proj_spark.sources.jpeg import encode_jpeg_progressive

    data = encode_jpeg_progressive(raster_for(77, 40, 24), 90, "4:2:0")
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    # marker scan (skip entropy segments by hunting FF xx pairs where
    # xx is a known marker byte — sufficient for structure counting)
    n_sos = data.count(b"\xff\xda")
    assert data.count(b"\xff\xc2") == 1  # SOF2
    assert b"\xff\xc0" not in data  # no SOF0 (FF is stuffed in entropy)
    assert n_sos == 10
    # spectral-selection sanity on the first SOS header
    p = data.find(b"\xff\xda")
    ns = data[p + 4]
    ss, se = data[p + 5 + 2 * ns], data[p + 6 + 2 * ns]
    assert (ss, se) == (0, 0) and ns == 3  # DC-first scan leads


def test_jpeg_progressive_psnr_and_rejects_nothing_needed():
    """Progressive decode clears the PSNR>=40 invariant on the smooth
    fixture rasters at quality 90 (same bar as baseline)."""
    from proj_spark.sources.datagen import raster_smooth_for
    from proj_spark.sources.images import psnr
    from proj_spark.sources.jpeg import (decode_jpeg,
                                         encode_jpeg_progressive)

    for seed, w, h, sub in ((5, 33, 21, "4:2:0"), (6, 48, 32, "4:4:4")):
        src = raster_smooth_for(seed, w, h)
        dec = decode_jpeg(encode_jpeg_progressive(src, 90, sub))
        assert psnr(src, dec) >= 40.0


def test_jpeg_restart_markers_roundtrip_and_desync_detection():
    """DRI/RSTn support (round 5): sequential AND progressive encodes
    with restart intervals decode byte-identical to their no-restart
    twins (predictor resets + byte alignment are lossless), and a
    corrupted modulo-8 restart counter is DETECTED, not decoded into
    garbage (T.81 E.1.4)."""
    import numpy as np

    from proj_spark.sources.datagen import raster_for
    from proj_spark.sources.jpeg import (decode_jpeg, encode_jpeg,
                                         encode_jpeg_progressive)

    for i, (w, h, sub, ri) in enumerate([(40, 24, "4:2:0", 1),
                                         (37, 29, "4:2:0", 3),
                                         (24, 16, "4:4:4", 2)]):
        src = raster_for(4200 + i, w, h)
        plain = decode_jpeg(encode_jpeg(src, 90, sub))
        seq = decode_jpeg(encode_jpeg(src, 90, sub, restart_interval=ri))
        prog = decode_jpeg(encode_jpeg_progressive(src, 90, sub,
                                                   restart_interval=ri))
        assert np.array_equal(plain, seq), (w, h, sub, ri)
        assert np.array_equal(plain, prog), (w, h, sub, ri)
    # a stream with restarts actually contains RST markers
    data = encode_jpeg(raster_for(9, 40, 24), 90, "4:2:0",
                       restart_interval=1)
    assert any(bytes([0xFF, 0xD0 + k]) in data for k in range(8))
    # wrong restart counter -> loud failure
    bad = bytearray(data)
    idx = data.find(b"\xff\xd0")
    bad[idx + 1] = 0xD5
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))


def test_jpeg_decoder_bounded_on_malformed_input():
    """Corpus-robustness: truncations and byte flips over sequential
    (with restarts) and progressive streams must always terminate
    quickly with either a clean exception or a well-formed uint8
    HxWx3 array — never a hang, never a malformed result object."""
    import numpy as np

    from proj_spark.sources.datagen import raster_for
    from proj_spark.sources.jpeg import (decode_jpeg, encode_jpeg,
                                         encode_jpeg_progressive)

    src = raster_for(11, 33, 21)
    streams = (encode_jpeg(src, 90, "4:2:0", restart_interval=2),
               encode_jpeg_progressive(src, 90, "4:2:0"))
    rng = np.random.default_rng(3)
    for data in streams:
        for cut in range(4, len(data), 23):
            try:
                out = decode_jpeg(data[:cut])
            except Exception:
                continue
            assert out.dtype == np.uint8 and out.ndim == 3
        for _ in range(150):
            b = bytearray(data)
            i = int(rng.integers(2, len(b)))
            b[i] = int(rng.integers(0, 256))
            try:
                out = decode_jpeg(bytes(b))
            except Exception:
                continue
            assert out.dtype == np.uint8 and out.ndim == 3
            assert out.shape[2] == 3
